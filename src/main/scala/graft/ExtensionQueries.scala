package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Canonical, ContaminationParams, Dedup, IvfPqParams, LloydParams,
  LshParams, Materialize, Multimodal, Sampling, Similarity, SubstringParams, Surface,
  TextAnalysis}
import graft.sources.Tables

/** LLM-training-data pipeline extensions (SURVEY.md §2.B last row): dedup
  * family, similarity search, text analysis, multimodal plumbing. Each is an
  * oracle-checked `queries()` entry over the `documents` / `embeddings`
  * fixtures.
  */
object ExtensionQueries {

  private def docs(s: SparkSession, dir: String) = Tables.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.table(s, dir, "embeddings")

  /** Ordered LCG digest of a file tree (name-sorted, position-sensitive;
    * mtime+size+name per node): keys the /tmp cache dirs of the stored-index
    * queries so a regenerated fixture can never silently serve a stale
    * store. XOR folding would be self-cancelling (two files swapping mtimes
    * erase each other), hence the LCG chain.
    */
  private def treeFingerprint(f: java.io.File): Long = {
    val self = f.lastModified * 1000003L + f.length * 31L + f.getName.hashCode
    val children = Option(f.listFiles()).map(_.sortBy(_.getName)).getOrElse(Array.empty)
    children.foldLeft(self)((acc, c) =>
      acc * 6364136223846793005L + treeFingerprint(c) + 1442695040888963407L)
  }

  /** Hex fingerprint of one fixture table's file tree. */
  private def fingerprint(dir: String, table: String): String =
    java.lang.Long.toHexString(treeFingerprint(new java.io.File(s"$dir/$table.parquet")))

  /** /tmp dir of a stored index built once per fixture: the path embeds the
    * source table's fingerprint and the store-format version, so a
    * regenerated fixture or a changed layout never serves a stale store.
    */
  private def storeDir(kind: String, dir: String, table: String): String =
    s"/tmp/graft_${kind}_v1_${dir.replaceAll("[^A-Za-z0-9]", "_")}_${fingerprint(dir, table)}"

  /** The session-shared surface registry: build-once/serve-many
    * intermediates that several declared queries consume (LSH pairs,
    * substring quads, contamination report, Lloyd centroids, IVF+PQ books).
    * One session running several consumers builds each surface ONCE and
    * every consumer serves from it; each consumer checks the surface's
    * build parameters against its own ([[Surface.servedTo]]).
    *
    * Keyed by (applicationId, fixture dir, fingerprint of the table the
    * surface is built from, input-slice tag, build parameters): a new
    * session, a regenerated fixture, another slice or other parameters can
    * never be served a stale or foreign surface. Values are bounded by
    * construction (pair lists, verbatim-dup quads, contaminated-doc
    * reports, index metadata) and held for the session's lifetime. A key's
    * parameter class fixes its value type, which makes the cast sound.
    */
  private val surfaces =
    new scala.collection.concurrent.TrieMap[(String, String, String, String, Any), Surface[_, _]]()
  private def shared[P, V](s: SparkSession, dir: String, table: String, params: P,
                           slice: String = "all")(build: P => V): Surface[P, V] =
    surfaces.getOrElseUpdate(
      (s.sparkContext.applicationId, dir, fingerprint(dir, table), slice, params),
      Surface.build(params)(build)).asInstanceOf[Surface[P, V]]

  /** MinHash-LSH pairs at [[Canonical.lsh]]: the five cluster-family
    * queries and pipeline_e2e's dedup stage.
    */
  private def lshPairs(s: SparkSession, dir: String): Surface[LshParams, DataFrame] =
    shared(s, dir, "documents", Canonical.lsh)(p =>
      Materialize.barrier(
        Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text",
          k = p.k, numPerm = p.numPerm, bands = p.bands, threshold = p.threshold), None))

  /** String-verified (doc_a, doc_b, pa, pb) substring quads at
    * [[Canonical.substring]] — ~70 % of both dedup_exact_substring and
    * dedup_substring_trim.
    */
  private def substringQuads(s: SparkSession, dir: String): Surface[SubstringParams, DataFrame] =
    shared(s, dir, "documents", Canonical.substring)(p =>
      Dedup.substringMatchedQuads(docs(s, dir), "doc_id", "text", n = p.n, maxDf = p.maxDf))

  /** Exact-substring contamination report of the raw corpus vs the
    * [[Canonical.quotingHoldout]]: decontaminate_exact's output, and the
    * core of decontaminate_apply and pipeline_e2e's S3 flags.
    */
  private def contamination(s: SparkSession, dir: String): Surface[ContaminationParams, DataFrame] =
    shared(s, dir, "documents", Canonical.contamination) { p =>
      val d = docs(s, dir)
      Materialize.barrier(
        Dedup.exactSubstringContamination(d, Canonical.quotingHoldout(d), "doc_id", "text", n = p.n),
        None)
    }

  /** Deterministic Lloyd centroids over `slice` of the embeddings (the
    * collected nlist-row index metadata); `e` must be that slice.
    */
  private def lloydCents(s: SparkSession, dir: String, slice: String, e: DataFrame,
                         params: LloydParams): Surface[LloydParams, Seq[(Long, Array[Double])]] =
    shared(s, dir, "embeddings", params, slice)(p =>
      Similarity.lloydCentroidsLocalValues(e, p.nlist, p.iters))

  /** The cluster family's index: all embeddings at [[Canonical.clusterLloyd]]. */
  private def clusterCents(s: SparkSession, dir: String) =
    lloydCents(s, dir, "all", emb(s, dir), Canonical.clusterLloyd)

  /** Jointly trained IVF centroids + PQ codebooks for the one-shot IVFADC query. */
  private def ivfPqBooks(s: SparkSession, dir: String): Surface[IvfPqParams, Similarity.IvfPqBooks] =
    shared(s, dir, "embeddings", Canonical.ivfPq)(p => Similarity.trainIvfPq(emb(s, dir), p))

  /** The stored corpus of the incremental-dedup queries (every doc but
    * each 10th), MinHash-indexed once per fixture at [[Canonical.lsh]].
    */
  private def incrementalStore(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    val store = storeDir("mh_index", dir, "documents")
    val p = Canonical.lsh
    if (!new java.io.File(s"$store/sets/_SUCCESS").exists())
      Dedup.minhashIndexStore(docs(s, dir).filter(col("doc_id") % 10 =!= 0), store,
        "doc_id", "text", p.k, p.numPerm, p.bands)
    store
  }

  /** Every 41st vector reappears as a holdout item with ONE dimension zeroed
    * (selected by vec_id, so both engines mutate identically) — a
    * "paraphrase" that keeps cosine near 1 while sharing no exact value
    * pattern.
    */
  private def paraphrasedVectors(vectors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = size(col("embedding"))
    val k = (col("vec_id") % d.cast("long")).cast("int") + 1 // 1-based dim
    vectors.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id"),
        concat(
          slice(col("embedding"), lit(1), k - 1),
          array(lit(0.0f)),
          slice(col("embedding"), k + 1, d - k)).as("embedding"))
  }

  /** Every holdout doc reappears with ~10% of its token VALUES rewritten —
    * tokens are selected by their own md5-derived hash, so both engines
    * mutate identically with no positional lambda. Edits break the verbatim
    * 13-gram runs decontaminate_exact needs, but most of the 3-shingle set
    * survives, which is exactly what the MinHash Jaccard measures.
    */
  private def rewrittenHoldout(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val mutated = transform(graft.functions.Text.tokens(col("text")),
      t => when(graft.functions.Hashing.hash60(t) % 10 === 0, lit("xqz")).otherwise(t))
    d.filter(Canonical.isHoldout(col("doc_id")))
      .select(col("doc_id"), array_join(mutated, " ").as("text"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactCanonical(docs(s, dir), "doc_id", "text")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", k = 3, threshold = 0.5)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      // canonical-parameter pair surface; shared (build-once/serve-many)
      // with the four cluster-family consumers below via lshPairs
      lshPairs(s, dir).value),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(docs(s, dir), "doc_id", "text", maxDist = 3)),
    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(emb(s, dir), threshold = 0.45)),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.embeddingLshPairs(emb(s, dir), threshold = 0.45)),
    "dedup_semantic" -> ((s, dir) =>
      // Lloyd training session-shared (its own nlist=4/iters=4 registry entry)
      Similarity.semanticDedup(emb(s, dir), Canonical.semanticLloyd.nlist,
        Canonical.semanticLloyd.iters, threshold = 0.45,
        centsOpt = Some(lloydCents(s, dir, "all", emb(s, dir), Canonical.semanticLloyd)))),
    "dedup_ngram_capped" -> ((s, dir) =>
      Dedup.ngramJaccardCappedPairs(docs(s, dir), "doc_id", "text",
        Canonical.ngramCapped.k, Canonical.ngramCapped.threshold, Canonical.ngramCapped.maxDf)),
    "dedup_containment" -> ((s, dir) =>
      // asymmetric subset-dup sweep: containment >= 0.8 with jaccard riding
      // along — high-containment/low-jaccard rows are quoted-inside docs
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
        Canonical.containment.k, Canonical.containment.threshold, Canonical.containment.maxDf)),
    "dedup_normalized" -> ((s, dir) =>
      TextAnalysis.normalizedDedup(docs(s, dir))),
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(docs(s, dir), "doc_id", "text")),
    "decontaminate" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // deterministic synthetic holdout: every 97th doc plays the benchmark
      val d = docs(s, dir)
      Dedup.contaminationReport(
        d.filter(!Canonical.isHoldout(col("doc_id"))), d.filter(Canonical.isHoldout(col("doc_id"))),
        "doc_id", "text", k = 5)
    },
    "contamination_overlap" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val d = docs(s, dir)
      Dedup.contaminationOverlap(
        d.filter(!Canonical.isHoldout(col("doc_id"))), d.filter(Canonical.isHoldout(col("doc_id"))),
        "doc_id", "text", k = 5)
    },
    "dedup_incremental" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // growing-corpus dedup: every 10th doc plays the new ingest batch,
      // flagged against the stored corpus without re-signing history
      val p = Canonical.lsh
      Dedup.dedupIncremental(s, incrementalStore(s, dir),
        docs(s, dir).filter(col("doc_id") % 10 === 0),
        "doc_id", "text", p.k, p.numPerm, p.bands, p.threshold)
    },
    "dedup_incremental_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // the admit step: the same batch, with every doc flagged against the
      // stored corpus anti-joined out — what an ingest pipeline appends
      val p = Canonical.lsh
      Dedup.applyIncrementalDedup(s, incrementalStore(s, dir),
          docs(s, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", p.k, p.numPerm, p.bands, p.threshold)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "dedup_exact_substring" -> ((s, dir) =>
      // matched-quadruple surface session-shared with dedup_substring_trim
      // (same n/maxDf/hash — the common core of both operators)
      Dedup.exactSubstringPairs(docs(s, dir), "doc_id", "text",
        Canonical.substring.n, Canonical.substring.maxDf,
        matched = Some(substringQuads(s, dir)))),
    "dedup_substring_trim" -> ((s, dir) =>
      // Lee-et-al span REWRITE: every string-verified verbatim run of >= 20
      // tokens shared with a lower-id doc is CUT from the higher-id copy;
      // text is rebuilt from the surviving tokens (untrimmed docs pass
      // through the same tokenize-rejoin normalization); matched surface
      // session-shared with dedup_exact_substring
      Dedup.substringTrimApply(docs(s, dir), "doc_id", "text",
        Canonical.substring.n, Canonical.minSpan, Canonical.substring.maxDf,
        matchedOpt = Some(substringQuads(s, dir)))),
    "decontaminate_semantic" -> { (s, dir) =>
      // embedding-space contamination: flag train vectors with verified
      // cosine >= 0.9 against any paraphrased holdout item
      val e = emb(s, dir)
      Similarity.semanticContamination(e, paraphrasedVectors(e), threshold = 0.9)
    },
    "decontaminate_semantic_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // end-to-end: flagged vectors anti-joined out of the corpus
      val e = emb(s, dir)
      Similarity.applySemanticDecontamination(e, paraphrasedVectors(e), threshold = 0.9)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
    "vocab_bpe" -> ((s, dir) =>
      TextAnalysis.bpeTrain(docs(s, dir), nMerges = 10)),
    "vocab_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(docs(s, dir), nMerges = 10)),
    "vocab_bpe_encode_stored" -> { (s, dir) =>
      // steady-state encode against a STORED vocabulary (same nMerges as
      // vocab_bpe_encode, so the same oracle applies): the tokenizer is
      // trained once per fixture and reused — the encode plan contains only
      // the token-type equi-join, none of the merge rounds. Same
      // fingerprint-keyed /tmp cache scheme as simsearch_ivf_search, so a
      // regenerated fixture or changed store layout never serves stale.
      val store = storeDir("bpe_store", dir, "documents")
      if (!new java.io.File(s"$store/types/_SUCCESS").exists())
        TextAnalysis.bpeStore(docs(s, dir), store, nMerges = 10)
      TextAnalysis.bpeEncodeStored(s, store, docs(s, dir))
    },
    "decontaminate_exact" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // a benchmark that QUOTES training text (the realistic contamination
      // mode): every 97th doc contributes a 21-token excerpt (tokens 6-26)
      // as a holdout item, so those training docs verifiably contain a
      // verbatim >= 13-token benchmark span — non-vacuous by construction
      // report session-shared with decontaminate_apply and pipeline_e2e's
      // S3 (identical corpus/holdout/n)
      contamination(s, dir).value.orderBy(col("doc_id"))
    },
    "decontaminate_stored" -> { (s, dir) =>
      // decontamination against a STORED benchmark registry: the same
      // quoting holdout as decontaminate_exact, indexed ONCE per fixture
      // (fingerprint-keyed /tmp cache like the other stored queries) —
      // identical output and oracle, but the plan only READS the registry
      val store = storeDir("holdout_index", dir, "documents")
      val d = docs(s, dir)
      val n = Canonical.contamination.n
      if (!new java.io.File(s"$store/grams/_SUCCESS").exists())
        Dedup.holdoutIndexStore(Canonical.quotingHoldout(d), store, "doc_id", "text", n = n)
      Dedup.decontaminateStored(s, store, d, "doc_id", "text", n = n)
    },
    "dedup_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // the end-to-end shape a corpus pipeline ships: MinHash-LSH pairs ->
      // connected components -> drop non-canonical members -> corpus out;
      // the (already materialized) pair surface is session-shared, so CC
      // scans its blocks directly with no second edge-snapshot barrier
      Dedup.applyDedup(docs(s, dir), lshPairs(s, dir).value, "doc_id",
          pairsMaterialized = true)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "decontaminate_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      // end-to-end Lee-et-al decontamination: same synthetic quoting
      // holdout as decontaminate_exact, span threshold 20 so documents
      // with sub-threshold verbatim overlap SURVIVE (both branches of the
      // gate are exercised) while full 21-token quotes are dropped
      // contamination report session-shared with decontaminate_exact and
      // pipeline_e2e (identical corpus/holdout/n)
      val d = docs(s, dir)
      Dedup.applyDecontamination(d, Canonical.quotingHoldout(d), "doc_id", "text",
          n = Canonical.contamination.n, minSpanTokens = Canonical.minSpan,
          reportOpt = Some(contamination(s, dir)))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "decontaminate_fuzzy" -> { (s, dir) =>
      // paraphrase-style contamination (the mode exact rules MISS)
      val d = docs(s, dir)
      Dedup.fuzzyContamination(d, rewrittenHoldout(d), "doc_id", "text",
        k = 3, numPerm = 64, bands = 32, threshold = 0.4)
    },
    "decontaminate_fuzzy_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // end-to-end fuzzy decontamination: same mutated holdout, flagged
      // docs anti-joined out of the corpus — the near-dup sibling of
      // decontaminate_apply (sub-threshold overlap survives)
      val d = docs(s, dir)
      Dedup.applyFuzzyDecontamination(d, rewrittenHoldout(d), "doc_id", "text",
          k = 3, numPerm = 64, bands = 32, threshold = 0.4)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "corpus_quality_apply" -> ((s, dir) =>
      TextAnalysis.qualityFilterApply(s, docs(s, dir))),
    "vocab_encode" -> ((s, dir) =>
      TextAnalysis.vocabEncode(docs(s, dir), vocabSize = 256)),
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureMix(docs(s, dir), "doc_id", "source")),
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir))),
    "simsearch_int8_topk" -> ((s, dir) =>
      // symmetric int8 retrieval: per-vector scales cancel in the cosine,
      // so scoring is pure integer arithmetic; exact_sim rides as the
      // quantization-error report
      Similarity.int8TopK(emb(s, dir), probeId = 0L, topK = 5)),
    "simsearch_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), probeId = 0L, k = 5, nlist = 4, nprobe = 3, iters = 4)),
    "simsearch_ivf_search" -> { (s, dir) =>
      // steady-state search against a STORED index (same parameters as
      // simsearch_ivf, so the same oracle applies): the index is built once
      // per fixture and reused — the bench entry exposes the search latency
      // a serving deployment sees, without the Lloyd passes. The index path
      // embeds a fingerprint of the SOURCE data (mtime+size, recursive) and
      // an index-format version, so a regenerated fixture or a changed index
      // layout can never silently serve a stale index.
      val indexDir = storeDir("ivf_index", dir, "embeddings")
      if (!new java.io.File(s"$indexDir/assigned/_SUCCESS").exists())
        Similarity.ivfStore(emb(s, dir), indexDir, nlist = 4, iters = 4)
      Similarity.ivfSearchStored(s, indexDir, emb(s, dir), probeId = 0L, k = 5, nprobe = 3)
    },
    "sample_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(
        docs(s, dir).select("doc_id", "source"), "doc_id", seed = 42L)),
    "dedup_clusters" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // canonical-doc selection, the 100 TB composition: hyperplane-LSH
      // candidate pairs (bounded fan-out, exact-cosine verified) collapse
      // into components; cluster_id = min member id. The O(n²) all-pairs
      // feed lives on as dedup_clusters_allpairs, the exactness baseline.
      // Raw (unsorted, undeduped) pairs: min-label CC absorbs duplicate
      // edges, so the dedup+sort shuffles of the pair surface are skipped.
      val pairs = Similarity.embeddingLshPairsRaw(emb(s, dir), threshold = 0.45)
      graft.operators.ConnectedComponents.components(pairs, "vec_a", "vec_b")
        .select(col("node").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
    "dedup_clusters_allpairs" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // exactness baseline: exhaustive all-pairs cosine feeds the same
      // component collapse — deliberately quadratic, kept oracle-checked to
      // validate the LSH composition's recall at fixture scale; a 100 TB
      // deployment runs dedup_clusters instead
      val pairs = Similarity.embeddingNearDupPairs(emb(s, dir), threshold = 0.45)
      graft.operators.ConnectedComponents.components(pairs, "vec_a", "vec_b")
        .select(col("node").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
    "cluster_assign" -> ((s, dir) =>
      // Lloyd training session-shared with cluster_purity/cluster_balanced
      // (identical nlist=4/iters=2 chain)
      Similarity.kmeansClusterStats(emb(s, dir), Canonical.clusterLloyd.nlist,
        Canonical.clusterLloyd.iters, centsOpt = Some(clusterCents(s, dir)))),
    "simsearch_pq" -> ((s, dir) =>
      // PQ compression sweep: 8 subspaces x 8 sub-centroids over 64 dims —
      // every vector's code + reconstruction cosine in one narrow pass
      Similarity.pqEncode(emb(s, dir), m = 8, k = 8, iters = 2)),
    "simsearch_pq_topk" -> ((s, dir) =>
      // ADC search: exact probe vs PQ-coded corpus, exact_sim rides along
      // as the ADC-error report
      Similarity.pqTopK(emb(s, dir), probeId = 0L, topK = 5, m = 8, k = 8, iters = 2)),
    "simsearch_ivfpq" -> ((s, dir) =>
      // IVFADC one-shot (train + search): IVF bucket prune compounds with
      // PQ asymmetric-distance scoring — the FAISS IndexIVFPQ architecture;
      // exact_sim rides along as the ADC-error report. Equal round counts
      // (2/2) train both quantizers in ONE joint deep plan, session-shared
      // (round-13 verdict task 3)
      Similarity.ivfPqTopK(emb(s, dir), probeId = 0L, topK = 5,
        nlist = Canonical.ivfPq.nlist, nprobe = 3, ivfIters = Canonical.ivfPq.ivfIters,
        m = Canonical.ivfPq.m, k = Canonical.ivfPq.k, pqIters = Canonical.ivfPq.pqIters,
        trainedOpt = Some(ivfPqBooks(s, dir)))),
    "simsearch_ivfpq_stored" -> { (s, dir) =>
      // steady-state IVFADC serving: probe row + nlist centroids + m·k
      // codebooks + nprobe inverted-list partitions — corpus floats never
      // read; approx_sim computed from the stored PQ CODE alone.
      // Fingerprint-keyed /tmp cache like simsearch_ivf_search.
      val indexDir = storeDir("ivfpq_index", dir, "embeddings")
      if (!new java.io.File(s"$indexDir/invlists/_SUCCESS").exists())
        Similarity.ivfPqStore(emb(s, dir), indexDir, nlist = 4,
          ivfIters = 4, m = 8, k = 8, pqIters = 2)
      Similarity.ivfPqSearchStored(s, indexDir, emb(s, dir), probeId = 0L,
        topK = 5, nprobe = 3)
    },
    "simsearch_pq_stored" -> { (s, dir) =>
      // steady-state encode against STORED codebooks (same parameters as
      // simsearch_pq, so the same oracle applies); fingerprint-keyed /tmp
      // cache like simsearch_ivf_search
      val indexDir = storeDir("pq_index", dir, "embeddings")
      if (!new java.io.File(s"$indexDir/codebooks/_SUCCESS").exists())
        Similarity.pqStore(emb(s, dir), indexDir, m = 8, k = 8, iters = 2)
      Similarity.pqEncodeStored(s, indexDir, emb(s, dir))
    },
    "simsearch_recall" -> ((s, dir) =>
      // retrieval quality as an oracle-checked query: brute-force top-5 vs
      // IVF nprobe=3 top-5 per probe, exact per-mille recall
      Similarity.ivfRecallReport(emb(s, dir), k = 5, nlist = 4, nprobe = 3,
        iters = 4, probeEvery = 83L)),
    "knn_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val e = emb(s, dir)
      // bounded probe batch: every 100th vector plays the inference set
      Similarity.knnJoin(e, e.filter(col("vec_id") % 100 === 0), k = 3)
    },
    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(s, docs(s, dir))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir))),
    "text_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir))),
    "text_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(docs(s, dir))),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir))),
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir))),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), k = 3)),
    "text_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramLogprob(docs(s, dir))),
    "text_bigram_nll" -> ((s, dir) =>
      // 2-gram LM perplexity filter: transition improbability under the
      // corpus's own bigram counts (junk whose unigram profile looks normal)
      TextAnalysis.bigramLogprob(docs(s, dir))),
    "cluster_purity" -> ((s, dir) =>
      // label-coherence audit of the Lloyd index (same build as
      // cluster_assign — training session-shared): majority label,
      // per-mille purity, label entropy
      Similarity.clusterLabelPurity(emb(s, dir), Canonical.clusterLloyd.nlist,
        Canonical.clusterLloyd.iters, centsOpt = Some(clusterCents(s, dir)))),
    "simsearch_truncation" -> ((s, dir) =>
      // Matryoshka audit: energy / retained-cosine per truncation width
      Similarity.truncationAudit(emb(s, dir), dims = Seq(8, 16, 32, 64))),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(docs(s, dir))),
    "text_source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(docs(s, dir))),
    "text_classifier_nb" -> ((s, dir) =>
      TextAnalysis.naiveBayesLang(docs(s, dir))),
    "doc_chunk" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), chunkSize = 64, overlap = 16)),
    "doc_pack" -> ((s, dir) =>
      operators.Packing.packChunks(s,
        TextAnalysis.chunkDocuments(docs(s, dir), chunkSize = 64, overlap = 16),
        budget = 512, numShards = 8)),
    "doc_pack_stats" -> ((s, dir) =>
      operators.Packing.binStats(s,
        TextAnalysis.chunkDocuments(docs(s, dir), chunkSize = 64, overlap = 16),
        budget = 512, numShards = 8)),
    "multimodal_features" -> ((s, dir) =>
      // mixed-modality surface: PNG rows through the REAL ImageIO decoder,
      // audio/video stand-in rows through the labeled stub — one binary
      // column, sniffing dispatch, closed-form oracles for both branches
      Multimodal.mixedFeatures(s, docs(s, dir))),
    "multimodal_imageio" -> ((s, dir) =>
      Multimodal.imageioFeatures(s, docs(s, dir))),
    "multimodal_resize" -> ((s, dir) =>
      // real decode -> bilinear render -> re-encode -> re-decode; oracle =
      // constant-color sums at the target geometry
      Multimodal.imageioResize(s, docs(s, dir), targetW = 32, targetH = 32)),
    "multimodal_frames" -> ((s, dir) =>
      // multi-page TIFF "video", stride-sampled, per-frame exact pixel sums
      Multimodal.imageioFrames(s, docs(s, dir), stride = 2)),
    "multimodal_phash" -> ((s, dir) =>
      // 64-bit average-hash over REAL decoded pixels; the closed-form
      // fixture lets the oracle recompute the hash without decoding
      Multimodal.imagePhash(s, docs(s, dir))),
    "multimodal_phash_pairs" -> ((s, dir) =>
      // image-level near-dup sweep: 16-bit-banded hamming join over the
      // perceptual hashes, exact bit_count verify at maxDist=3
      Multimodal.phashPairs(s, docs(s, dir), maxDist = 3)),
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1))
        .select("doc_id", "lang").orderBy("doc_id")),
    "sample_split" -> ((s, dir) =>
      Sampling.split(docs(s, dir), "doc_id", trainFrac = 0.8, validFrac = 0.1)
        .select("doc_id", "split").orderBy("doc_id")),
    "sample_cap_per_group" -> ((s, dir) =>
      Sampling.capPerGroup(docs(s, dir), "doc_id", "source", maxPerGroup = 50)),
    "sample_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetPerSource(docs(s, dir), "doc_id", "source", "text",
        budget = 800L)),
    "sample_quality_budget" -> ((s, dir) =>
      // FineWeb-style cut: the 20k-token budget buys the highest-quality
      // docs (quality DESC, hash, id), bucketed prefix sums keyed (q_u, b)
      Sampling.qualityTokenBudget(docs(s, dir), budget = 20000L)),
    "dedup_apply_quality" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // quality-aware canonical selection: each near-dup cluster keeps its
      // HIGHEST-quality member (ties to the lower id), not the lowest id;
      // pair surface session-shared with the other cluster-family queries
      Dedup.applyDedupQuality(docs(s, dir), lshPairs(s, dir).value,
          "doc_id", "text", checkpointDir = None)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "dedup_exact_apply" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // keep one copy (lowest id) of every byte-identical text
      Dedup.applyExactDedup(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    "pipeline_e2e" -> { (s, dir) =>
      // the WHOLE pipeline as one operator: quality gate -> quality-aware
      // near-dup dedup -> exact-substring decontamination (raw-corpus
      // holdout, the decontaminate_apply fixture) -> per-source token
      // budget -> chunk -> next-fit pack -> seeded bin-level epoch shuffle.
      // Every stage is individually green; THIS checks the composition
      // (barriers, no cross-stage re-execution, the exact shipped order).
      val d = docs(s, dir)
      // dedup stage serves from the session-shared canonical pair surface
      // (the same build-once/serve-many intermediate the five cluster-family
      // queries read) — the pipeline restricts it to its quality survivors;
      // the decontamination stage serves from the shared contamination
      // report (decontaminate_exact/apply's core, identical parameters)
      operators.Pipeline.trainingManifest(s, d, Canonical.quotingHoldout(d),
        pairs = Some(lshPairs(s, dir)),
        contamination = Some(contamination(s, dir)))
    },
    "doc_chunk_reassemble" -> ((s, dir) =>
      // round-trip audit of the chunker: drop each non-first chunk's
      // overlap, re-concatenate, compare to the normalized original
      TextAnalysis.reassembleChunks(docs(s, dir), chunkSize = 64, overlap = 16)),
    "text_quality_histogram" -> ((s, dir) =>
      // per-(source, quality-decile) docs + tokens — the composition report
      // a mixture designer reads before setting budgets
      TextAnalysis.qualityHistogram(docs(s, dir))),
    "simsearch_index_drift" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // staleness report: evens play the trained-on snapshot, odds the new
      // crawl; per-bucket occupancy shift in signed ppm
      val e = emb(s, dir)
      // Lloyd training session-shared (its own evens-only nlist=8 entry)
      val even = e.filter(col("vec_id") % 2 === 0)
      Similarity.indexDrift(
        even, e.filter(col("vec_id") % 2 === 1),
        Canonical.driftLloyd.nlist, Canonical.driftLloyd.iters,
        centsOpt = Some(lloydCents(s, dir, "even", even, Canonical.driftLloyd)))
    },
    "dedup_cluster_stats" -> ((s, dir) =>
      // per-source duplicate-mass report over the MinHash-LSH components —
      // the "which sources pay for the dedup pass" number; shared pairs
      Dedup.clusterStatsBySource(docs(s, dir), lshPairs(s, dir).value,
        "doc_id", "source", checkpointDir = None)),
    "dedup_minhash_estimate" -> ((s, dir) =>
      // sketch-quality audit: signature-agreement estimate vs exact Jaccard
      // per verified LSH pair, error in exact integer ppm; shared pairs
      Dedup.minHashEstimateAudit(docs(s, dir), lshPairs(s, dir).value,
        "doc_id", "text", k = Canonical.lsh.k, numPerm = Canonical.lsh.numPerm)),
    "text_mislabel_rate" -> ((s, dir) =>
      // per-source declared-vs-NB-predicted disagreement (mislabeled dump /
      // language-mixing source detector)
      TextAnalysis.mislabelRate(docs(s, dir))),
    "sample_upsample" -> ((s, dir) =>
      // epoch mix: 2.5 epochs of src0, half of src1, exactly 3x src2,
      // src3 dropped, every other source exactly once
      Sampling.upsampleMix(docs(s, dir), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 3.0, "src3" -> 0.0))),
    "source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), "doc_id", "text", "source",
        k = 3, maxDf = 50)),
    "sample_mix_plan" -> ((s, dir) =>
      // plan a 10k-token mix at 50/30/20 across three sources; src2's
      // weight outruns its inventory at this budget -> capped
      Sampling.mixPlan(docs(s, dir), "doc_id", "source", "text",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budget = 10000L)),
    "sample_mix" -> ((s, dir) =>
      Sampling.mixSources(docs(s, dir), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
        .select("doc_id", "source", "mix_order")
        .orderBy("mix_order", "doc_id")),
    "sample_importance" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // DSIR-style selection: src0 plays the target domain, the other 19
      // sources the raw pool; keep the 100 most-target-like raw docs
      val d = docs(s, dir)
      Sampling.importanceResample(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", n = 100)
    },
    "text_novelty" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // per-doc novelty against a synthetic reference slice: every 7th doc
      // plays the already-held corpus
      val d = docs(s, dir)
      Dedup.ngramNovelty(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", k = 3)
    },
    "cluster_balanced" -> ((s, dir) =>
      // diversity cap: at most 50 vectors per Lloyd cluster, hash-drawn;
      // training session-shared with cluster_assign/cluster_purity
      Similarity.clusterBalancedSample(emb(s, dir), Canonical.clusterLloyd.nlist,
        Canonical.clusterLloyd.iters, maxPerCluster = 50,
        centsOpt = Some(clusterCents(s, dir)))),
    "vocab_bpe_fertility" -> ((s, dir) =>
      // per-source tokenizer-fertility audit under the round-10 BPE vocab
      TextAnalysis.bpeFertility(docs(s, dir), "source", nMerges = 10)),
    "vocab_drift" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // synthetic A/B snapshots by doc parity: top-50 most-drifted terms
      val d = docs(s, dir)
      TextAnalysis.vocabDrift(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "text", topN = 50, minCount = 5)
    },
    "simsearch_hard_negatives" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      // contrastive-training negative mining: every 100th vector probes for
      // its 3 most-similar OTHER-label vectors
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") % 100 === 0), k = 3)
    },
    "events_attribution" -> ((s, dir) =>
      // last-touch revenue attribution: purchases credited to the latest
      // preceding view/click of the same user within 7 days; conversions
      // with no touch report under 'unattributed' (value conservation)
      graft.operators.EventAnalytics.attribution(
        Tables.table(s, dir, "events"), "user_id", "event_type", "ts", "value",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        maxGapMicros = 7L * 24 * 3600 * 1000000L)),
    "sample_epoch_shuffle" -> ((s, dir) =>
      // the shipped training order: upsample-mix copies interleaved by a
      // seeded hash of (doc, copy) — same weights as sample_upsample
      Sampling.epochShuffle(docs(s, dir).select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 3.0, "src3" -> 0.0),
        seed = 7L)),
    "events_funnel" -> ((s, dir) =>
      // ordered conversion funnel view -> click -> purchase, each step
      // within 7 days of the previous; first-touch attribution
      graft.operators.EventAnalytics.funnel(
        Tables.table(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        maxGapMicros = 7L * 24 * 3600 * 1000000L)),
    "events_retention" -> ((s, dir) =>
      // weekly cohort retention: cohort = week of first signup, retained =
      // any event in cohort_week + offset
      graft.operators.EventAnalytics.retention(
        Tables.table(s, dir, "events"), "user_id", "event_type", "ts",
        cohortType = "signup")),
    "events_transition" -> ((s, dir) =>
      // Markov next-event matrix: per-user (ts, event_id)-ordered steps,
      // exact per-mille share of each prev_type's outgoing transitions
      graft.operators.EventAnalytics.transitionMatrix(
        Tables.table(s, dir, "events"), "user_id", "event_type", "ts",
        tieCol = "event_id")),
    "events_rolling_active" -> ((s, dir) =>
      // per-day DAU + exact trailing-7-day active users (rolling COUNT
      // DISTINCT via the bounded contribute-forward explode)
      graft.operators.EventAnalytics.rollingActive(
        Tables.table(s, dir, "events"), "user_id", "ts", windowDays = 7)),
    "events_anomaly" -> ((s, dir) =>
      // per-type value outliers at |z| > 2, tested in exact integer
      // centi-unit arithmetic (no float variance epsilon cross-engine)
      graft.operators.EventAnalytics.valueAnomalies(
        Tables.table(s, dir, "events"), "event_type", "value", zTimes10 = 20)),
    "events_lift" -> ((s, dir) =>
      // "users who do X also do Y": unordered type-pair co-occurrence lift
      // over user sets, exact floor'd ppm via pure integer arithmetic
      graft.operators.EventAnalytics.cooccurrenceLift(
        Tables.table(s, dir, "events"), "user_id", "event_type")),
    "events_value_histogram" -> ((s, dir) =>
      // per-type order-of-magnitude value histogram (decimal-digit buckets
      // on exact centi-units — no float log10 boundary ties)
      graft.operators.EventAnalytics.valueHistogram(
        Tables.table(s, dir, "events"), "event_type", "value")),
    "text_lang_confusion" -> ((s, dir) =>
      // declared-label x langid-prediction confusion matrix with per-actual
      // integer per-mille shares — the labeling-quality one-pager
      TextAnalysis.langConfusion(s, docs(s, dir))),
    "text_dup_ngram_mass" -> ((s, dir) =>
      // Lee-et-al duplication diagnostic: ppm of 3-shingle occurrence mass
      // in shingles seen > T times, one pass, |thresholds| output rows
      TextAnalysis.dupNgramMass(docs(s, dir), k = 3, thresholds = Seq(1, 5, 20))),
    "embedding_dim_stats" -> ((s, dir) =>
      // per-dimension health report: exact min/max + quantized-moment
      // mean/variance — dead dims and scale imbalance before they break ANN
      Similarity.dimStats(emb(s, dir))),
    "events_churn" -> ((s, dir) =>
      // last-active-week distribution of the user base (retention's
      // complement), Monday-aligned weeks, integer per-mille shares
      graft.operators.EventAnalytics.churnProfile(
        Tables.table(s, dir, "events"), "user_id", "ts")),
    "text_pmi" -> ((s, dir) =>
      // adjacent-bigram collocations: PMI over exact corpus counts,
      // rare bigrams pruned before the vocabulary joins
      TextAnalysis.pmiBigrams(docs(s, dir), minCount = 5)),
    "text_coverage_curve" -> ((s, dir) =>
      // token-mass coverage of the top-k vocabulary (k = 10/100/1000),
      // exact integer ppm — the vocabulary-sizing curve
      TextAnalysis.coverageCurve(docs(s, dir), ks = Seq(10, 100, 1000))),
    "embedding_label_margin" -> ((s, dir) =>
      // geometric mislabel audit: own-label centroid cosine minus best
      // other-label centroid cosine, negative = likely mislabeled
      Similarity.labelMargin(emb(s, dir))),
    "grouped_topk" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import s.implicits._
      val joined = Tables.table(s, dir, "orders")
        .join(Tables.table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
      joined.as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(t => graft.operators.TopKAggregator.Scored(t._2, t._3))
        .agg(graft.operators.TopKAggregator(3).toColumn.name("top"))
        .toDF("c_mktsegment", "top")
        .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("rk", "s")))
        .select(col("c_mktsegment"), (col("rk") + 1).cast("int").as("rank"),
          col("s.id").as("o_orderkey"), col("s.score").as("o_totalprice"))
        .orderBy("c_mktsegment", "rank")
    },
    "skew_salted_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      // the salted join must return exactly the plain join's rows — declared
      // here so the skew tooling sits inside the oracle-checked surface
      val li = Tables.table(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val part = Tables.table(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.operators.SkewJoin.saltedInnerJoin(li, part, "l_partkey", saltFactor = 8)
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
    "asof_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val probe = Tables.table(s, dir, "events").select("event_id", "user_id", "ts")
      val build = Tables.table(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      graft.operators.AsOfJoin.asOf(probe, build, "user_id", "ts", "o_orderdate")
        .orderBy("event_id")
    },
    "asof_tolerance" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, expr}
      // probe timestamps shifted into the order-date range (events sit in
      // 2024-01, orders in 1995-2001): 28 years back lands mid-range, so the
      // 30-day tolerance keeps SOME backward matches (last order recent
      // enough) and drops the rest — both sides of the gap filter are
      // exercised (1126 kept of 8083 matched at sf0.01)
      val probe = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 28 YEARS")).as("ts"))
      val build = Tables.table(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      graft.operators.AsOfJoin.asOf(probe, build, "user_id", "ts", "o_orderdate",
          toleranceMicros = Some(30L * 24 * 3600 * 1000000L))
        .orderBy("event_id")
    },
    "asof_nearest" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, expr}
      // same 28-year shift as asof_tolerance: probes land mid order-range,
      // so most have a build row on BOTH sides and nearest genuinely
      // chooses (332 backward / 668 forward at sf0.001); matched_dir +
      // gap_us ride along as the alignment-audit report
      val probe = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 28 YEARS")).as("ts"))
      val build = Tables.table(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      graft.operators.AsOfJoin.asOfNearest(probe, build, "user_id", "ts", "o_orderdate")
        .orderBy("event_id")
    },
    "asof_forward" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, expr}
      // 23 years back lands probes in 2001-01, seven months before the last
      // order: ~55% of probes have a next order (non-trivial ascending
      // match), the rest have none (inner as-of drops them)
      val probe = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 23 YEARS")).as("ts"))
      val build = Tables.table(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      graft.operators.AsOfJoin.asOf(probe, build, "user_id", "ts", "o_orderdate",
          direction = "forward")
        .orderBy("event_id")
    },
    "bloom_prefilter_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      // runtime-filter pattern: Bloom-screen the fact before the shuffle;
      // result must equal the plain join (that's the oracle)
      val orders = Tables.table(s, dir, "orders").select("o_custkey", "o_totalprice")
      val buildingCustomers = Tables.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.BloomPrefilter
        .prefilteredInnerJoin(orders, buildingCustomers, "o_custkey", expectedItems = 100000L)
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy("c_nationkey")
    },
    "interval_bucket_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      // overlapping price bands (each point can match 2) — the bucketed
      // equi-join must reproduce the BNLJ range join exactly
      val intervals = s.range(0, 24).select(
        col("id").cast("int").as("iv_id"),
        (col("id") * 25000.0 - 2500.0).as("lo"),
        ((col("id") + 1) * 25000.0 + 2500.0).as("hi"))
      val orders = Tables.table(s, dir, "orders").select("o_orderkey", "o_totalprice")
      graft.operators.IntervalJoin
        .pointInInterval(orders, "o_totalprice", intervals, "lo", "hi", width = 25000.0)
        .groupBy("iv_id")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
        .orderBy("iv_id")
    },
    "view_maintain" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.operators.{LatestPerKey, ViewMaintenance}
      // The reference's adder/subtractor aggregation (kafka_streams.clj:72-80)
      // as batch delta maintenance: materialize the latest-event view and its
      // per-type aggregate over the FIRST half of the changelog, then apply
      // the second half as a delta batch. The oracle recomputes from the full
      // changelog — equality proves the subtractor (old contribution removed),
      // the adder (new contribution added), and the re-key path (a user whose
      // latest event_type changes between halves moves groups).
      val ev = Tables.table(s, dir, "events")
        .select("user_id", "event_type", "value", "ts", "event_id")
      val cut = ev.agg(
        ((min(col("ts")).cast("long") + max(col("ts")).cast("long")) / 2)
          .cast("timestamp").as("cut"))
      val withCut = ev.crossJoin(broadcast(cut))
      val base = withCut.filter(col("ts") < col("cut")).drop("cut")
      val delta = withCut.filter(col("ts") >= col("cut")).drop("cut")
      val baseView = LatestPerKey(base, Seq("user_id"), Seq("ts", "event_id"))
      val baseAgg = ViewMaintenance.aggregateView(baseView, "event_type", "value")
      val deltaLatest = LatestPerKey(delta, Seq("user_id"), Seq("ts", "event_id"))
      ViewMaintenance
        .maintainAgg(baseView, baseAgg, deltaLatest, "user_id", "event_type", "value")
        .select(col("event_type"), col("n").as("n_users"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type")
    }
  )
}
