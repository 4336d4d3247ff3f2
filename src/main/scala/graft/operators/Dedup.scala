package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Text}

/** Document deduplication operators for the training-data pipeline:
  * exact, n-gram Jaccard (inverted index), MinHash+LSH, and SimHash.
  *
  * Scale notes (the 100 TB story):
  *  - Nothing here cross-joins documents. Candidate pairs always come from an
  *    equi-join on a bounded key (shingle hash, LSH band signature, SimHash
  *    chunk) — a shuffle keyed on something with bounded fan-out.
  *  - Shingles are hashed to 60-bit longs *before* any shuffle, so exchanges
  *    move fixed-width longs, not strings.
  *  - MinHash/SimHash signatures are ONE imperative aggregate each
  *    (graft.plans.MinHashSignature / SimHashAggregate) with map-side partial
  *    merge, so each document's shingles collapse before the exchange.
  *  - Every shingle and token hash is [[graft.functions.Hashing.hash60]], so
  *    the whole pipeline is reproducible in DuckDB (MD5 is portable).
  */
object Dedup {

  /** Exact dedup by full-text equality: one row per distinct text with the
    * canonical (minimum) doc id and the duplicate count.
    */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))
      .select("canonical_id", "dup_count")
      .orderBy("canonical_id")

  /** Distinct (doc_id, h) shingle-hash pairs, already exploded.
    *
    * Shingles are built with posexplode + `lead()` windows rather than
    * array higher-order functions: HOF lambdas evaluate interpreted (outside
    * whole-stage codegen) and measure ~4x slower than this formulation, in
    * which tokenize/lead/concat/md5 all stay in codegen. The window sort is
    * per-document on the already-spread exchange.
    */
  private def shingleHashesRaw(df0: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleHashesPositional(df0, idCol, textCol, k).drop("pos")

  /** Positional shingles WITH the shingle text: (doc_id, pos, g). Only for
    * small frames (benchmark holdouts) or remnant re-derivation — the
    * full-corpus indexes hash to longs before any exchange.
    */
  private[graft] def shingleTextPositional(df0: DataFrame, idCol: String, textCol: String,
                                           k: Int): DataFrame =
    // posexplode over the RETAINED token array + element_at(pos + i) instead
    // of the earlier lead() windows: the concat/hash path stays in whole-stage
    // codegen exactly like the window formulation (HOF transform() lambdas
    // would not), but the per-document exchange + sort the windows required
    // is gone — generate, the bounds filter, and the shingle projection fuse
    // into ONE codegen map over the scan. Output is row-identical: pos is the
    // same 0-based posexplode ordinal, element_at is 1-based so tokens
    // pos+1 .. pos+k are exactly the old t, lead(t,1) .. lead(t,k-1), and the
    // bounds filter pos <= size-k matches the old lead-not-null condition.
    // Measured at sf0.1: dedup_exact_substring 2.5 -> 1.9 s (the index build
    // is its floor), with every shingle consumer sharing the win.
    PartitionUtil.spread(df0, idCol)
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("toks")) - k)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until k).map(i =>
          element_at(col("toks"), col("pos") + i + 1)): _*).as("g"))

  /** Like [[shingleHashesRaw]] but KEEPS each shingle's token position —
    * the span-level operators need to know WHERE a match sits to stitch
    * consecutive matched k-grams into maximal verbatim runs.
    */
  private def shingleHashesPositional(df0: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleTextPositional(df0, idCol, textCol, k)
      .select(col("doc_id"), col("pos"), Hashing.hash60(col("g")).as("h"))

  private def shingleHashesExploded(df0: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleHashesRaw(df0, idCol, textCol, k).distinct()

  /** Persist-lifecycle bracket for the exploded shingle index.
    *
    * The index is consumed by several downstream stages (sizes, signatures,
    * both verify sides), so it must be cached — but a long-lived session
    * running the whole dedup surface must not ACCUMULATE cached indexes
    * (the round-2 `CacheManager: already cached` smell). The bracket:
    * persist + count-barrier the index, build the result, eagerly
    * materialize it ([[Materialize.barrier]] — the result is the bounded
    * pair/report output, orders of magnitude smaller than the index;
    * `localCheckpoint` blocks are GC-managed by the ContextCleaner rather
    * than pinned in the CacheManager, and `checkpointDir` switches to the
    * executor-loss-safe parquet barrier for cluster runs), then unpersist
    * the index before returning. The index itself stays a lineage-backed
    * persist in both modes: a lost cached block is recomputed from source,
    * so only the lineage-TRUNCATING result barrier needs the reliable
    * option. Callers that only want the lazy plan (plan-shape tests,
    * `explain`) pass `materialize = false` and get the raw dataflow with no
    * caching at all.
    */
  private def withShingleIndex(ex0raw: DataFrame, materialize: Boolean,
                               checkpointDir: Option[String])
                              (build: DataFrame => DataFrame): DataFrame = {
    if (!materialize) build(ex0raw)
    else {
      val ex0 = ex0raw.persist()
      ex0.count() // materialization barrier: downstream stages run concurrently
                  // and would otherwise each recompute the index into the cache
      try Materialize.barrier(build(ex0), checkpointDir)
      finally ex0.unpersist(blocking = false)
    }
  }

  /** Two-index variant of [[withShingleIndex]] for bipartite consumers
    * ([[fuzzyContamination]]): BOTH indexes persist for the bracket, but the
    * result passes through [[Materialize.barrier]] exactly ONCE — nesting
    * the one-index bracket would barrier the result twice (two
    * localCheckpoints, or two parquet round-trips in reliable mode), pure
    * duplicated cost.
    */
  private def withShingleIndexes(exAraw: DataFrame, exBraw: DataFrame,
                                 materialize: Boolean,
                                 checkpointDir: Option[String])
                                (build: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    if (!materialize) build(exAraw, exBraw)
    else {
      val exA = exAraw.persist()
      val exB = exBraw.persist()
      exA.count(); exB.count()
      try Materialize.barrier(build(exA, exB), checkpointDir)
      finally {
        exA.unpersist(blocking = false)
        exB.unpersist(blocking = false)
        ()
      }
    }
  }

  /** Benchmark decontamination: flag training documents that share at least
    * one word-k-shingle with any holdout/benchmark document — the standard
    * "is my training corpus contaminated with my eval set" sweep.
    *
    * Scale shape: both sides reduce to distinct (doc_id, shingle-hash) longs;
    * candidates come from an equi-join on the hash (holdout side is tiny in
    * practice → AQE broadcasts it), so there is never a doc × doc join.
    * Output: one row per contaminated training doc with the count of
    * distinct shared shingles (n_hits), ordered by doc id.
    */
  def contaminationReport(train: DataFrame, holdout: DataFrame,
                          idCol: String, textCol: String, k: Int = 5): DataFrame = {
    // holdout is a benchmark set — tiny by definition at any scale. One
    // distinct over bare hashes (no per-doc distinct needed: membership is
    // all the train side asks), then an EXPLICIT broadcast so the big train
    // side is filtered with zero shuffle — not left to AQE runtime conversion.
    val holdSh = shingleHashesRaw(holdout, idCol, textCol, k)
      .select(col("h")).distinct()
    // train side stays RAW: the broadcast join discards the overwhelming
    // majority of shingle occurrences before any exchange, so deduplicating
    // (doc_id, h) moves from a full-corpus shuffle to count(DISTINCT h) over
    // only the contaminated remnant.
    shingleHashesRaw(train, idCol, textCol, k)
      .join(broadcast(holdSh), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Per-document contamination RATIO — [[contaminationReport]]'s graded
    * sibling: for every training document, the fraction of its distinct
    * word-k-shingles that appear anywhere in the holdout (0 for clean docs,
    * which are included — the point is a score to threshold on, not a flag).
    *
    * Same scale shape as the report: the holdout reduces to a broadcast set
    * of shingle hashes, the train side is one exploded pass + a broadcast
    * LEFT join (zero shuffle before the per-doc aggregation). The ratio is
    * integer per-mille (floor) so both engines agree exactly.
    */
  def contaminationOverlap(train: DataFrame, holdout: DataFrame,
                           idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val holdSh = shingleHashesRaw(holdout, idCol, textCol, k)
      .select(col("h")).distinct().withColumn("hit", lit(1))
    shingleHashesExploded(train, idCol, textCol, k)
      .join(broadcast(holdSh), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("overlap_permille",
        floor(col("n_hits") * 1000 / col("n_shingles")).cast("int"))
      .orderBy("doc_id")
  }

  /** EXACT-substring decontamination — the Lee-et-al / GPT-3 / PaLM rule:
    * a training document is contaminated where it shares a VERBATIM run of
    * at least `n` tokens (n = 13 canonical) with any holdout/benchmark
    * document. Where [[contaminationReport]] asks "any shingle-set overlap
    * at all", this operator detects exact duplicated SPANS and reports their
    * geometry per document: how many n-gram positions matched, how many
    * maximal verbatim runs they form, and the longest run in TOKENS
    * (a run of r consecutive matched n-gram positions is a verbatim span of
    * r + n - 1 tokens).
    *
    * Scale shape: the train side is positional n-gram hashes
    * (doc_id, pos, h) — one tokenize pass, no per-doc distinct; the holdout
    * reduces to a broadcast positional index, so the corpus is filtered to
    * the contaminated remnant BEFORE any exchange (never doc × doc). The
    * run-stitching window runs per-doc over matched positions only — at
    * 100 TB that remnant is orders of magnitude smaller than the corpus.
    *
    * TRUE-run semantics: a verbatim run requires positions to advance in
    * LOCKSTEP on both sides — consecutive train positions whose holdout
    * counterparts are scattered are separate single-gram matches, not one
    * long span (stitching train positions alone overstates `longest_span`
    * when a doc happens to hit several disjoint holdout fragments
    * back-to-back). Islands are therefore computed per
    * (train doc, holdout doc, pos − hpos) diagonal, and `n_spans` counts
    * maximal runs per holdout counterpart.
    *
    * Matches are verified by EXACT n-gram string comparison, re-derived for
    * the remnant docs only — a 60-bit hash collision can propose a
    * candidate position but never survives verification.
    */
  def exactSubstringContamination(train: DataFrame, holdout: DataFrame,
                                  idCol: String, textCol: String, n: Int = 13,
                                  materialize: Boolean = true,
                                  checkpointDir: Option[String] = None): DataFrame =
    contaminationWithIndex(train, holdoutGramIndex(holdout, idCol, textCol, n),
      idCol, textCol, n, materialize, checkpointDir)

  /** The positional holdout n-gram index `(hold_id, hpos, hg, h)` — the
    * benchmark-registry artifact the decontamination serves from.
    * Benchmark sets are tiny at any scale: carrying the n-gram TEXT
    * alongside the hash costs nothing and enables exact verify.
    */
  private def holdoutGramIndex(holdout: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame =
    shingleTextPositional(holdout, idCol, textCol, n)
      .select(col("doc_id").as("hold_id"), col("pos").as("hpos"), col("g").as("hg"))
      .withColumn("h", Hashing.hash60(col("hg")))

  /** Persist the holdout n-gram index as parquet — the build-once half of
    * STORED decontamination, the same registry pattern as `bpeStore`/
    * `ivfStore`/`minhashIndexStore`: a pipeline maintains ONE index per
    * benchmark suite and checks every ingest batch against it with
    * [[decontaminateStored]]; re-shingling the benchmark registry per batch
    * is wasted work and a drift risk (two jobs disagreeing on the registry
    * version). The index is bounded by the benchmark suite size.
    */
  def holdoutIndexStore(holdout: DataFrame, dir: String, idCol: String,
                        textCol: String, n: Int = 13): Unit =
    holdoutGramIndex(holdout, idCol, textCol, n)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/grams")

  /** Lee-et-al exact-substring decontamination against a STORED holdout
    * index ([[holdoutIndexStore]]): identical output (and oracle) as
    * [[exactSubstringContamination]] with the same parameters, but the plan
    * reads the registry parquet instead of re-deriving the holdout's
    * positional n-grams. `n` must match the stored index's build value (it
    * parameterizes the span arithmetic, not the index read).
    */
  def decontaminateStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                          train: DataFrame, idCol: String, textCol: String,
                          n: Int = 13,
                          materialize: Boolean = true,
                          checkpointDir: Option[String] = None): DataFrame =
    contaminationWithIndex(train, spark.read.parquet(s"$dir/grams"),
      idCol, textCol, n, materialize, checkpointDir)

  /** The shared decontamination body: candidate join against a (broadcast)
    * positional holdout index, exact-text verification over the remnant,
    * lockstep diagonal stitching.
    */
  private def contaminationWithIndex(train: DataFrame, holdSh: DataFrame,
                                     idCol: String, textCol: String, n: Int,
                                     materialize: Boolean,
                                     checkpointDir: Option[String]): DataFrame = {
    // materialized: the matched remnant feeds the remnant-id derivation,
    // the text verify, and two aggregations — left lazy, the corpus scan
    // re-executes per consumer (materialize=false keeps the raw dataflow
    // for plan-shape assertions)
    val hashMatched0 = shingleHashesPositional(train, idCol, textCol, n)
      .join(broadcast(holdSh), "h")
      .select("doc_id", "pos", "hold_id", "hpos", "hg")
    val hashMatched =
      if (materialize) Materialize.barrier(hashMatched0, checkpointDir) else hashMatched0
    // exact-text verification over the remnant: re-derive n-gram strings
    // for matched train docs only and require string equality
    val remnant = hashMatched.select(col("doc_id").as("__rid")).distinct()
    val trainText = shingleTextPositional(
      train.join(broadcast(remnant), col(idCol) === col("__rid")).drop("__rid"),
      idCol, textCol, n)
    // NOT barriered: since the round-8 tail fusion the verified matches
    // feed exactly ONE downstream pipeline (repartition + windows + one
    // groupBy), and nothing here depends on a persisted index that a
    // barrier would need to outlive — the plan executes hashMatched's
    // checkpointed blocks plus one remnant re-tokenize, once
    val matched = hashMatched
      .join(trainText, Seq("doc_id", "pos"))
      .filter(col("g") === col("hg"))
      .select("doc_id", "pos", "hold_id", "hpos")
    // gaps-and-islands along each (hold_id, pos - hpos) diagonal: both
    // sides must advance together for positions to stitch into one run.
    // Fused to ONE exchange like [[exactSubstringPairs]]: repartition on
    // doc_id, windows extend that clustering (local sorts only), indicator
    // sums replace the runs/spans/hits branches + join.
    val w1 = Window.partitionBy("doc_id", "hold_id", "diag").orderBy("pos")
    val base = matched.withColumn("diag", col("pos") - col("hpos"))
      .repartition(col("doc_id"))
      .withColumn("grp", col("pos") - row_number().over(w1))
    val wg = Window.partitionBy("doc_id", "hold_id", "diag", "grp")
    base
      .withColumn("run", count(lit(1)).over(wg))
      .withColumn("first_in_run",
        when(row_number().over(wg.orderBy("pos")) === 1, 1L).otherwise(0L))
      .withColumn("first_pos",
        when(row_number().over(
          Window.partitionBy("doc_id", "pos").orderBy("hold_id", "hpos")) === 1, 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("first_pos")).as("n_hit_ngrams"),
        sum(col("first_in_run")).as("n_spans"),
        (max(col("run")) + lit(n - 1).cast("long")).as("longest_span"))
      .orderBy("doc_id")
  }

  /** EXACT-substring dedup BETWEEN training documents — the corpus-internal
    * sibling of [[exactSubstringContamination]] (Lee et al. dedup the
    * training set against itself on long verbatim spans, not just against a
    * holdout): for every document pair sharing at least one verbatim run of
    * `n` tokens, report the shared-span geometry (matched n-gram positions,
    * maximal runs, longest run in tokens).
    *
    * Scale shape: candidates come from a self-equi-join of the POSITIONAL
    * n-gram index on the 60-bit hash, never doc × doc; the index is
    * df-capped first (a boilerplate n-gram appearing in d docs contributes
    * O(d²) pairs and no dedup signal — same rationale as
    * [[ngramJaccardCappedPairs]]). Span stitching runs only over matched
    * positions.
    *
    * TRUE-run semantics (same rule as [[exactSubstringContamination]]):
    * positions stitch into one run only when BOTH documents advance in
    * lockstep — islands along each (doc_a, doc_b, pa − pb) diagonal, so
    * back-to-back matches against scattered counterpart positions can no
    * longer overstate `longest_span`. `n_shared_ngrams` stays the count of
    * distinct matched a-positions; `n_spans` counts maximal diagonal runs.
    *
    * Matches are verified by EXACT n-gram string comparison re-derived over
    * the remnant docs only (hash candidates in, string-equal matches out) —
    * the full-corpus index still ships fixed-width longs.
    */
  /** The STRING-VERIFIED matched quadruples (doc_a, doc_b, pa, pb) of
    * [[verifiedSubstringMatches]], built behind the operator's standard
    * persist bracket and (in materialize mode) returned as an EAGER barrier.
    *
    * This is the shareable core of [[exactSubstringPairs]] and
    * [[substringTrimApply]]: both consume exactly this set (same n, maxDf,
    * hash), and ~70 % of either query's cost is the positional-index build
    * + verify that produces it — so a session running both builds it once
    * (the shared LSH-pair surface's build-once/serve-many shape; round-13 verdict
    * task 2) and each query's own plan starts from the matched barrier.
    *
    * Persist bracket rationale (round 7): the positional index feeds the
    * df-cap pass AND both self-join sides — without the persist,
    * tokenize+md5 runs three times. Everything downstream derives from the
    * matched barrier alone, so the index unpersists as soon as the barrier
    * materializes. (Measured: dropping the count job is a wash — AQE
    * materializes the downstream exchanges concurrently and the racing
    * stages re-tokenize into the cache, costing what the job saved.)
    */
  def substringMatchedQuads(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 13, maxDf: Int = 50,
                            materialize: Boolean = true,
                            checkpointDir: Option[String] = None): DataFrame =
    if (!materialize)
      verifiedSubstringMatches(df,
        shingleHashesPositional(df, idCol, textCol, n),
        idCol, textCol, n, maxDf)
    else {
      val pos = shingleHashesPositional(df, idCol, textCol, n).persist()
      pos.count() // barrier: df-cap pass + both self-join sides share it
      // safe to unpersist BEFORE the caller's action: the barrier is eager
      // and the returned frame reads only its blocks
      try Materialize.barrier(
        verifiedSubstringMatches(df, pos, idCol, textCol, n, maxDf),
        checkpointDir)
      finally pos.unpersist(blocking = false)
    }

  def exactSubstringPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 13, maxDf: Int = 50,
                          materialize: Boolean = true,
                          checkpointDir: Option[String] = None,
                          matched: Option[Surface[SubstringParams, DataFrame]] = None): DataFrame = {
    // `matched` injects a PRECOMPUTED (already materialized) quadruple
    // surface from [[substringMatchedQuads]] — the session-shared serve
    // path; when absent the operator builds its own.
    val matchedDf = matched
      .map(_.servedTo(SubstringParams(n, maxDf), "exactSubstringPairs"))
      .getOrElse(substringMatchedQuads(df, idCol, textCol, n, maxDf,
        materialize, checkpointDir))
    // gaps-and-islands along each (pa - pb) diagonal, fused to ONE
    // exchange: repartition on the output key (doc_a, doc_b) up front —
    // every window below needs only clustering that hash(doc_a, doc_b)
    // already satisfies (their partition keys extend it), so they add
    // local sorts, never exchanges, and the final groupBy aggregates in
    // place. The round-7 shape (runs/spans/hits branches + a join)
    // carried four exchanges over the same tiny matched set.
    val w1 = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val base = matchedDf.withColumn("diag", col("pa") - col("pb"))
      .repartition(col("doc_a"), col("doc_b"))
      .withColumn("grp", col("pa") - row_number().over(w1))
    val wg = Window.partitionBy("doc_a", "doc_b", "diag", "grp")
    // indicator columns instead of countDistinct: first-row-of-run and
    // first-occurrence-of-pa flags summed per pair — same results, no
    // Expand duplication for multi-distinct aggregation
    base
      .withColumn("run", count(lit(1)).over(wg))
      .withColumn("first_in_run",
        when(row_number().over(wg.orderBy("pa")) === 1, 1L).otherwise(0L))
      .withColumn("first_pa",
        when(row_number().over(
          Window.partitionBy("doc_a", "doc_b", "pa").orderBy("pb")) === 1, 1L)
          .otherwise(0L))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        sum(col("first_pa")).as("n_shared_ngrams"),
        sum(col("first_in_run")).as("n_spans"),
        (max(col("run")) + lit(n - 1).cast("long")).as("longest_span"))
      .orderBy("doc_a", "doc_b")
  }

  /** STRING-VERIFIED shared-n-gram position quadruples — the common core of
    * [[exactSubstringPairs]] and [[substringTrimApply]]. From a positional
    * n-gram-hash index `pos` (doc_id, pos, h): df-cap the index
    * (2 ≤ df ≤ maxDf — singleton hashes can never pair, above the cap is
    * boilerplate), self-join on the hash with doc_a < doc_b, then verify
    * every candidate by EXACT n-gram string equality re-derived over the
    * remnant docs only. Returns (doc_a, doc_b, pa, pb), unique by
    * construction (one n-gram per position — no distinct needed).
    */
  private def verifiedSubstringMatches(df: DataFrame, pos: DataFrame,
                                       idCol: String, textCol: String,
                                       n: Int, maxDf: Int): DataFrame = {
    val dfStats = pos.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    // df BETWEEN 2 AND maxDf: above the cap is boilerplate (O(d²) pairs,
    // no signal), and df = 1 hashes can never produce a pair — at any
    // scale MOST n-grams are unique, so dropping them shrinks the
    // self-join exchange by the unique-n-gram mass of the corpus (the
    // round-7 formulation joined on df <= maxDf and shuffled every
    // singleton position through the candidate join for nothing)
    val shared = dfStats.filter(col("df") >= 2 && col("df") <= maxDf).select("h")
    val idx = pos.join(shared, "h")
    // remnant ids straight from the df stats (docs holding any n-gram
    // that at least one OTHER doc also holds, below the cap): a superset
    // of the docs in candidate pairs, derivable from the persisted index
    // without waiting on the self-join — so the whole verify pipeline
    // stays ONE materialization
    val remnant = idx.select(col("doc_id").as("__rid")).distinct()
    val textIdx = shingleTextPositional(
      df.join(broadcast(remnant), col(idCol) === col("__rid")).drop("__rid"),
      idCol, textCol, n)
    // (textIdx is evaluated once per verify side inside the same job —
    // re-tokenizing the tiny remnant twice measures cheaper than an extra
    // materialization barrier)
    // no distinct on the candidate quadruples: a position holds exactly
    // ONE n-gram hash, so each (doc_a, doc_b, pa, pb) row is unique by
    // construction — the round-7 distinct bought an AQE re-plan boundary,
    // but with the df >= 2 index filter the join input is already the
    // shared-n-gram remnant and the extra exchange measures as pure cost;
    // exact-text verification re-derives n-gram strings for remnant docs
    // only and requires string equality
    idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .join(textIdx.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("g").as("ga")), Seq("doc_a", "pa"))
      .join(textIdx.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("g").as("gb")), Seq("doc_b", "pb"))
      .filter(col("ga") === col("gb"))
      .select("doc_a", "doc_b", "pa", "pb")
  }

  /** SPAN-LEVEL dedup application — the rewrite step of Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better" (the
    * pipeline's actual fix: CUT the duplicated substring, keep the rest,
    * rather than dropping whole documents like [[applyDecontamination]]).
    * For every verbatim token run of at least `minSpan` tokens shared with
    * a LOWER-id document (string-verified, same df-capped positional index
    * and lockstep-diagonal stitching as [[exactSubstringPairs]]), the
    * HIGHER-id copy's covered token positions are removed and its text is
    * rebuilt from the surviving tokens in original order; the lowest-id
    * occurrence keeps its text — exactly one canonical copy of every long
    * span survives the corpus. Output for EVERY input document:
    * (doc_id, text = space-joined surviving lowercase tokens, n_removed).
    * Untrimmed documents pass through the same tokenize-rejoin
    * normalization so the output column is uniformly defined.
    *
    * Scale shape: everything up to the span runs is [[exactSubstringPairs]]
    * (one materialization, df-capped fan-out); covered positions explode
    * only from qualifying runs (bounded by the duplicated-span mass, not the
    * corpus); the token-level rebuild runs over TRIMMED docs only. The
    * trimmed-id joins carry NO broadcast hint — that set grows with the
    * corpus's dup mass (multi-percent of all docs in real web crawls, per
    * Lee et al.), so at billions of docs it must shuffle-join on its narrow
    * long key; AQE still broadcasts it at runtime when it is actually small.
    */
  def substringTrimApply(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 13, minSpan: Int = 20, maxDf: Int = 50,
                         materialize: Boolean = true,
                         checkpointDir: Option[String] = None,
                         matchedOpt: Option[Surface[SubstringParams, DataFrame]] = None): DataFrame = {
    // `matchedOpt` injects the session-shared [[substringMatchedQuads]]
    // surface (already materialized); when absent the operator builds its
    // own behind the standard persist bracket.
    val matched = matchedOpt
      .map(_.servedTo(SubstringParams(n, maxDf), "substringTrimApply"))
      .getOrElse(substringMatchedQuads(df, idCol, textCol, n, maxDf,
        materialize, checkpointDir))
    locally {
      // islands over pb per (doc_b, doc_a, diag): same lockstep-diagonal
      // stitching as exactSubstringPairs, but anchored on the HIGHER-id side
      // whose positions get cut. repartition on doc_b up front — the window
      // and groupBy keys extend it, so they add local sorts, never exchanges.
      val w1 = Window.partitionBy("doc_b", "doc_a", "diag").orderBy("pb")
      val runs = matched.withColumn("diag", col("pa") - col("pb"))
        .repartition(col("doc_b"))
        .withColumn("grp", col("pb") - row_number().over(w1))
        .groupBy(col("doc_b"), col("doc_a"), col("diag"), col("grp"))
        .agg(min(col("pb")).as("strt"),
          (count(lit(1)) + lit(n - 1).cast("long")).as("len"))
        .filter(col("len") >= minSpan)
      // covered token positions in the higher-id doc (distinct: overlapping
      // spans from different partners cut each position once)
      val cover = runs.select(col("doc_b").as("doc_id"),
          explode(sequence(col("strt").cast("long"),
            col("strt").cast("long") + col("len") - 1)).as("cut"))
        .distinct()
      val trimmedIds = cover.select(col("doc_id")).distinct()
      // token-level rebuild over trimmed docs ONLY. The trimmed-id set is
      // NOT force-broadcast: it is bounded by the corpus's duplicated-span
      // mass, which in a real web corpus is a few PERCENT of all docs
      // (Lee et al. measure multi-percent verbatim-dup rates) — O(10^8) ids
      // at 5 B docs, far past any broadcast limit. The join key is one
      // narrow long, so a co-partitioned shuffle join is cheap, and AQE
      // still picks broadcast at runtime whenever the set IS genuinely
      // small (the common fixture-scale case).
      val coverK = cover.select(col("doc_id").as("__cdoc"), col("cut"))
      val trimmedToks = df
        .join(trimmedIds.select(col("doc_id").as("__tid")),
          col(idCol) === col("__tid"))
        .select(col(idCol).as("doc_id"),
          posexplode(Text.tokens(col(textCol))).as(Seq("pos", "t")))
        .join(coverK, col("doc_id") === col("__cdoc") &&
          col("pos").cast("long") === col("cut"), "left_anti")
      val rebuilt = trimmedToks
        .groupBy(col("doc_id"))
        .agg(
          concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t"))).as("__kept_text"),
          count(lit(1)).as("__n_kept"))
      val base = df.select(col(idCol).as("doc_id"),
        Text.tokens(col(textCol)).as("__toks"))
      base
        .join(trimmedIds.withColumn("__trimmed", lit(true)), Seq("doc_id"), "left")
        .join(rebuilt, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          when(col("__trimmed").isNotNull, coalesce(col("__kept_text"), lit("")))
            .otherwise(concat_ws(" ", col("__toks"))).as("text"),
          when(col("__trimmed").isNotNull,
            size(col("__toks")).cast("long") - coalesce(col("__n_kept"), lit(0L)))
            .otherwise(lit(0L)).as("n_removed"))
        .orderBy("doc_id")
    }
  }

  /** Exact n-gram (word k-shingle) Jaccard near-dup pairs via an inverted
    * index: explode shingle hashes, equi-join on the hash, count common per pair.
    * No document cross join; the join key is a 60-bit shingle hash.
    *
    * This is the exact BASELINE: a stop-shingle shared by d documents still
    * contributes O(d²) candidate pairs. At 100 TB use
    * [[ngramJaccardCappedPairs]] (df-capped index, still exact-verified) or
    * [[minHashLshPairs]] — those are the scale defaults.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        materialize: Boolean = true,
                        checkpointDir: Option[String] = None): DataFrame = {
    // the exploded inverted index is cached for the bracket's lifetime only:
    // the self-join would otherwise recompute tokenization+md5 for both
    // sides. The persisted form is (doc_id, h) longs — far smaller than the
    // source text.
    withShingleIndex(shingleHashesExploded(df, idCol, textCol, k),
        materialize, checkpointDir) { ex0 =>
      val sz = ex0.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // (a round-13 A/B also dropped SINGLETON hashes from the self-join
      // sides via a df >= 2 pre-aggregation — identical output, but the
      // added agg+join measured as pure cost on the fixture, whose shingle
      // mass is only 0.08% singletons; reverted. The df-capped variant
      // keeps the restriction for free inside its existing `rare` filter.)
      // sz is one row per doc — AQE turns this into a broadcast join locally;
      // at scale it's a co-partitioned shuffle on doc_id either way
      val ex = ex0.join(sz, "doc_id").select(col("doc_id"), col("sz"), col("h"))
      ex.as("a").join(ex.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sz").as("sza"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("common"))
        .withColumn("jaccard", round(
          col("common").cast("double") /
            (col("sza") + col("szb") - col("common")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }.orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard with a document-frequency cap on the *index* — the
    * 100 TB-scale variant of [[ngramJaccardPairs]]. Shingles occurring in
    * more than `maxDf` documents are dropped from the inverted index (a
    * stop-shingle appearing in d docs contributes O(d²) candidate pairs and
    * almost no discrimination); candidates are then verified with exact
    * Jaccard over the FULL shingle sets, so precision is exact — only recall
    * depends on each true near-dup pair sharing at least one sub-cap shingle.
    *
    * Candidate generation stays the index SELF-JOIN on h, deliberately: a
    * round-12 A/B measured the "obvious" alternative — groupBy(h) +
    * sort_array(collect_list(doc_id)) + an i<j combination explode, which
    * shuffles the index once instead of twice — 15-40% SLOWER at sf0.1 on
    * both this sweep and [[containmentPairs]] (3.15 s vs 2.73 s, and 3.63 s
    * vs 2.10 s, same box, warmed runs): the ObjectHashAggregate list
    * build + per-element slice() copies cost more than the codegen'd
    * shuffled-hash join they replace. The pair MASS (O(df²) per shingle,
    * the true cost driver) is identical either way — the df cap bounds it,
    * and that bound, not the join idiom, is what survives a 100x scale-up.
    */
  def ngramJaccardCappedPairs(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, threshold: Double = 0.5, maxDf: Int = 50,
                              materialize: Boolean = true,
                              checkpointDir: Option[String] = None,
                              minDf: Int = 2): DataFrame = {
    // minDf exists ONLY as the measurement handle for the Heaps-law A/B
    // (minDf=1 reproduces the pre-round-13 index); every declared query
    // uses the default 2. MEASURED (round 14) on a high-singleton fixture
    // (ScaleToolsSpec "df >= 2 fold-in" geometry at 60k docs, 93.8%
    // singleton shingle vocabulary, local[32], warmed min-of-2): minDf=1
    // 5.18 s vs minDf=2 3.96 s — 1.31x from the fold-in alone once the
    // corpus is Heaps-law-shaped, with identical output (suite-asserted).
    // The committed sf0.1 fixture is the opposite extreme (0.08% singleton
    // mass), where round 13 measured the fold-in as a wash.
    withShingleIndex(shingleHashesExploded(df, idCol, textCol, k),
        materialize, checkpointDir) { ex0 =>
    // the index keeps only shingles with 2 <= df <= maxDf: above the cap is
    // boilerplate (O(d²) pairs, no signal), and df = 1 hashes can never
    // produce an a < b pair — at any real corpus scale MOST shingles are
    // unique (Heaps law), so the singleton mass skips both self-join
    // exchanges for free (the round-8 [[verifiedSubstringMatches]] lesson,
    // folded into the existing filter — a separate df >= 2 pre-join A/B'd
    // as pure overhead on the fixture). `dropped` then counts above-cap AND
    // singleton shingles, so the pruning bound
    // common <= cr + min(dropped_a, dropped_b) stays sound (a singleton is
    // by definition absent from the other doc, so it inflates the bound by
    // at most the singleton count — 0.08% of the fixture's mass); the
    // survivors are still verified EXACTLY, so the output is unchanged.
    val rare = ex0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val idx = ex0.join(rare, "h").select("doc_id", "h")

    // per-doc stats: full set size and how many shingles the index dropped
    val stats = ex0.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .join(idx.groupBy("doc_id").agg(count(lit(1)).as("szr")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"), (col("sz") - coalesce(col("szr"), lit(0L))).as("dropped"))

    // shared-rare-shingle count per candidate pair (groupBy, no distinct)
    val pairCounts = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cr"))
    val sets = shingleSets(ex0)

    // exact-pruning bound: true common <= cr + min(dropped_a, dropped_b), and
    // Jaccard is increasing in common, so J <= jUpper; pairs below threshold
    // on the upper bound cannot qualify and skip verification entirely. The
    // bound is compared ROUNDED to the final filter's 6 dp: round is
    // monotone, so round(jUpper) >= round(jaccard) and the prune is provably
    // never tighter than the verify gate (closes the theoretical
    // prune-vs-oracle mismatch for a pair landing in [threshold-5e-7,
    // threshold) with zero df-cap slack).
    val bounded = pairCounts
      .join(stats.select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("dropped").as("da")), "doc_a")
      .join(stats.select(col("doc_id").as("doc_b"), col("sz").as("szb"), col("dropped").as("db")), "doc_b")
      .withColumn("ub", col("cr") + least(col("da"), col("db")))
      .filter(round(col("ub").cast("double") /
        (col("sza") + col("szb") - col("ub")).cast("double"), 6) >= threshold)
      .select("doc_a", "doc_b")

    // exact verification of the survivors only
    bounded
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hsa"), col("sz").as("sza")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hsb"), col("sz").as("szb")), "doc_b")
      .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    }.orderBy("doc_a", "doc_b")
  }

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard over
    * the shingle-hash sets.
    *
    * numPerm permutations h_i(x) = (a_i x + b_i) mod P, banded `bands` × `rows`;
    * candidate pairs share at least one band signature; candidates are then
    * verified exactly, so LSH false positives never reach the output.
    */
  /** Per-doc shingle-hash sets: (doc_id, hs ARRAY<LONG>, sz). Public so
    * incremental dedup can persist and reuse the index.
    */
  def shingleSets(ex0: DataFrame): DataFrame =
    ex0.groupBy("doc_id")
      .agg(collect_list(col("h")).as("hs"), count(lit(1)).as("sz"))

  /** CONTAINMENT near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ threshold
    * over word-k-shingle sets — the ASYMMETRIC duplicate measure. A short
    * document wholly quoted inside a long one has Jaccard ≈ |A|/|B| (small)
    * but containment ≈ 1: exactly the subset-duplication case the symmetric
    * Jaccard/MinHash family under-scores (Broder's containment, the measure
    * behind suffix-aware web dedup). Same df-capped inverted-index shape as
    * [[ngramJaccardCappedPairs]] — shared-rare-hash pair counts, an exact
    * pruning bound, full-set verification of survivors only — with the
    * containment bound: a common shingle the rare index missed was above
    * the df cap and therefore dropped from BOTH docs, so
    * common ≤ cr + min(dropped_a, dropped_b) and
    * C ≤ (cr + min(da, db)) / min(sza, szb).
    *
    * Output: (doc_a, doc_b, containment, jaccard, direction) — direction is
    * 'a_in_b' when |A| ≤ |B| (ties included) else 'b_in_a'; rows with high
    * containment but low jaccard are the subset-dup signature. Both ratios
    * round to 6 and the threshold gates the ROUNDED containment (both
    * engines compare identical quantized values).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8, maxDf: Int = 50,
                       materialize: Boolean = true,
                       checkpointDir: Option[String] = None): DataFrame = {
    withShingleIndex(shingleHashesExploded(df, idCol, textCol, k),
        materialize, checkpointDir) { ex0 =>
    // 2 <= df <= maxDf index: singleton hashes never pair, so they skip the
    // self-join for free; `dropped` absorbs them and the prune bound stays
    // sound with exact verification downstream — see
    // [[ngramJaccardCappedPairs]] for the full argument
    val rare = ex0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val idx = ex0.join(rare, "h").select("doc_id", "h")

    // per-doc stats: full set size and how many shingles the index dropped
    val stats = ex0.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      .join(idx.groupBy("doc_id").agg(count(lit(1)).as("szr")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"), (col("sz") - coalesce(col("szr"), lit(0L))).as("dropped"))

    // shared-rare-shingle count per candidate pair (groupBy, no distinct)
    val pairCounts = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("cr"))
    val sets = shingleSets(ex0)
    val bounded = pairCounts
      .join(stats.select(col("doc_id").as("doc_a"), col("sz").as("sza"),
        col("dropped").as("da")), "doc_a")
      .join(stats.select(col("doc_id").as("doc_b"), col("sz").as("szb"),
        col("dropped").as("db")), "doc_b")
      .withColumn("ub", col("cr") + least(col("da"), col("db")))
      // ROUNDED to the final filter's 6 dp — round-monotonicity makes the
      // prune provably never tighter than the verify gate
      .filter(round(col("ub").cast("double") /
        least(col("sza"), col("szb")).cast("double"), 6) >= threshold)
      .select("doc_a", "doc_b")
    bounded
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hsa"),
        col("sz").as("sza")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hsb"),
        col("sz").as("szb")), "doc_b")
      .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("containment", round(
        col("common").cast("double") / least(col("sza"), col("szb")).cast("double"), 6))
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .withColumn("direction",
        when(col("sza") <= col("szb"), lit("a_in_b")).otherwise(lit("b_in_a")))
      .select("doc_a", "doc_b", "containment", "jaccard", "direction")
    }.orderBy("doc_a", "doc_b")
  }

  /** Banded MinHash signatures: (doc_id, band_id, sig) — the LSH candidate
    * join key. One imperative aggregate builds the whole signature (see
    * graft.plans.MinHashSignature).
    */
  def bandedSignatures(ex0: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val rows = numPerm / bands
    val sigs = ex0.groupBy("doc_id")
      .agg(graft.plans.MinHashAggregate.minhashSignature(col("h"), numPerm).as("sig"))
    val bandCols = (0 until bands).map { j =>
      concat_ws("_", (0 until rows).map(r => element_at(col("sig"), j * rows + r + 1)): _*)
    }
    sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "sig")))
  }

  /** Persist the MinHash-LSH dedup index — the build-once half of
    * INCREMENTAL dedup, mirroring [[Similarity.ivfStore]] and
    * `TextAnalysis.bpeStore`: the banded signatures (the LSH candidate key)
    * and the per-doc shingle-hash sets (the exact-verify side) as parquet.
    * [[dedupIncremental]] then flags each NEW ingest batch against the
    * store without ever re-scanning or re-signing the historical corpus —
    * the shape a growing corpus actually needs (re-running full-corpus
    * dedup per ingest batch is quadratic in corpus lifetime).
    * These entries serve scheduled pipelines and the REPORT shape (flagged
    * pairs with their Jaccard); [[applyIncrementalDedup]] is the
    * admit/reject shape.
    */
  def minhashIndexStore(docs: DataFrame, dir: String, idCol: String, textCol: String,
                        k: Int = 3, numPerm: Int = 64, bands: Int = 16): Unit = {
    val ex = shingleHashesExploded(docs, idCol, textCol, k).persist()
    ex.count() // signatures + sets share the index; compute it once
    try {
      bandedSignatures(ex, numPerm, bands).write.mode("overwrite").parquet(s"$dir/bands")
      shingleSets(ex).write.mode("overwrite").parquet(s"$dir/sets")
    } finally {
      ex.unpersist(blocking = false)
      ()
    }
  }

  /** INCREMENTAL near-dup detection: flag documents of a NEW ingest batch
    * whose word-shingle Jaccard against ANY document already in the stored
    * corpus index (see [[minhashIndexStore]]) reaches `threshold`.
    * Candidate generation and verification are identical to
    * [[minHashLshPairs]] restricted to cross (new × stored) pairs — same
    * signatures, same banding, same exact-Jaccard gate (suite-asserted
    * against the union-corpus run).
    *
    * Scale shape: the stored index is READ, never rebuilt — parquet scans
    * of (band_id, sig, doc_id) and (doc_id, hs, sz). The new batch signs
    * itself and joins onto the candidate and verify sides WITHOUT a forced
    * broadcast hint: an ingest slice is usually tiny and AQE broadcasts it
    * at runtime from its OBSERVED size (history never shuffles), but a
    * backfill-sized "batch" must not be forced into the driver — the hinted
    * form OOMs exactly there. For a genuine backfill, either chunk the
    * input into ingest-sized batches (each call then stays in the AQE
    * broadcast regime) or run the full [[minHashLshPairs]] over the union
    * corpus once and rebuild the store.
    * Returns (new_id, old_id, jaccard), one row per flagged cross pair.
    */
  def dedupIncremental(spark: SparkSession, dir: String, newDocs: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 3, numPerm: Int = 64, bands: Int = 16,
                       threshold: Double = 0.5): DataFrame = {
    val storedBands = spark.read.parquet(s"$dir/bands")
    val storedSets = spark.read.parquet(s"$dir/sets")
    val exN = shingleHashesExploded(newDocs, idCol, textCol, k)
    // NO broadcast hints on the batch side (round-11 verdict): AQE
    // broadcasts an ingest-sized batch at runtime from its observed size,
    // while a backfill-sized batch degrades safely to a shuffle join
    // instead of OOMing the driver mid-broadcast-build
    val cand = storedBands.as("a")
      .join(bandedSignatures(exN, numPerm, bands).as("b"),
        col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig"))
      .select(col("b.doc_id").as("new_id"), col("a.doc_id").as("old_id"))
      .distinct()
    cand
      .join(storedSets.select(col("doc_id").as("old_id"),
        col("hs").as("hsa"), col("sz").as("sza")), "old_id")
      .join(shingleSets(exN)
        .select(col("doc_id").as("new_id"), col("hs").as("hsb"), col("sz").as("szb")), "new_id")
      .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
      .orderBy("new_id", "old_id")
  }

  /** End-to-end INCREMENTAL dedup application: drop every new-batch doc
    * [[dedupIncremental]] flags against the stored corpus index, return the
    * surviving batch — the admit step of the ingest loop as a batch
    * operator. (Near-dups WITHIN the batch are not flagged here; at this
    * API level that is [[minHashLshPairs]] over the batch composed with
    * [[applyDedup]].)
    * Same anti-join shape as [[applyFuzzyDecontamination]]: the flag list
    * is batch-bounded and broadcasts, the batch is never shuffled.
    */
  def applyIncrementalDedup(spark: SparkSession, dir: String, newDocs: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 3, numPerm: Int = 64, bands: Int = 16,
                            threshold: Double = 0.5): DataFrame = {
    val flagged = dedupIncremental(spark, dir, newDocs, idCol, textCol,
        k, numPerm, bands, threshold)
      .select(col("new_id").as("__drop_id")).distinct()
    // no broadcast hint: the flag list is batch-bounded, so AQE broadcasts
    // it for ingest slices but a backfill-sized batch stays off the driver
    newDocs.join(flagged, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** End-to-end dedup APPLICATION — the step a training pipeline actually
    * ships: collapse near-dup `pairs` (from any pair emitter in this file or
    * [[Similarity]]) into clusters via [[ConnectedComponents]] and return
    * `df` with every NON-CANONICAL member removed (canonical = minimum id
    * per cluster). Unpaired documents pass through untouched.
    *
    * Scale shape: the pair list (tiny relative to the corpus — it only
    * names near-duplicates) drives an equi anti-join keyed on the id; the
    * corpus is never shuffled on anything but that join. Duplicate/unsorted
    * pairs are absorbed by min-label CC, so raw candidate feeds work.
    */
  def applyDedup(df: DataFrame, pairs: DataFrame, idCol: String,
                 aCol: String = "doc_a", bCol: String = "doc_b",
                 checkpointDir: Option[String] = None,
                 pairsMaterialized: Boolean = false): DataFrame = {
    val dropIds = ConnectedComponents.components(pairs, aCol, bCol,
        checkpointDir = checkpointDir, inputMaterialized = pairsMaterialized)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("__drop_id"))
    df.join(dropIds, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** QUALITY-aware dedup application — the canonical-selection rule real
    * pipelines actually want: within each near-dup cluster keep the
    * HIGHEST-QUALITY copy (composite quality score, ties to the lower id),
    * not the lowest id. A crawl usually sees the cleanest copy of a page
    * neither first nor last — min-id selection keeps whichever mirror was
    * crawled first, this keeps the best one. Same pair + component
    * composition as [[applyDedup]] (bounded LSH fan-out, pointer-jumping
    * CC); quality is the integer micro-unit composite of
    * `TextAnalysis.qualityScore`, joined onto cluster members only (the
    * engaged-doc set, a small fraction of the corpus), and the keep-rule is
    * one per-cluster `min_by` aggregate.
    */
  def applyDedupQuality(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numPerm: Int = 64, bands: Int = 16,
                        threshold: Double = 0.5,
                        checkpointDir: Option[String] = None): DataFrame =
    applyDedupQuality(docs,
      minHashLshPairs(docs, idCol, textCol, k, numPerm, bands,
        threshold, checkpointDir = checkpointDir),
      idCol, textCol, checkpointDir)

  /** [[applyDedupQuality]] over a PRECOMPUTED (already materialized) pair
    * set — the build-once/serve-many entry point: one session running
    * several cluster-family queries (apply, quality apply, per-source
    * stats, sketch audit) builds the LSH pair surface once and feeds it to
    * each consumer, exactly like the stored-index serving paths.
    */
  def applyDedupQuality(docs: DataFrame, pairs: DataFrame,
                        idCol: String, textCol: String,
                        checkpointDir: Option[String]): DataFrame =
    docs.join(dedupQualityDropIds(docs, pairs, checkpointDir),
      col(idCol) === col("__drop_id"), "left_anti")

  /** The quality-aware drop-id set behind [[applyDedupQuality]] — factored
    * out so pipeline compositions ([[Pipeline.trainingManifest]]) can combine
    * it with other per-doc drop/keep sets BEFORE touching the corpus text
    * (one id anti-join at the end instead of a materialized survivor corpus
    * per stage). `docs` only feeds the per-doc quality score, which is
    * corpus-membership-independent — callers may pass a SUPERSET of the
    * corpus the pairs were drawn from (only cluster members' scores are
    * ever consumed).
    */
  def dedupQualityDropIds(docs: DataFrame, pairs: DataFrame,
                          checkpointDir: Option[String]): DataFrame = {
    val comps = ConnectedComponents.components(pairs, "doc_a", "doc_b",
      checkpointDir = checkpointDir, inputMaterialized = true)
    val quality = TextAnalysis.qualityScore(docs)
      .select(col("doc_id").as("node"),
        round(col("quality_score") * 1e6).cast("long").as("q_u"))
    // keep-selection and drop-derivation FUSED into one cluster-keyed
    // aggregation: the winner rides min_by while the membership rides a
    // collect_list (bounded by cluster size — the same per-cluster bound
    // every dedup consumer of the component structure already accepts), so
    // the non-winners explode straight out of the aggregate. The first
    // draft derived keep with a groupBy and joined it BACK onto the
    // components — three extra exchanges that measured +1.3 s at sf0.1 for
    // zero semantic difference.
    comps.join(quality, "node")
      .groupBy(col("cluster_id"))
      .agg(
        min_by(col("node"), struct((-col("q_u")).as("nq"), col("node"))).as("keep"),
        collect_list(col("node")).as("members"))
      .select(col("keep"), explode(col("members")).as("__drop_id"))
      .filter(col("__drop_id") =!= col("keep"))
      .select("__drop_id")
  }

  /** EXACT-dedup application — the apply sibling of [[exactCanonical]]:
    * keep exactly one copy (the lowest id) of every byte-identical text,
    * drop the rest. The canonical table groups on the text itself, in
    * lock-step with [[exactCanonical]]'s dedup_exact report (at 100 TB the
    * production form prefilters on a 60-bit hash so only hash-colliding
    * texts travel — [[graft.operators.TextAnalysis.normalizedDedup]]
    * documents that shape; here the report and the apply must agree
    * byte-for-byte, so both key on text).
    */
  def applyExactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = docs.groupBy(col(textCol)).agg(min(col(idCol)).as("__keep"))
    docs.join(canon, Seq(textCol))
      .filter(col(idCol) === col("__keep"))
      .drop("__keep")
  }

  /** Per-SOURCE duplicate-mass report over the MinHash-LSH cluster
    * structure — the "which sources are paying for the dedup pass" number a
    * corpus curator reads next to [[sourceOverlap]]'s cross-source matrix:
    * near-dup pairs ([[minHashLshPairs]]) collapse into connected
    * components, every non-canonical member counts as duplicate mass
    * against its source, and each source reports docs / clustered docs /
    * duplicates / integer per-mille dup mass. A source whose dup_permille
    * spikes is a mirror, a re-crawl, or a template farm — the signal that
    * decides whether to drop, trim, or re-weight it before training.
    *
    * Shape at scale: the pair + component composition is exactly
    * [[applyDedup]]'s (bounded LSH fan-out, O(log diameter) pointer-jumping
    * rounds); the report itself is one vec-keyed join of the component
    * labels back to the corpus metadata and two map-side-combined hash
    * aggregations — output is nSources rows at any corpus size.
    */
  def clusterStatsBySource(docs: DataFrame, idCol: String, srcCol: String,
                           textCol: String, k: Int = 3, numPerm: Int = 64,
                           bands: Int = 16, threshold: Double = 0.5,
                           checkpointDir: Option[String] = None): DataFrame =
    clusterStatsBySource(docs,
      minHashLshPairs(docs, idCol, textCol, k, numPerm, bands,
        threshold, checkpointDir = checkpointDir),
      idCol, srcCol, checkpointDir)

  /** [[clusterStatsBySource]] over a PRECOMPUTED pair set (see the
    * [[applyDedupQuality]] overload for the build-once/serve-many shape).
    */
  def clusterStatsBySource(docs: DataFrame, pairs: DataFrame,
                           idCol: String, srcCol: String,
                           checkpointDir: Option[String]): DataFrame = {
    val comps = ConnectedComponents.components(pairs, "doc_a", "doc_b",
      checkpointDir = checkpointDir, inputMaterialized = true)
    val labeled = docs.select(col(idCol).as("node"), col(srcCol).as("source"))
      .join(comps, Seq("node"), "left")
    labeled
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("cluster_id").isNotNull && col("node") =!= col("cluster_id"), 1L)
          .otherwise(0L)).as("n_duplicates"))
      .select(col("source"), col("n_docs"), col("n_clustered"), col("n_duplicates"),
        expr("n_duplicates * 1000 DIV n_docs").as("dup_permille"))
      .orderBy("source")
  }

  /** MinHash ESTIMATION-ERROR audit — the "can I trust the sketch at this
    * numPerm" number that decides signature sizing before a 100 TB dedup
    * run: for every verified LSH pair, the signature-agreement estimate
    * ĵ = (#agreeing permutations)/numPerm next to the exact Jaccard, with
    * the absolute error in integer ppm. E[ĵ] = J and stddev ≈ √(J(1−J)/64)
    * ≈ 6 ppt at J = 0.5 — pairs far outside that band indicate broken hash
    * mixing, not sampling noise (the audit that catches a bad permutation
    * family before it silently tanks recall).
    *
    * Shape at scale: the pair surface is [[minHashLshPairs]] (already
    * LSH-bounded and exact-verified); each side's full signature is the one
    * imperative [[graft.plans.MinHashAggregate]] pass, joined back
    * doc-keyed; the per-pair agreement count is a narrow zip_with fold —
    * numPerm integers per row, no extra exchange beyond the two signature
    * joins. est_ppm = matches·(1e6/numPerm) stays exact integer arithmetic;
    * the exact side enters as round(jaccard·1e6) (exact: the round-6 double
    * times 1e6 sits within 2⁻⁴⁰ of an integer).
    */
  def minHashEstimateAudit(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, numPerm: Int = 64, bands: Int = 16,
                           threshold: Double = 0.5,
                           checkpointDir: Option[String] = None): DataFrame =
    minHashEstimateAudit(docs,
      minHashLshPairs(docs, idCol, textCol, k, numPerm, bands,
        threshold, checkpointDir = checkpointDir),
      idCol, textCol, k, numPerm)

  /** [[minHashEstimateAudit]] over a PRECOMPUTED pair set (see the
    * [[applyDedupQuality]] overload for the build-once/serve-many shape);
    * the signature table is still built here — it is audit-specific.
    */
  def minHashEstimateAudit(docs: DataFrame, pairs: DataFrame,
                           idCol: String, textCol: String,
                           k: Int, numPerm: Int): DataFrame = {
    require(1000000 % numPerm == 0, s"numPerm $numPerm must divide 1e6 for exact ppm")
    val sigs = shingleHashesExploded(docs, idCol, textCol, k)
      .groupBy("doc_id")
      .agg(graft.plans.MinHashAggregate.minhashSignature(col("h"), numPerm).as("sig"))
    val matches = aggregate(
      zip_with(col("siga"), col("sigb"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .withColumn("sig_matches", matches)
      .select(
        col("doc_a"), col("doc_b"), col("jaccard"),
        col("sig_matches"),
        (col("sig_matches") * lit(1000000L / numPerm)).as("est_ppm"),
        abs(col("sig_matches") * lit(1000000L / numPerm) -
          round(col("jaccard") * 1e6).cast("long")).as("err_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** End-to-end decontamination APPLICATION: drop every training document
    * whose longest TRUE verbatim run against the holdout reaches
    * `minSpanTokens` (the Lee-et-al rule; isolated sub-threshold n-gram
    * overlap is tolerated), return the surviving corpus. Span geometry comes
    * from [[exactSubstringContamination]] — string-verified matches,
    * lockstep diagonal stitching.
    */
  def applyDecontamination(train: DataFrame, holdout: DataFrame,
                           idCol: String, textCol: String, n: Int = 13,
                           minSpanTokens: Int = 13,
                           checkpointDir: Option[String] = None,
                           reportOpt: Option[Surface[ContaminationParams, DataFrame]] = None): DataFrame = {
    require(minSpanTokens >= n, s"span threshold $minSpanTokens below the index n=$n")
    // reportOpt injects a PRECOMPUTED [[exactSubstringContamination]] report
    // over the same (train, holdout, n) — the session-shared serve path;
    // when absent the operator derives its own.
    val flagged = reportOpt
        .map(_.servedTo(ContaminationParams(n), "applyDecontamination"))
        .getOrElse(exactSubstringContamination(train, holdout, idCol, textCol, n,
          checkpointDir = checkpointDir))
      .filter(col("longest_span") >= minSpanTokens)
      .select(col("doc_id").as("__drop_id"))
    train.join(flagged, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** FUZZY benchmark decontamination — the MinHash sibling of
    * [[contaminationReport]] (exact shared-shingle flag) and
    * [[exactSubstringContamination]] (verbatim-span geometry): flags
    * training documents whose word-shingle-set Jaccard against ANY holdout
    * item reaches `threshold`, catching paraphrased or partially rewritten
    * benchmark text where token edits break every 13-gram run but leave
    * most of the shingle set intact (the near-dup contamination mode the
    * exact rules miss).
    *
    * Scale shape: signatures build per side with the imperative MinHash
    * aggregate; candidates come from a BIPARTITE equi-join on
    * (band_id, sig) — train never self-joins, so fan-out is bounded by
    * true near-matches, never doc×doc. The holdout (a benchmark set —
    * thousands of rows against billions of docs) is broadcast on both the
    * candidate and verify joins, so the corpus is never shuffled at all.
    * Candidates are verified with EXACT Jaccard over the two shingle-hash
    * sets: banding false positives never reach the output (recall is the
    * banding curve — bands=32/rows=2 by default, >99.6% at J=0.4).
    *
    * Returns (doc_id, hold_id, jaccard), one row per flagged
    * train×holdout pair above threshold.
    */
  def fuzzyContamination(train: DataFrame, holdout: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 3, numPerm: Int = 64, bands: Int = 32,
                         threshold: Double = 0.4,
                         materialize: Boolean = true,
                         checkpointDir: Option[String] = None): DataFrame =
    withShingleIndexes(shingleHashesExploded(train, idCol, textCol, k),
        shingleHashesExploded(holdout, idCol, textCol, k),
        materialize, checkpointDir) { (exT, exH) =>
      val shH = shingleSets(exH)
        .select(col("doc_id").as("hold_id"), col("hs").as("hsb"), col("sz").as("szb"))
      val cand = bandedSignatures(exT, numPerm, bands).as("a")
        .join(broadcast(bandedSignatures(exH, numPerm, bands).as("b")),
          col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("hold_id"))
        .distinct()
      cand
        .join(shingleSets(exT)
          .select(col("doc_id"), col("hs").as("hsa"), col("sz").as("sza")), "doc_id")
        .join(broadcast(shH), "hold_id")
        .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
        .withColumn("jaccard", round(
          col("common").cast("double") /
            (col("sza") + col("szb") - col("common")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_id", "hold_id", "jaccard")
    }.orderBy("doc_id", "hold_id")

  /** End-to-end FUZZY decontamination application: drop every training
    * document [[fuzzyContamination]] flags against the holdout, return the
    * surviving corpus — the near-dup sibling of [[applyDecontamination]]
    * (which only catches verbatim spans). Same anti-join shape as
    * [[applyDedup]]: the flag list is tiny, the corpus is only ever
    * shuffled on the id equi-join.
    */
  def applyFuzzyDecontamination(train: DataFrame, holdout: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 3, numPerm: Int = 64, bands: Int = 32,
                                threshold: Double = 0.4): DataFrame = {
    val flagged = fuzzyContamination(train, holdout, idCol, textCol,
        k, numPerm, bands, threshold)
      .select(col("doc_id").as("__drop_id")).distinct()
    train.join(flagged, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the fraction of
    * each document's distinct word-k-shingles that appear NOWHERE in the
    * reference — the "how much of this is new text" curation signal (the
    * complement of the Lee-et-al duplicate-fraction measure; a re-crawl or
    * boilerplate page scores near 0, genuinely fresh text near 1). Useful
    * both for ingest gating (drop near-zero-novelty docs as redundant) and
    * for valuing candidate corpora against what a pipeline already holds.
    *
    * Scale shape: both corpora collapse to distinct shingle-hash indexes
    * (the 60-bit hashes shuffle, never the text); novelty is ONE hash-keyed
    * left join of the doc index against the reference's distinct-hash set —
    * no broadcast hint (the reference shingle set is corpus-sized; AQE
    * decides) — and a doc-keyed partial aggregation. Output is one row per
    * document. Shingle-less docs (< k tokens) report novelty 0.
    */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, k: Int = 3): DataFrame = {
    val exD = shingleHashesExploded(docs, idCol, textCol, k)
    val refSet = shingleHashesExploded(ref, idCol, textCol, k)
      .select("h").distinct()
    val flagged = exD
      .join(refSet.withColumn("__seen", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
          .otherwise(lit(0.0)).as("novelty"))
      .orderBy("doc_id")
  }

  /** Cross-SOURCE leakage matrix — the dataset-curation report that tells a
    * mixture planner which corpus sources duplicate each other (scraped
    * mirrors, re-crawls, shared upstream dumps). For every source pair
    * (source_a < source_b): the number of distinct cross-source doc pairs
    * sharing at least one df-capped word-k-shingle hash, plus how many
    * distinct docs on each side are touched.
    *
    * See also [[ngramNovelty]] for the per-DOCUMENT cross-corpus overlap
    * measure (novelty against a reference corpus).
    *
    * Scale shape: the corpus collapses to the distinct
    * (doc, source, shingle-hash) index once — the source label is carried
    * through the initial codegen projection, so no doc-keyed join against
    * the corpus-sized doc→source map is ever needed (source is functionally
    * dependent on the doc id, so the distinct's cardinality is unchanged);
    * the df cap (2 ≤ df ≤ maxDf) prunes boilerplate shingles BEFORE the
    * pair fan-out exactly like [[ngramJaccardCappedPairs]], so candidate
    * mass is bounded by genuinely-shared rare shingles, never doc × doc.
    * The output is source-pair-sized — a handful of rows at any corpus
    * scale.
    *
    * The distinct-doc counts are SKEW-SAFE by construction: a
    * `countDistinct` grouped on (source_a, source_b) would route every
    * flagged pair row of a hot source pair through that one grouping key —
    * and a two-source corpus has exactly ONE key. Each count is instead a
    * distinct on (pair, doc) — an exchange spread by the doc id — followed
    * by a plain count whose map-side partial combine hands the pair-keyed
    * exchange one row per pair per task. The flagged pair set feeds three
    * aggregations, so it is materialized once (same bracket convention as
    * [[minHashLshPairs]]).
    */
  def sourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, k: Int = 3, maxDf: Int = 50,
                    materialize: Boolean = true,
                    checkpointDir: Option[String] = None): DataFrame = {
    val ex = PartitionUtil.spread(docs, idCol)
      .select(col(idCol).as("doc_id"), col(srcCol).as("src"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("src"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("toks")) - k)
      .select(col("doc_id"), col("src"),
        Hashing.hash60(concat_ws(" ", (0 until k).map(i =>
          element_at(col("toks"), col("pos") + i + 1)): _*)).as("h"))
      .distinct()
    val dfStats = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val shared = dfStats.filter(col("df") >= 2 && col("df") <= maxDf).select("h")
    val idx = ex.join(shared, "h")
    val pairs0 = idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .select(col("a.src").as("source_a"), col("b.src").as("source_b"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val pairs = if (materialize) Materialize.barrier(pairs0, checkpointDir) else pairs0
    // ONE consumer of the barriered pair set: the plain count and both
    // distinct doc counts ride a single multi-distinct aggregation
    // (Catalyst's Expand rewrite — still two-phase map-side-deduped per
    // (source_a, source_b, gid, doc), so just as skew-safe as the former
    // explicit distinct-then-count, but one exchange tree instead of three
    // barrier reads stitched by two joins; this was the suite's most
    // load-wave-sensitive query purely from consumer count).
    pairs.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_cross_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))
      .select("source_a", "source_b", "n_cross_pairs", "n_docs_a", "n_docs_b")
      .orderBy("source_a", "source_b")
  }

  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numPerm: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5,
                      materialize: Boolean = true,
                      checkpointDir: Option[String] = None): DataFrame = {
    // index cached for the bracket only: consumed three times (signature
    // build + both verify sides)
    withShingleIndex(shingleHashesExploded(df, idCol, textCol, k),
        materialize, checkpointDir) { ex0 =>
      val sh = shingleSets(ex0)
      val banded = bandedSignatures(ex0, numPerm, bands)

      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()

      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hsa"), col("sz").as("sza")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hsb"), col("sz").as("szb")), "doc_b")
        .withColumn("common", size(array_intersect(col("hsa"), col("hsb"))))
        .withColumn("jaccard", round(
          col("common").cast("double") /
            (col("sza") + col("szb") - col("common")).cast("double"), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    }.orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs. 60-bit simhash over token hashes; candidate
    * generation splits the fingerprint into `chunks` equal-width chunks and
    * equi-joins on (chunk_id, chunk_value) — by pigeonhole this has perfect
    * recall for Hamming distance < chunks, so the final bit_count filter makes
    * the result exact (identical to a cross join) while shuffling only
    * chunk-keyed rows.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    val nBits = 60
    val chunks = 4
    val chunkBits = nBits / chunks // 15
    require(maxDist < chunks, "pigeonhole recall requires maxDist < chunks")

    val tok = PartitionUtil.spread(df, idCol)
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("t"))
      .withColumn("h", Hashing.hash60(col("t")))

    // one imperative bit-balance aggregate instead of nBits sum() columns —
    // see graft.plans.SimHashAggregate for why
    val sim = tok.groupBy("doc_id")
      .agg(graft.plans.SimHashAggregate.simhash(col("h"), nBits).as("simhash"))

    val chunked = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * chunkBits).bitwiseAND((1L << chunkBits) - 1)): _*))
        .as(Seq("chunk_id", "chunk_val")))

    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sha"), col("b.simhash").as("shb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sha ^ shb)").cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance fuzzy dedup: pairs whose normalized texts have
    * |length difference| ≤ `maxLenDiff` AND whose `prefixLen`-char
    * normalized prefixes are within `maxDist` Levenshtein edits — catches
    * char-level mutations (typos, OCR noise) that token-shingle methods
    * miss.
    *
    * Blocking: the length bound is enforced by BUCKET EQUI-JOINS, never an
    * all-pairs comparison. With bucket width `maxLenDiff + 1`, a qualifying
    * pair's buckets differ by at most 1, so candidates = same-bucket pairs
    * (ordered `doc_a < doc_b`, each unordered pair compared ONCE) plus
    * adjacent-bucket pairs (bucket k joined to k+1 — also once; the two
    * branches are disjoint, so no dedup pass is needed). Candidate fan-out
    * is bounded by the length histogram, and the quadratic Levenshtein only
    * runs on the bounded prefix of length-compatible candidates.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 8, prefixLen: Int = 32,
                        maxLenDiff: Int = 16,
                        materialize: Boolean = true,
                        checkpointDir: Option[String] = None): DataFrame = {
    val w = maxLenDiff + 1
    val base0 = PartitionUtil.spread(df, idCol).select(
        col(idCol).as("doc_id"),
        TextAnalysis.normalize(col(textCol)).as("t"))
      .select(col("doc_id"), length(col("t")).as("len"),
        substring(col("t"), 1, prefixLen).as("pre"))
      .withColumn("bkt", floor(col("len") / w))
    // persist bracket: base feeds BOTH sides of BOTH candidate branches —
    // without it the normalize+substring pass runs four times
    withShingleIndex(base0, materialize, checkpointDir) { base =>
      def cand(joinKeys: Column, ordered: Boolean) =
        base.as("a").join(base.as("b"),
            joinKeys &&
              (if (ordered) col("a.doc_id") < col("b.doc_id") else lit(true)) &&
              abs(col("a.len") - col("b.len")) <= maxLenDiff)
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
            col("a.pre").as("p1"), col("b.pre").as("p2"))
      cand(col("a.bkt") === col("b.bkt"), ordered = true)
        .union(cand(col("a.bkt") + lit(1L) === col("b.bkt"), ordered = false))
        // thresholded levenshtein: banded DP, O(prefixLen * maxDist) per pair
        // with early exit, returning -1 above the threshold — ~4x less work
        // than the full O(prefixLen^2) distance at maxDist=8/prefixLen=32
        .withColumn("dist", levenshtein(col("p1"), col("p2"), maxDist))
        .filter(col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    }.orderBy("doc_a", "doc_b")
  }
}
