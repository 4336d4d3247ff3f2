package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Vectors => VecF}

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  *  - [[bruteForceTopK]]: exact cosine top-k against a broadcast probe — the
  *    baseline. Scales linearly: the probe is broadcast, scoring is a narrow
  *    map, and top-k is `TakeOrderedAndProject` (per-partition heaps + driver
  *    merge of k rows, never a global sort).
  *  - [[embeddingNearDupPairs]]: all-pairs cosine ≥ threshold. Exact; at test
  *    scale the pair join is a block nested loop. The 100 TB path is bucketed
  *    candidate generation (hyperplane LSH), same final filter.
  *  - [[ivfTopK]]: IVF-style bucketed search — vectors are assigned to their
  *    nearest k-means centroid at "index build" time; a probe only scans
  *    `nprobe` centroid buckets (partition pruning by centroid id).
  *  - [[pqEncode]] / [[pqTopK]] / [[ivfPqTopK]]: product quantization and
  *    IVFADC over per-subspace codebooks.
  *
  * Every index trains through ONE kernel, [[lloydFrame]]: IVF centroids are
  * k-means over whole vectors and PQ codebooks are k-means over sub-vectors
  * (Jégou et al. 2011), so both are the same keyed Lloyd loop — seedless
  * init + deterministic rounds with exact integer-quantized means, so every
  * index is oracle-checkable.
  */
object Similarity {

  /** Exact cosine top-k neighbors of `probeId`, excluding the probe itself. */
  def bruteForceTopK(emb: DataFrame, probeId: Long, k: Int): DataFrame = {
    val probe = broadcast(
      emb.filter(col("vec_id") === probeId).select(col("embedding").as("probe")))
    emb.filter(col("vec_id") =!= probeId)
      .crossJoin(probe)
      .withColumn("sim", round(VecF.cosine(col("embedding"), col("probe")), 6))
      .select("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** All vector pairs with cosine ≥ threshold (embedding near-dup).
    * Norms are computed once per vector before the pair join — the join then
    * evaluates one codegen'd dot product per pair instead of three array
    * traversals. Same values: norm-per-row is bit-identical to norm-per-pair.
    *
    * This is the exact O(n²) BASELINE — a deliberate quadratic. At 100 TB use
    * [[embeddingLshPairs]] (hyperplane-LSH candidates + exact-cosine verify):
    * that is the scale default; keep this one for small corpora and for
    * validating the LSH path's recall.
    */
  def embeddingNearDupPairs(emb0: DataFrame, threshold: Double): DataFrame = {
    // spread: a single small parquet file = one partition = a serial
    // pair loop; repartition so the O(n^2/2) join parallelizes
    val emb = PartitionUtil.spread(emb0, "vec_id")
    val withNorm = emb.select(col("vec_id"), col("embedding"), VecF.norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", round(VecF.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Deterministic ±1 hyperplane component: plane `i`, dimension `d`.
    * Pure integer arithmetic so the DuckDB oracle reproduces it exactly.
    */
  def hyperplaneSign(i: Int, d: Int): Double =
    if (((i.toLong * 1000003L + d) * 2654435761L) % 4294967296L < 2147483648L) 1.0 else -1.0

  /** Hyperplane-LSH embedding near-dup — the scale path for
    * [[embeddingNearDupPairs]]. Each vector gets `nBits` sign bits
    * (projection onto fixed ±1 hyperplanes, computed with the codegen dot
    * product against literal sign vectors); bits are banded into `nBits/4`
    * 4-bit chunks and candidates are pairs sharing any chunk — a shuffle
    * keyed on (chunk, value) with bounded fan-out instead of an O(n²) join.
    * Candidates are verified with exact cosine, so precision is exact;
    * recall is probabilistic and threshold-dependent: with 4 chunks of 4
    * bits, a cos ≥ 0.9 pair collides with p ≈ 0.96 while a cos ≈ 0.45 pair
    * only with p ≈ 0.4 — the config targets true near-duplicates; lower the
    * chunk width (more bands) to chase lower-similarity pairs.
    */
  def embeddingLshPairs(emb0: DataFrame, threshold: Double, nBits: Int = 16): DataFrame =
    embeddingLshPairsRaw(emb0, threshold, nBits)
      .dropDuplicates(Seq("vec_a", "vec_b"))
      .orderBy("vec_a", "vec_b")

  /** [[embeddingLshPairs]] without the final dedup/sort: a candidate pair
    * colliding in several chunks appears once per collision (verified each
    * time — `sim` is identical). Consumers whose semantics absorb duplicate
    * edges (min-label connected components) feed on this directly and skip
    * two shuffles; everyone else wants [[embeddingLshPairs]].
    *
    * `bandBits` sets the band (chunk) width: each band hashes vectors into
    * 2^bandBits buckets, and candidate generation is quadratic WITHIN a
    * bucket — so size bands to the corpus (expected bucket occupancy =
    * n / 2^bandBits). The fixture default (4-bit bands, 16 buckets) suits
    * hundreds-to-thousands of vectors; at 20k+ use 8-bit bands, and at
    * 100 TB widen further (e.g. 16-20 bits) so per-bucket occupancy stays
    * bounded. Wider bands trade recall per band for fan-out; recover recall
    * by raising `nBits` (more bands).
    */
  def embeddingLshPairsRaw(emb0: DataFrame, threshold: Double, nBits: Int = 16,
                           bandBits: Int = 4): DataFrame = {
    require(nBits % bandBits == 0)
    val nChunks = nBits / bandBits
    val emb = PartitionUtil.spread(emb0, "vec_id")
    // Embedding width read from the data itself (one single-row lookup — the
    // same bounded-metadata class as a broadcast dim table). Assumes a
    // rectangular corpus: every vector must share the first row's width, or
    // the sign projections silently mis-project (standard ANN-index
    // precondition; enforce upstream if the corpus is mixed-width).
    val dim = embeddingDim(emb0)
    if (dim == 0) // empty corpus (or empty vectors): no pairs, correct schema
      return emb0.limit(0).select(col("vec_id").as("vec_a"),
        col("vec_id").as("vec_b"), lit(0.0).as("sim"))
    val signVecs = (0 until nBits).map(i => (0 until dim).map(d => hyperplaneSign(i, d)))

    val bits = (0 until nBits).map { i =>
      (when(VecF.dot(col("embedding"), typedLit(signVecs(i))) > 0, 1).otherwise(0) * (1 << (i % bandBits))).as(s"bit$i")
    }
    val withBits = emb.select(col("vec_id") +: col("embedding") +: bits: _*)
    val chunkCols = (0 until nChunks).map { c =>
      (bandBits * c until bandBits * c + bandBits).map(i => col(s"bit$i")).reduce(_ + _).as(s"chunk$c")
    }
    val withNorm = withBits.select(
      (col("vec_id") +: col("embedding") +: chunkCols) :+ VecF.norm(col("embedding")).as("nrm"): _*)
    val chunked = withNorm.select(col("vec_id"),
      posexplode(array((0 until nChunks).map(c => col(s"chunk$c")): _*)).as(Seq("chunk_id", "chunk_val")))

    // candidates are NOT distinct'd here: the duplicate factor is bounded by
    // nChunks and the verify joins below broadcast the (small) vector side,
    // so re-verifying a duplicate is cheaper than a full dedup shuffle
    val cand = chunked.as("a").join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))

    val side = withNorm.select(col("vec_id"), col("embedding"), col("nrm"))
    cand
      .join(side.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(side.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("sim", round(VecF.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space sibling of
    * [[graft.operators.Dedup.fuzzyContamination]] (shingle space) and
    * [[graft.operators.Dedup.contaminationReport]] (exact shingles): flags
    * training vectors whose cosine against ANY holdout/benchmark vector
    * reaches `threshold`, catching contamination that survives arbitrary
    * token-level rewording (a paraphrase embeds near its source even when
    * not a single n-gram survives — the mode every text-space rule misses).
    *
    * Scale shape: both sides get `nBits` hyperplane sign bits (codegen dot
    * against literal ±1 vectors, width read from the train data); candidates
    * come from a BIPARTITE equi-join on (chunk_id, chunk_val) — train never
    * self-joins, and the holdout (a benchmark set: thousands of rows against
    * billions of vectors) is explicitly broadcast on the candidate AND
    * verify joins, so the corpus is never shuffled at all. Candidates are
    * verified with EXACT cosine: banding false positives never reach the
    * output; recall is the hyperplane collision curve (at the cos ≥ 0.9 the
    * default targets, ≥ 1 of four 4-bit chunks agrees with p ≈ 0.9995).
    * Returns (vec_id, hold_id, sim), one row per flagged pair.
    */
  def semanticContamination(train: DataFrame, holdout: DataFrame,
                            threshold: Double = 0.9, nBits: Int = 16,
                            bandBits: Int = 4): DataFrame = {
    require(nBits % bandBits == 0)
    val nChunks = nBits / bandBits
    val dim = embeddingDim(train)
    if (dim == 0)
      return train.limit(0).select(col("vec_id"),
        col("vec_id").as("hold_id"), lit(0.0).as("sim"))
    val signVecs = (0 until nBits).map(i => (0 until dim).map(d => hyperplaneSign(i, d)))
    def sideBits(emb: DataFrame, id: String): (DataFrame, DataFrame) = {
      val bits = (0 until nBits).map { i =>
        (when(VecF.dot(col("embedding"), typedLit(signVecs(i))) > 0, 1).otherwise(0) *
          (1 << (i % bandBits))).as(s"bit$i")
      }
      val withBits = emb.select(col("vec_id").as(id) +: col("embedding") +: bits: _*)
      val chunkCols = (0 until nChunks).map { c =>
        (bandBits * c until bandBits * c + bandBits).map(i => col(s"bit$i")).reduce(_ + _).as(s"chunk$c")
      }
      val withNorm = withBits.select(
        (col(id) +: col("embedding") +: chunkCols) :+ VecF.norm(col("embedding")).as("nrm"): _*)
      val chunked = withNorm.select(col(id),
        posexplode(array((0 until nChunks).map(c => col(s"chunk$c")): _*)).as(Seq("chunk_id", "chunk_val")))
      (chunked, withNorm.select(col(id), col("embedding"), col("nrm")))
    }
    val (trainChunks, trainSide) = sideBits(PartitionUtil.spread(train, "vec_id"), "vec_id")
    val (holdChunks, holdSide) = sideBits(holdout, "hold_id")
    val cand = trainChunks.as("a")
      .join(broadcast(holdChunks.as("b")),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk_val") === col("b.chunk_val"))
      .select(col("a.vec_id").as("vec_id"), col("b.hold_id").as("hold_id"))
      .distinct()
    // verify join orientation: the CANDIDATE set (bounded by benchmark-side
    // collisions, like the flag list applySemanticDecontamination already
    // broadcasts) is the explicit build side, so the corpus re-scan is
    // probe-only — never shuffled by vec_id. Left to statistics, a cold
    // plan could sort-merge here and hash-partition the whole corpus; that
    // plus the band stage made this the suite's second-most load-sensitive
    // query.
    trainSide.select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"))
      .join(broadcast(cand), "vec_id")
      .join(broadcast(holdSide.select(col("hold_id"), col("embedding").as("eb"), col("nrm").as("nb"))), "hold_id")
      .withColumn("sim", round(VecF.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_id", "hold_id", "sim")
      .orderBy("vec_id", "hold_id")
  }

  /** End-to-end SEMANTIC decontamination application: drop every training
    * vector [[semanticContamination]] flags against the holdout, return the
    * surviving corpus rows — same anti-join shape as
    * [[graft.operators.Dedup.applyFuzzyDecontamination]]: the flag list is
    * tiny and broadcasts, the corpus is only ever scanned, never shuffled.
    */
  def applySemanticDecontamination(train: DataFrame, holdout: DataFrame,
                                   threshold: Double = 0.9, nBits: Int = 16,
                                   bandBits: Int = 4): DataFrame = {
    val flagged = semanticContamination(train, holdout, threshold, nBits, bandBits)
      .select(col("vec_id").as("__drop_id")).distinct()
    train.join(broadcast(flagged), col("vec_id") === col("__drop_id"), "left_anti")
  }

  /** Embedding dimensionality observed in the data: the first row's array
    * width, 0 for an empty corpus. One `LIMIT 1` job — index metadata, not a
    * data-volume scan.
    *
    * The hyperplane projections and PQ slices built from this width assume
    * a RECTANGULAR corpus; a ragged one would silently mis-project (sign
    * bits computed over a prefix/past-the-end of each vector). A second
    * one-aggregate `min(size) = max(size)` check (a narrow column-pruned
    * pass) fails LOUDLY on ragged input.
    */
  private def embeddingDim(emb: DataFrame): Int = {
    val first = emb.select(size(col("embedding")).as("d")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (first > 0) {
      val r = emb.agg(min(size(col("embedding"))).as("mn"),
        max(size(col("embedding"))).as("mx")).head()
      if (r.getInt(0) != r.getInt(1))
        throw new IllegalArgumentException(
          s"ragged embedding corpus: vector widths span ${r.getInt(0)}..${r.getInt(1)} — " +
            "hyperplane projections would silently mis-project. Fix the corpus.")
    }
    first
  }

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4× memory compression for ANN indexes at scale. Per vector:
    * scale = 127 / max|x_i|, q_i = round-half-up(x_i * scale) ∈ [-127, 127].
    * Reports the quantized range and the reconstruction cosine (original vs
    * dequantized), the quality metric that decides whether int8 retrieval is
    * acceptable. All arithmetic is IEEE-identical across engines (quantized
    * values are exact integers), so the report is oracle-checkable.
    *
    * The whole report is ONE codegen'd pass per vector
    * ([[graft.plans.QuantizeInt8Report]]): abs-max scan, round-half-up
    * quantize, and the three left-to-right dot accumulations the
    * reconstruction cosine needs, fused into a primitive loop — no
    * interpreted lambdas, no intermediate qv/dequant arrays. The lambda
    * formulation (kept bit-identical by construction, asserted in
    * ScaleToolsSpec) is the semantic reference.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val rep = graft.plans.QuantizeInt8Report.expr(col("embedding"))
    emb
      .select(col("vec_id"), rep.as("rep"))
      .filter(col("rep.amax") > 0) // zero/empty vectors are unquantizable
      .select(
        col("vec_id"),
        round(lit(127.0) / col("rep.amax"), 6).as("scale_r"),
        col("rep.q_min").as("q_min"),
        col("rep.q_max").as("q_max"),
        round(col("rep.recon_cosine"), 6).as("recon_cosine"))
      .orderBy("vec_id")
  }

  /** The higher-order-function formulation of [[quantizeInt8]] — interpreted,
    * kept as the semantic reference the fused expression must match
    * bit-for-bit (asserted in ScaleToolsSpec).
    */
  def quantizeInt8Reference(emb: DataFrame): DataFrame = {
    val x = col("embedding")
    val amax = array_max(transform(x, v => abs(v.cast("double"))))
    val scale = lit(127.0) / amax
    val qv = transform(x, v => floor(v.cast("double") * scale + lit(0.5)).cast("long"))
    val dequant = transform(col("qv"), q => q.cast("double") / col("scale"))
    emb
      .filter(amax > 0)
      .select(col("vec_id"), x.as("embedding"), scale.as("scale"), qv.as("qv"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"),
        round(VecF.cosine(col("embedding"), dequant), 6).as("recon_cosine"))
      .orderBy("vec_id")
  }

  /** Symmetric INT8 top-k search — the quantized-serving sibling of
    * [[bruteForceTopK]] and the retrieval-side consumer of
    * [[quantizeInt8]]'s compression report: both probe and corpus vectors
    * are quantized to int8 with their own per-vector scale
    * (q_i = round-half-up(x_i · 127/amax)), and similarity is the cosine of
    * the QUANTIZED vectors — the per-vector scales cancel in the cosine, so
    * the score needs no dequantization at all and the dot/norms are sums of
    * integer products (≤ 127²·dim, exactly representable: the arithmetic is
    * bit-identical across engines by construction, not by rounding
    * discipline). `exact_sim` rides along as the quantization-error report,
    * like [[pqTopK]]'s ADC error.
    *
    * Shape at scale: ONE narrow codegen pass — quantization is a per-row
    * projection, the integer dot rides the same codegen [[VecF.dot]] as the
    * float path (values exact in double), ranking is
    * `TakeOrderedAndProject`. Zero/empty vectors are unquantizable and drop,
    * like [[quantizeInt8]]. At 4× memory compression this is the cheapest
    * serving downgrade — the report tells you whether recall survives it.
    */
  def int8TopK(emb: DataFrame, probeId: Long, topK: Int): DataFrame = {
    def q(x: Column): Column = {
      val amax = array_max(transform(x, v => abs(v.cast("double"))))
      val scale = lit(127.0) / amax
      transform(x, v => floor(v.cast("double") * scale + lit(0.5)).cast("double"))
    }
    val probeVec = emb.filter(col("vec_id") === probeId)
      .filter(array_max(transform(col("embedding"), v => abs(v.cast("double")))) > 0)
      .select(col("embedding").as("probe"), q(col("embedding")).as("qp"))
    emb.filter(col("vec_id") =!= probeId)
      .filter(array_max(transform(col("embedding"), v => abs(v.cast("double")))) > 0)
      .crossJoin(broadcast(probeVec))
      .select(col("vec_id"), col("embedding"), col("probe"), col("qp"),
        q(col("embedding")).as("qc"))
      .select(
        col("vec_id"),
        round(VecF.dot(col("qc"), col("qp")) /
          (sqrt(VecF.dot(col("qc"), col("qc"))) * sqrt(VecF.dot(col("qp"), col("qp")))), 6)
          .as("approx_sim"),
        round(VecF.cosine(col("embedding"), col("probe")), 6).as("exact_sim"))
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** Deterministic k-means (Lloyd) centroids over WHOLE vectors: the
    * one-subspace case of the [[lloydFrame]] kernel (seeds: vec_id < nlist),
    * as the uncollected `(centroid_id, cvec)` frame.
    */
  def lloydCentroids(emb: DataFrame, nlist: Int, iters: Int): DataFrame =
    lloydFrame(wholeVectors(emb), Seq(nlist), iters)
      .select(col("cid").as("centroid_id"), col("cvec"))

  /** The Lloyd training kernel every index here trains through. `subs`
    * holds `(vec_id, s, sv)` rows — one per vector and subspace `s`, with
    * `sv` that subspace's (sub-)vector; subspace `s` seeds from the vectors
    * with vec_id < `widths(s)`, then `iters` [[lloydRound]]s run over all
    * subspaces at once. Out come `(s, cid, cvec)` rows, cvec double-typed:
    * at 0 rounds the double-cast seeds.
    *
    * Cross-engine determinism of the mean: float sums are order-dependent, so
    * each component is quantized to an exact integer (`floor(x * 1e9)`),
    * summed exactly (decimal — overflow-proof at any cluster size), and only
    * then divided back in double. Both engines do the identical IEEE ops, so
    * centroids are bit-identical and the index stays oracle-checkable. The
    * double-cast seeds are value-exact: dot products accumulate float and
    * double inputs alike in double.
    *
    * Scale shape per round: one broadcast join (Σ widths centroid rows), one
    * partial-agg groupBy on (subspace, centroid, dim) — no shuffle of the
    * vectors themselves beyond the aggregation exchange. Subspaces share
    * every job, so training m PQ codebooks plus the IVF quantizer costs one
    * deep plan, not m + 1 (measured: the separate form put the one-shot
    * IVFADC query at 4.15 s at sf0.1).
    */
  private def lloydFrame(subs: DataFrame, widths: Seq[Int], iters: Int): DataFrame = {
    // the s-free bound first: it pushes below the subspace explode
    val init = subs.filter(col("vec_id") < widths.max)
      .filter(col("vec_id") < element_at(typedLit(widths), col("s") + 1))
      .select(col("s"), col("vec_id").as("cid"), col("sv").cast("array<double>").as("cvec"))
    (1 to iters).foldLeft(init)((cent, _) => lloydRound(subs, cent))
  }

  /** One Lloyd round of [[lloydFrame]]: assignment (max round-6 cosine,
    * ties to the lower cid) and the integer-quantized exact means both run
    * under (subspace, …) keys, so every subspace trains independently.
    * The sub-vector rides the assignment via `first` (identical within a
    * (vec_id, s) group): grouping by the array itself would hash and
    * compare ~1 KB keys per row in the exchange, the measured hot spot of
    * the IVF build.
    */
  private def lloydRound(subs: DataFrame, cent: DataFrame): DataFrame =
    subs.join(broadcast(cent), "s")
      .withColumn("csim", round(VecF.cosine(col("sv"), col("cvec")), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
        first(col("sv")).as("sv"))
      .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("idx", "comp")))
      .withColumn("q", floor(col("comp").cast("double") * lit(1e9)).cast(DecimalType(38, 0)))
      .groupBy(col("s"), col("cid"), col("idx"))
      .agg((sum(col("q")).cast("double") / (lit(1e9) * count(lit(1)))).as("cval"))
      .groupBy(col("s"), col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("idx"), col("cval")))),
        x => x.getField("cval")).as("cvec"))

  /** [[lloydFrame]] in ONE collect of the full iters-deep plan: a
    * cid-sorted book per subspace.
    *
    * Two rejected-by-measurement alternatives are worth recording. (a) A
    * per-round collect keeping the broadcast-join assignment: ~1.7x slower
    * (dedup_semantic 2.7 -> 4.5 s) — five small jobs each pay scheduling +
    * a broadcast build. (b) Per-round literal-projection assignment
    * (each round's centroids baked in as literals): still slower than the
    * deep plan (dedup_semantic ~2.0 -> 2.4 s) — every round's literals
    * produce a DIFFERENT expression tree, so whole-stage codegen cache
    * misses and janino recompiles per round. The deep plan compiles each
    * shape once and AQE's many tiny query stages measure cheaper than
    * either. Literal assignment still wins where it runs ONCE — see
    * [[nearestCentroidScored]] consumers.
    */
  private def lloydBooks(subs: DataFrame, widths: Seq[Int],
                         iters: Int): Seq[Seq[(Long, Array[Double])]] =
    decodeBooks(lloydFrame(subs, widths, iters), widths.size)

  /** Collect `(subspace, cid, cvec)` rows — a trained frame or stored
    * codebooks — into one cid-sorted book per subspace, for subspaces
    * 0 until max(n, highest subspace + 1).
    */
  private def decodeBooks(rows: DataFrame, n: Int = 0): Seq[Seq[(Long, Array[Double])]] = {
    val rs = rows.collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
    (0 until (n +: rs.map(_._1 + 1)).max)
      .map(s => rs.filter(_._1 == s).map(_._2).sortBy(_._1).toSeq)
  }

  /** The whole vector as the kernel's one subspace, 0. No width probe: the
    * full vector needs no slicing.
    */
  private def wholeVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), lit(0).as("s"), col("embedding").as("sv"))

  /** The `m` contiguous PQ sub-vector columns, sized from the width the
    * data reports; empty for an empty corpus.
    */
  private def pqSlices(emb: DataFrame, m: Int): Seq[Column] = {
    val dim = embeddingDim(emb)
    require(dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    if (dim == 0) Seq.empty
    else (0 until m).map(s => slice(col("embedding"), s * sub + 1, sub))
  }

  /** The kernel's `(vec_id, s, sv)` table with subspace `s` = `parts(s)`. */
  private def subspaces(emb: DataFrame, parts: Seq[Column]): DataFrame =
    emb.select(col("vec_id"), posexplode(array(parts: _*)).as(Seq("s", "sv")))

  /** Nearest-centroid scoring with the centroid set baked into the
    * projection as LITERALS: one struct per centroid — (-csim, cid), csim
    * rounded to 6 like [[lloydRound]] — and `array_min` picks the
    * lexicographic minimum, i.e. max csim with ties to the LOWEST centroid
    * id: exactly [[lloydRound]]'s `max_by(struct(csim, -cid))` order.
    * Because the centroids are driver-local index metadata (bounded like any
    * broadcast dimension), this turns assignment into a NARROW codegen
    * projection — no broadcast-build job, no per-vector groupBy exchange.
    * Result fields: `cid` (the assignment) and `neg` (-csim to the chosen
    * centroid). Input must expose an `embedding` column; unlike the groupBy
    * in [[lloydRound]] this never deduplicates vec_ids, so inputs
    * must be (and are) unique by construction.
    */
  private def nearestCentroidScored(cents: Seq[(Long, Array[Double])]): Column = {
    require(cents.nonEmpty, "empty centroid set")
    array_min(array(cents.map { case (cid, vec) =>
      struct(
        (-round(VecF.cosine(col("embedding"), typedLit(vec.toSeq)), 6)).as("neg"),
        lit(cid).as("cid"))
    }: _*))
  }

  /** Above this nlist, centroid assignment switches from the literal-argmin
    * projection to the broadcast-join form: an `array_min` over nlist literal
    * structs is a single expression tree whose codegen size grows with nlist,
    * and SemDeDup-scale indexes (nlist ∝ n, ~100 k clusters for 5 B vectors)
    * would blow the JVM method-size limit long before that. A few hundred
    * literals is comfortably inside codegen limits; past it the broadcast
    * join (one broadcast of nlist rows + a per-vector aggregate) is the
    * shape that scales.
    */
  private[graft] val literalAssignMaxNlist = 256

  /** Nearest-centroid assignment carrying the winning score: returns
    * `(vec_id, embedding, centroid_id, csim)` for every input vector, with
    * identical semantics on both paths (max cosine rounded to 6, ties to the
    * LOWEST centroid id). Auto-switches on [[literalAssignMaxNlist]]:
    *
    *  - small nlist → [[nearestCentroidScored]] literal projection (narrow,
    *    no exchange, the measured winner at fixture scale);
    *  - wide nlist → broadcast join + per-vector `max_by` aggregate (the
    *    100 TB shape: codegen size is independent of nlist). This path
    *    groups by `vec_id`, so it also deduplicates — inputs must be unique
    *    by `vec_id` for the two paths to agree (asserted in the suite).
    *
    * An EMPTY centroid set (empty input corpus) short-circuits to an empty
    * frame of the same schema — public entry points built on this
    * ([[ivfIndex]], [[semanticDedup]], [[kmeansClusterStats]]) therefore
    * return empty results on empty input instead of throwing.
    */
  private[graft] def assignScored(emb: DataFrame,
                                  cents: Seq[(Long, Array[Double])],
                                  litMax: Int = literalAssignMaxNlist): DataFrame =
    if (cents.isEmpty)
      emb.limit(0).select(col("vec_id"), col("embedding"),
        lit(null).cast("long").as("centroid_id"), lit(null).cast("double").as("csim"))
    else if (cents.size <= litMax)
      // select twice so the argmin struct evaluates once per row
      emb.select(col("vec_id"), col("embedding"),
          nearestCentroidScored(cents).as("nc"))
        .select(col("vec_id"), col("embedding"),
          col("nc.cid").as("centroid_id"), (-col("nc.neg")).as("csim"))
    else
      emb.crossJoin(broadcast(centroidsToDF(emb.sparkSession, cents)))
        .withColumn("c", round(VecF.cosine(col("embedding"), col("cvec")), 6))
        .groupBy(col("vec_id"))
        .agg(
          first(col("embedding")).as("embedding"),
          max_by(col("centroid_id"), struct(col("c"), -col("centroid_id")))
            .as("centroid_id"),
          max(col("c")).as("csim"))
        .select(col("vec_id"), col("embedding"), col("centroid_id"), col("csim"))

  /** The injected centroid surface (checked against the consumer's own
    * Lloyd parameters), else a fresh training over `emb`.
    */
  private def centroidsFor(emb: DataFrame, nlist: Int, iters: Int,
                           centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]],
                           consumer: String): Seq[(Long, Array[Double])] =
    centsOpt.map(_.servedTo(LloydParams(nlist, iters), consumer))
      .getOrElse(lloydCentroidsLocalValues(emb, nlist, iters))

  /** Lloyd centroids as driver-local VALUES: one collect of the full
    * iters-deep [[lloydFrame]] plan over whole vectors (seeds: vec_id <
    * nlist).
    */
  def lloydCentroidsLocalValues(emb: DataFrame, nlist: Int,
                                iters: Int): Seq[(Long, Array[Double])] =
    lloydBooks(wholeVectors(emb), Seq(nlist), iters).head

  private def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
                            cents: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, v) => (cid, v.toSeq) }.toDF("centroid_id", "cvec")
  }

  /** IVF top-k: assign every vector to its nearest of `nlist` centroids
    * (k-means: seedless init from vec_id < nlist + `iters` deterministic
    * Lloyd rounds); search only the `nprobe` centroid buckets nearest to the
    * probe. Ties in centroid assignment break toward the lower centroid id.
    *
    * Defaults are tuned on the near-uniform 500-vector fixture (sweep over
    * nlist/nprobe/iters, mean recall@5 vs brute force over 8 probes):
    * nlist=4/nprobe=3/iters=4 scores 0.90 (0.80 with iters=2; nlist=8/
    * nprobe=4 only 0.78 — random vectors cluster poorly, fewer+better-
    * converged cells win).
    *
    * At corpus scale size `nlist` ~ sqrt(n) with a CONSTANT small `nprobe`
    * — per-probe rescans are then nprobe·n/nlist = nprobe·sqrt(n),
    * sub-linear in the corpus. Proven empirically across a 10x step on the
    * clustered fixture (`ScaleToolsSpec` "IVF sqrt(n) sizing"): 2k/nlist=45
    * and 20k/nlist=144 at nprobe=6 both hold recall@5 ≥ 0.8 while the
    * rescan set grows ~3x for 10x vectors. Use a FIXED nprobe/nlist
    * fraction only when recall (not cost) is the binding constraint — it
    * keeps rescans a constant fraction of n.
    */
  def ivfTopK(emb: DataFrame, probeId: Long, k: Int,
              nlist: Int = 4, nprobe: Int = 3, iters: Int = 4): DataFrame = {
    val (centroids, assigned) = ivfIndex(emb, nlist, iters)
    ivfSearch(centroids, assigned, emb, probeId, k, nprobe)
  }

  /** Build the IVF index ONCE for many searches: the broadcastable centroid
    * relation plus the per-vector bucket assignment. Callers issuing many
    * probes should persist the assignment (with an eager barrier) — the
    * Lloyd passes and the corpus assignment are the expensive part; each
    * [[ivfSearch]] afterwards touches only `nprobe` buckets.
    *
    * Input must be unique by `vec_id` (the usual corpus invariant): below
    * [[literalAssignMaxNlist]] the assignment is a narrow projection that
    * would pass duplicates through 1:1, above it a per-vector aggregate
    * that would collapse them — keep ids unique so both paths agree.
    */
  def ivfIndex(emb: DataFrame, nlist: Int, iters: Int): (DataFrame, DataFrame) = {
    val cents = lloydCentroidsLocalValues(emb, nlist, iters)
    // nearest centroid per vector (max cosine, tie -> lower id); narrow
    // literal projection below the nlist cap, broadcast join above — the
    // centroid relation is still returned for storage ([[ivfStore]]) and
    // probe scoring ([[ivfSearch]])
    val assigned = assignScored(emb, cents)
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
    (broadcast(centroidsToDF(emb.sparkSession, cents)), assigned)
  }

  /** Search a prebuilt IVF index: score the probe against the centroid set,
    * prune to the `nprobe` nearest buckets, exact-rescore only those.
    */
  def ivfSearch(centroids: DataFrame, assigned: DataFrame, emb: DataFrame,
                probeId: Long, k: Int, nprobe: Int): DataFrame = {
    val probeVec = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe"))
    assigned
      .join(probedBuckets(centroids, probeVec, nprobe), "centroid_id") // bucket pruning
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeVec))
      .withColumn("sim", round(VecF.cosine(col("embedding"), col("probe")), 6))
      .select("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The ids of the `nprobe` centroids nearest the probe (round-6 cosine,
    * ties to the lower id), broadcast: the bucket prune of every
    * single-probe IVF search. `probeVec` is the one-row `probe` frame.
    */
  private def probedBuckets(centroids: DataFrame, probeVec: DataFrame,
                            nprobe: Int): DataFrame =
    broadcast(centroids.crossJoin(broadcast(probeVec))
      .withColumn("csim", round(VecF.cosine(col("cvec"), col("probe")), 6))
      .orderBy(col("csim").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id")))

  /** Persist the IVF index to storage (the serving layout): centroids +
    * per-vector bucket assignment as parquet. Build once, search many —
    * [[ivfSearchStored]] then pays only the steady-state search cost
    * (centroid scoring + `nprobe` bucket rescans), never the Lloyd passes.
    * At scale the assignment is just another bucketed table; rebuilding it
    * is a scheduled maintenance job, not a per-query cost.
    */
  def ivfStore(emb: DataFrame, dir: String, nlist: Int = 4, iters: Int = 4): Unit = {
    val (centroids, assigned) = ivfIndex(emb, nlist, iters)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    assigned.write.mode("overwrite").parquet(s"$dir/assigned")
  }

  /** Search a stored IVF index (see [[ivfStore]]): identical results to
    * [[ivfTopK]] with the same build parameters, but the query plan contains
    * only the search — the bench's steady-state-latency entry.
    */
  def ivfSearchStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                      emb: DataFrame, probeId: Long, k: Int, nprobe: Int = 3): DataFrame = {
    val centroids = broadcast(spark.read.parquet(s"$dir/centroids"))
    val assigned = spark.read.parquet(s"$dir/assigned")
    ivfSearch(centroids, assigned, emb, probeId, k, nprobe)
  }

  /** Product-Quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the embedding dimension is
    * split into `m` contiguous subspaces and each subspace gets its own
    * deterministic Lloyd codebook of `k` sub-centroids: the m-subspace case
    * of the [[lloydFrame]] kernel (seeds: vec_id < k), so every codebook is
    * oracle-checkable. A vector's PQ code is its m nearest-sub-centroid
    * ids — m·log2(k) bits instead of dim·32: the memory-compression scale
    * path that lets a 100 TB embedding corpus's index live in RAM (64-dim
    * float → 4 bytes at m=4/k=4... 256× smaller at web scale with
    * m=8/k=256).
    *
    * Returns one driver-local codebook per subspace — bounded index
    * METADATA (m·k rows), the same class as the IVF centroid set.
    */
  def pqCodebooks(emb: DataFrame, m: Int = 4, k: Int = 4,
                  iters: Int = 2): Seq[Seq[(Long, Array[Double])]] = {
    val slices = pqSlices(emb, m)
    if (slices.isEmpty) Seq.empty
    else lloydBooks(subspaces(emb, slices), Seq.fill(m)(k), iters)
  }

  /** PQ ENCODE report: every vector's PQ code plus its reconstruction
    * cosine (similarity between the original vector and its code's
    * concatenated sub-centroids) — the compression-quality sweep run before
    * committing a corpus to a PQ index.
    *
    * Shape at scale: codebook training is one [[lloydFrame]] plan over the
    * m SLICED subspaces (each round a broadcast join + bounded keyed
    * aggregation); encoding is ONE narrow codegen projection — every
    * subspace's argmin over k literal centroid structs rides the same
    * `array_min` pattern as [[nearestCentroidScored]], and the chosen
    * sub-centroid's dot/norm components ride the winning struct, so the
    * reconstruction cosine needs no join at all. Determinism: per-subspace
    * cosines round to 6 before the argmin; the reconstruction combines
    * per-subspace dot/norm terms in a FIXED left-to-right expression tree,
    * so both engines evaluate identical IEEE operation sequences.
    */
  def pqEncode(emb: DataFrame, m: Int = 4, k: Int = 4,
               iters: Int = 2): DataFrame =
    encodeWithBooks(emb, pqCodebooks(emb, m, k, iters))

  /** The encode projection shared by [[pqEncode]] (train + encode) and
    * [[pqEncodeStored]] (encode against stored codebooks).
    */
  private def encodeWithBooks(emb: DataFrame,
                              books: Seq[Seq[(Long, Array[Double])]]): DataFrame = {
    if (books.isEmpty || books.exists(_.isEmpty))
      return emb.limit(0).select(col("vec_id"),
        lit("").as("code"), lit(0.0).as("recon_cos"))
    val m = books.size
    val dim = books.map(_.head._2.length).sum
    val sub = dim / m
    val choices = (0 until m).map { s =>
      val xs = slice(col("embedding"), s * sub + 1, sub)
      array_min(array(books(s).map { case (cid, v) =>
        val cv = typedLit(v.toSeq)
        struct(
          (-round(VecF.cosine(xs, cv), 6)).as("neg"),
          lit(cid).as("cid"),
          VecF.dot(xs, cv).as("d"),
          VecF.dot(cv, cv).as("n2c"))
      }: _*)).as(s"ch$s")
    }
    val n2xs = (0 until m).map { s =>
      val xs = slice(col("embedding"), s * sub + 1, sub)
      VecF.dot(xs, xs).as(s"n2x$s")
    }
    emb.select(col("vec_id") +: (choices ++ n2xs): _*)
      .select(
        col("vec_id"),
        concat_ws("|", (0 until m).map(s => col(s"ch$s.cid").cast("string")): _*)
          .as("code"),
        round(
          (0 until m).map(s => col(s"ch$s.d")).reduce(_ + _) /
            (sqrt((0 until m).map(s => col(s"n2x$s")).reduce(_ + _)) *
             sqrt((0 until m).map(s => col(s"ch$s.n2c")).reduce(_ + _))), 6)
          .as("recon_cos"))
      .orderBy("vec_id")
  }

  /** Persist the PQ codebooks as parquet (the index-artifact layout of
    * [[ivfStore]]/`bpeStore`): one row per (subspace, sub-centroid). Train
    * once, encode every future batch from the store — the steady-state
    * shape of a PQ-compressed embedding pipeline; codebook drift is handled
    * by scheduled re-trains, like IVF centroid drift.
    */
  def pqStore(emb: DataFrame, dir: String, m: Int = 8, k: Int = 8,
              iters: Int = 2): Unit =
    writeBooks(emb.sparkSession, pqCodebooks(emb, m, k, iters), dir)

  /** Write per-subspace books as `$dir/codebooks`, one row per (subspace,
    * cid) — the layout [[decodeBooks]] reads back.
    */
  private def writeBooks(spark: org.apache.spark.sql.SparkSession,
                         books: Seq[Seq[(Long, Array[Double])]], dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (cents, s) => cents.map { case (cid, v) => (s, cid, v.toSeq) } }
      .toDF("subspace", "cid", "cvec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Encode a corpus against STORED PQ codebooks: identical output (and
    * oracle) as [[pqEncode]] with the same build parameters, but the plan
    * contains only the one narrow encode projection — none of the Lloyd
    * training rounds. The codebook read is bounded index metadata (m·k
    * rows, the broadcast-dimension class).
    */
  def pqEncodeStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                     emb: DataFrame): DataFrame =
    encodeWithBooks(emb, decodeBooks(spark.read.parquet(s"$dir/codebooks")))

  /** PQ asymmetric-distance (ADC) top-k search: the probe stays EXACT while
    * every corpus vector is represented only by its PQ code — similarity is
    * approximated as cos(probe, reconstruction(code)). The plan never
    * touches corpus floats beyond the one encode pass: per subspace the
    * probe×sub-centroid dot rides the argmin struct (k literal dots per
    * subspace — the classic m·k ADC lookup table, here fused into codegen),
    * and ranking is `TakeOrderedAndProject`. `exact_sim` rides along so the
    * result doubles as an ADC-error report; ties break to the lower vec_id.
    */
  def pqTopK(emb: DataFrame, probeId: Long, topK: Int, m: Int = 4,
             k: Int = 4, iters: Int = 2): DataFrame = {
    val books = pqCodebooks(emb, m, k, iters)
    if (books.isEmpty || books.exists(_.isEmpty))
      return emb.limit(0).select(col("vec_id"),
        lit(0.0).as("approx_sim"), lit(0.0).as("exact_sim"))
    val probeVec = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe"))
    adcScore(emb.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeVec)), books)
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** The ADC scoring projection shared by [[pqTopK]] (all-corpus scan) and
    * [[ivfPqTopK]] (bucket-pruned scan): rows must carry `vec_id`,
    * `embedding`, and the broadcast `probe`; out come `(vec_id, approx_sim,
    * exact_sim)`.
    *
    * EVERY full-vector dot is a fixed left-to-right sum of per-subspace
    * dots (probe·centroid, probe·vector, and both norms): the per-subspace
    * grouping is what the DuckDB oracle can evaluate over its materialized
    * slice tables — the inline full-vector list-lambda form made its final
    * join pathological — and the identical grouping here keeps the IEEE
    * operation sequence in lock-step.
    */
  private def adcScore(rows: DataFrame,
                       books: Seq[Seq[(Long, Array[Double])]]): DataFrame = {
    val m = books.size
    val dim = books.map(_.head._2.length).sum
    val sub = dim / m
    val choices = (0 until m).map { s =>
      val xs = slice(col("embedding"), s * sub + 1, sub)
      val ps = slice(col("probe"), s * sub + 1, sub)
      array_min(array(books(s).map { case (cid, v) =>
        val cv = typedLit(v.toSeq)
        struct(
          (-round(VecF.cosine(xs, cv), 6)).as("neg"),
          lit(cid).as("cid"),
          VecF.dot(ps, cv).as("dp"),
          VecF.dot(cv, cv).as("n2c"))
      }: _*)).as(s"ch$s")
    }
    val perSub = (0 until m).flatMap { s =>
      val xs = slice(col("embedding"), s * sub + 1, sub)
      val ps = slice(col("probe"), s * sub + 1, sub)
      Seq(VecF.dot(xs, ps).as(s"dx$s"),
        VecF.dot(xs, xs).as(s"n2x$s"),
        VecF.dot(ps, ps).as(s"n2p$s"))
    }
    rows
      .select(col("vec_id") +: (choices ++ perSub): _*)
      .select(
        col("vec_id"),
        round(
          (0 until m).map(s => col(s"ch$s.dp")).reduce(_ + _) /
            (sqrt((0 until m).map(s => col(s"n2p$s")).reduce(_ + _)) *
             sqrt((0 until m).map(s => col(s"ch$s.n2c")).reduce(_ + _))), 6)
          .as("approx_sim"),
        round(
          (0 until m).map(s => col(s"dx$s")).reduce(_ + _) /
            (sqrt((0 until m).map(s => col(s"n2x$s")).reduce(_ + _)) *
             sqrt((0 until m).map(s => col(s"n2p$s")).reduce(_ + _))), 6)
          .as("exact_sim"))
  }

  /** (IVF centroids, per-subspace PQ codebooks). */
  type IvfPqBooks = (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]])

  /** Both quantizers of [[ivfPqTopK]] and [[ivfPqStore]]. Equal round
    * counts train jointly in ONE [[lloydFrame]] plan: the whole vector rides
    * as subspace `m` beside the m PQ slices, with its own seed width
    * (`nlist` instead of `k`), and one collect returns (m·k + nlist) rows.
    * Per-subspace keys keep the numbers identical to two separate
    * trainings, so the shared DuckDB oracle chains apply unchanged. Unequal
    * counts train through the kernel twice.
    */
  private[graft] def trainIvfPq(emb: DataFrame, p: IvfPqParams): IvfPqBooks =
    if (p.ivfIters != p.pqIters)
      (lloydCentroidsLocalValues(emb, p.nlist, p.ivfIters), pqCodebooks(emb, p.m, p.k, p.pqIters))
    else {
      val slices = pqSlices(emb, p.m)
      if (slices.isEmpty) (Seq.empty, Seq.empty)
      else {
        val books = lloydBooks(subspaces(emb, slices :+ col("embedding")),
          Seq.fill(p.m)(p.k) :+ p.nlist, p.pqIters)
        (books.last, books.init)
      }
    }

  /** IVF + PQ composed ANN search — IVFADC (Jégou et al. 2011 §IV), the
    * architecture web-scale vector serving actually deploys (FAISS
    * `IndexIVFPQ`): the IVF coarse quantizer prunes the scan to `nprobe` of
    * `nlist` buckets (sub-linear touch), and within the probed buckets the
    * probe is scored against PQ codes by asymmetric distance — both
    * compressions compound: scan cost drops by nlist/nprobe AND per-vector
    * memory drops to m·log2(k) bits. `exact_sim` rides along as the ADC-error
    * report, like [[pqTopK]].
    *
    * Both quantizers train through the deterministic Lloyd kernel
    * ([[trainIvfPq]]), so the full composition stays oracle-checkable. The
    * bucket prune is an equi-join against the broadcast nprobe-row bucket
    * list; ranking is `TakeOrderedAndProject`. Ties break to the lower
    * vec_id. For the steady-state serving plan (stored index, code-only
    * scoring, no training) see [[ivfPqSearchStored]].
    */
  def ivfPqTopK(emb: DataFrame, probeId: Long, topK: Int,
                nlist: Int = 4, nprobe: Int = 3, ivfIters: Int = 2,
                m: Int = 8, k: Int = 8, pqIters: Int = 2,
                trainedOpt: Option[Surface[IvfPqParams, IvfPqBooks]] = None): DataFrame = {
    // trainedOpt injects PRETRAINED (centroids, codebooks) — the
    // session-shared memo, built by [[trainIvfPq]] at the same parameters
    // over the same input; when absent the query trains.
    val params = IvfPqParams(nlist, ivfIters, m, k, pqIters)
    val (cents, books) = trainedOpt.map(_.servedTo(params, "ivfPqTopK"))
      .getOrElse(trainIvfPq(emb, params))
    if (books.isEmpty || books.exists(_.isEmpty))
      return emb.limit(0).select(col("vec_id"),
        lit(0.0).as("approx_sim"), lit(0.0).as("exact_sim"))
    val assigned = assignScored(emb, cents)
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
    val probeVec = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe"))
    val probeBuckets = probedBuckets(centroidsToDF(emb.sparkSession, cents), probeVec, nprobe)
    adcScore(
      assigned.join(probeBuckets, "centroid_id") // bucket pruning
        .filter(col("vec_id") =!= probeId)
        .crossJoin(broadcast(probeVec)),
      books)
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** Persist the full IVFADC index: IVF centroids, PQ codebooks, and the
    * inverted list itself — one row per vector holding ONLY
    * `(vec_id, centroid_id, code)`. This is the true at-rest layout of a
    * production IVF-PQ deployment: the index carries m·log2(k) bits per
    * vector (plus the bucket id), never the embedding floats, so a 100 TB
    * float corpus serves from a ~256×-smaller artifact. The inverted list is
    * written partitioned by `centroid_id`, so a search's bucket prune is
    * planning-time partition pruning — `nprobe` directories read, the rest
    * never opened.
    */
  def ivfPqStore(emb: DataFrame, dir: String,
                 nlist: Int = 4, ivfIters: Int = 4,
                 m: Int = 8, k: Int = 8, pqIters: Int = 2): Unit = {
    val spark = emb.sparkSession
    val (cents, books) = trainIvfPq(emb, IvfPqParams(nlist, ivfIters, m, k, pqIters))
    writeBooks(spark, books, dir)
    centroidsToDF(spark, cents).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assignScored(emb, cents)
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
      .join(encodeWithBooks(emb, books).select(col("vec_id"), col("code")), "vec_id")
      .select(col("vec_id"), col("centroid_id"), col("code"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/invlists")
  }

  /** Steady-state IVFADC search over a stored index ([[ivfPqStore]]): the
    * plan reads the probe row, the nlist-row centroid table, the m·k-row
    * codebooks, and the `nprobe` probed inverted-list partitions — and
    * NOTHING else. Corpus embeddings are never touched: the approximate
    * similarity is computed from the stored PQ code alone, exactly the
    * serving memory model of FAISS IVFADC (Jégou et al. 2011 eq. 13).
    *
    * Per subspace, the probe×sub-centroid dot table (the classic m·k ADC
    * lookup table) is baked into the projection as a literal-indexed
    * `element_at(array(...), cid+1)` — the code string is split once and
    * each subspace's byte picks its precomputed dot and norm component. The
    * IEEE combination tree matches [[pqTopK]]'s per-subspace grouping, so
    * approx_sim is bit-identical to the embedding-derived path (asserted in
    * the suite) and the DuckDB oracle's.
    *
    * Returns `(vec_id, approx_sim)` — no exact_sim by design: the whole
    * point of the serving path is that corpus floats are not available.
    */
  def ivfPqSearchStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                        emb: DataFrame, probeId: Long, topK: Int,
                        nprobe: Int = 3): DataFrame = {
    val books = decodeBooks(spark.read.parquet(s"$dir/codebooks"))
    val m = books.size
    if (books.isEmpty || books.exists(_.isEmpty))
      return emb.limit(0).select(col("vec_id"), lit(0.0).as("approx_sim"))
    val dim = books.map(_.head._2.length).sum
    val sub = dim / m
    val centroids = broadcast(spark.read.parquet(s"$dir/centroids"))
    val probeVec = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe"))
    // the probed bucket ids are nprobe rows of index METADATA (the same
    // bounded class as the codebook collect above), so they come back to
    // the driver and push into the inverted-list scan as a LITERAL
    // partition predicate — planning-time partition pruning, visible in the
    // scan's PartitionFilters: the non-probed directories are never opened,
    // independent of any runtime-filter heuristic
    val probed = probedBuckets(centroids, probeVec, nprobe)
      .collect().map(_.getLong(0)).toSeq
    // cids are dense in [0, k): codebook init seeds from vec_id < k, and
    // Lloyd never invents ids — so a code byte indexes a literal array.
    // Missing slots (a centroid that lost all members) simply never occur
    // in stored codes.
    val kMax = books.map(b => b.map(_._1).max + 1).max.toInt
    def lookup(s: Int, comp: (Long, Array[Double]) => Column): Column = {
      val slots = (0L until kMax).map { cid =>
        books(s).find(_._1 == cid).map { case (_, v) => comp(cid, v) }
          .getOrElse(lit(Double.NaN))
      }
      element_at(array(slots: _*), col(s"cid$s") + 1)
    }
    val cids = (0 until m).map(s =>
      split(col("code"), "\\|").getItem(s).cast("int").as(s"cid$s"))
    val n2ps = (0 until m).map { s =>
      val ps = slice(col("probe"), s * sub + 1, sub)
      VecF.dot(ps, ps).as(s"n2p$s")
    }
    spark.read.parquet(s"$dir/invlists")
      .filter(col("centroid_id").isin(probed: _*)) // partition pruning
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeVec))
      .select(col("vec_id") +: col("probe") +: (cids ++ n2ps): _*)
      .select(
        col("vec_id"),
        round(
          (0 until m).map(s => lookup(s, (_, v) =>
            VecF.dot(slice(col("probe"), s * sub + 1, sub), typedLit(v.toSeq))))
            .reduce(_ + _) /
            (sqrt((0 until m).map(s => col(s"n2p$s")).reduce(_ + _)) *
             sqrt((0 until m).map(s => lookup(s, (_, v) =>
               VecF.dot(typedLit(v.toSeq), typedLit(v.toSeq)))).reduce(_ + _))), 6)
          .as("approx_sim"))
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** CLUSTER-BALANCED sampling: assign every vector to its Lloyd k-means
    * cluster, then keep at most `maxPerCluster` vectors per cluster by a
    * deterministic salted-hash draw — the "cluster then subsample uniformly
    * per cluster" diversity step of SemDeDup-family curation pipelines
    * (over-represented regions of embedding space are capped instead of
    * dominating the training mix). Output: every vector with its cluster,
    * cosine-to-centroid, and a `kept` flag.
    *
    * Scale shape: assignment is the [[assignScored]] narrow pass (literal
    * argmin below the nlist cap, broadcast join above); the per-cluster
    * draw reuses [[Sampling.capPerGroup]]'s bounded-buffer top-k aggregate
    * (map-side combined — a hot cluster never sorts globally); the kept set
    * is ≤ nlist·maxPerCluster rows, a genuinely bounded broadcast back onto
    * the assignment. The corpus shuffles once, on the cluster key.
    */
  def clusterBalancedSample(emb: DataFrame, nlist: Int = 4, iters: Int = 2,
                            maxPerCluster: Int = 50,
                            centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]] = None): DataFrame = {
    val cents = centroidsFor(emb, nlist, iters, centsOpt, "clusterBalancedSample")
    val asn = assignScored(emb, cents)
      .select(col("vec_id"), col("centroid_id"), col("csim"))
    val kept = Sampling.capPerGroupHashed(asn, "vec_id", "centroid_id",
        maxPerCluster, "cbal")
      .select(col("vec_id"), lit(true).as("kept"))
    asn.join(broadcast(kept), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("csim"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("vec_id")
  }

  /** Per-cluster report over the deterministic Lloyd k-means index: cluster
    * size and mean cosine-to-centroid (a cluster-quality / corpus-structure
    * probe). Mean determinism across engines: per-row cosines are rounded to
    * 6, summed EXACTLY as decimal, and only then divided — no
    * order-dependent float accumulation.
    */
  def kmeansClusterStats(emb: DataFrame, nlist: Int = 4, iters: Int = 2,
                         centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]] = None): DataFrame = {
    // the scored assignment already carries the chosen centroid's cosine, so
    // the old assign + join-back-to-centroids + rescore collapses into the
    // assignment pass itself (narrow projection below the nlist cap)
    val cents = centroidsFor(emb, nlist, iters, centsOpt, "kmeansClusterStats")
    assignScored(emb, cents)
      .select(col("centroid_id"), col("csim"))
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("csim").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_csim"))
      .orderBy("centroid_id")
  }

  /** IVF index STALENESS / embedding-drift report — the maintenance signal
    * that schedules [[ivfStore]] rebuilds: assign an OLD snapshot (the one
    * the centroids were trained on) and a NEW snapshot against the same
    * stored centroids and compare per-bucket occupancy. A bucket whose
    * share shifts hard means the embedding distribution moved (new domain,
    * changed encoder, drifting crawl mix) and recall is quietly decaying —
    * rebuild before serving degrades. Occupancies are integer ppm of each
    * snapshot's own total (exact cross-engine), `shift_ppm` is the signed
    * difference.
    *
    * Shape at scale: training is the deterministic Lloyd chain over the OLD
    * snapshot only; each assignment is the [[assignScored]] narrow pass;
    * the report is two map-side-combined per-bucket counts, a full-outer
    * merge of two nlist-row tables, and a one-row totals broadcast —
    * nlist output rows at any corpus size.
    */
  def indexDrift(embOld: DataFrame, embNew: DataFrame,
                 nlist: Int = 8, iters: Int = 2,
                 centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]] = None): DataFrame = {
    // centsOpt must be trained over embOld (the snapshot the index was
    // built on) — the session-shared memo passes exactly that
    val cents = centroidsFor(embOld, nlist, iters, centsOpt, "indexDrift")
    def occ(e: DataFrame, n: String) = assignScored(e, cents)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as(n))
    val merged = occ(embOld, "n_old")
      .join(occ(embNew, "n_new"), Seq("centroid_id"), "full")
      .select(col("centroid_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = broadcast(merged.agg(
      sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new")))
    merged.crossJoin(totals)
      .select(col("centroid_id"), col("n_old"), col("n_new"),
        expr("CASE WHEN t_old > 0 THEN n_old * 1000000 DIV t_old ELSE 0 END")
          .as("ppm_old"),
        expr("CASE WHEN t_new > 0 THEN n_new * 1000000 DIV t_new ELSE 0 END")
          .as("ppm_new"))
      .withColumn("shift_ppm", col("ppm_new") - col("ppm_old"))
      .orderBy("centroid_id")
  }

  /** Per-cluster LABEL-coherence audit over the deterministic Lloyd index —
    * the "are my embedding clusters semantically meaningful" check run
    * before trusting cluster-based curation (SemDeDup caps, cluster-balanced
    * sampling, [[clusterBalancedSample]]): for each cluster, its size, the
    * majority label (ties to the lexicographically smaller label), purity in
    * integer per-mille, and the label-distribution Shannon entropy in
    * floor'd integer micro-nats (the tie-free cross-engine recipe of
    * `TextAnalysis.tokenEntropy`). A high-entropy / low-purity cluster means
    * the embedding space does not separate that label — capping or deduping
    * inside it mixes classes.
    *
    * Shape at scale: assignment is the [[assignScored]] narrow pass (literal
    * argmin below the nlist cap, broadcast join above); labels ride a
    * vec_id-keyed join; then two hash aggregations — (cluster, label) counts
    * map-side combined, a cluster-level rollup over label-count rows.
    * Output is ≤ nlist·|labels| intermediate rows and nlist result rows at
    * any corpus size. Purity is exact integer arithmetic
    * (majority·1000 div n); entropy terms quantize each ln to 6 decimals and
    * sum in decimal before the one floor'd division.
    */
  def clusterLabelPurity(emb: DataFrame, nlist: Int = 4, iters: Int = 2,
                         labelCol: String = "label",
                         centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]] = None): DataFrame = {
    val cents = centroidsFor(emb, nlist, iters, centsOpt, "clusterLabelPurity")
    val counts = assignScored(emb, cents)
      .select(col("vec_id"), col("centroid_id"))
      .join(emb.select(col("vec_id"), col(labelCol).as("label")), "vec_id")
      .groupBy(col("centroid_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("centroid_id").agg(sum(col("c")).as("n"))
    counts
      .join(totals, "centroid_id")
      .withColumn("term",
        (col("c") * round(log(col("n").cast("double") / col("c").cast("double")), 6)
          .cast(DecimalType(18, 6))).cast(DecimalType(28, 6)))
      .groupBy(col("centroid_id"))
      .agg(
        min(col("n")).as("n_vectors"), // constant within the group
        count(lit(1)).as("n_labels"),
        min_by(col("label"), struct((-col("c")).as("nc"), col("label")))
          .as("majority_label"),
        max(col("c")).as("majority_c"),
        sum(col("term")).as("nats"))
      .select(
        col("centroid_id"),
        col("n_vectors"),
        col("n_labels"),
        col("majority_label"),
        expr("majority_c * 1000 DIV n_vectors").as("purity_pm"),
        floor((col("nats") * lit(1000000)).cast("long").cast("double") /
          col("n_vectors").cast("double")).cast("long").as("entropy_unats"))
      .orderBy("centroid_id")
  }

  /** Matryoshka / truncation-dimension audit (Kusupati et al. 2022,
    * arXiv:2205.13147): how much of each vector's energy — and therefore of
    * its cosine geometry — survives truncating the embedding to its first
    * `d` dimensions, for each candidate `d`. The retained-cosine of a
    * truncated-then-zero-padded vector against the original is exactly
    * ‖v[:d]‖/‖v‖, so the audit needs no pair joins at all: per vector and
    * per truncation width it reports the energy fraction in integer
    * parts-per-million (floor — tie-free cross-engine) and the retained
    * cosine rounded to 6. The corpus-level roll-up (mean retained ppm per
    * width) is what decides the serving truncation; per-vector rows keep the
    * tail visible (a mean hides vectors whose meaning lives in late dims).
    *
    * Shape at scale: ONE narrow codegen pass — per row, prefix dots over
    * array slices (fixed left-to-right IEEE sequence, the [[pqEncode]]
    * discipline) exploded to |dims| rows; no shuffle except the final
    * presentation sort. Zero/empty vectors are unquantifiable and drop out,
    * like [[quantizeInt8]].
    */
  def truncationAudit(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(dims.nonEmpty)
    val full = VecF.dot(col("embedding"), col("embedding"))
    val rows = dims.sorted.map { d =>
      val pre = VecF.dot(slice(col("embedding"), 1, d), slice(col("embedding"), 1, d))
      struct(lit(d).as("trunc_dim"), pre.as("pre"))
    }
    emb
      .select(col("vec_id"), full.as("n2full"), explode(array(rows: _*)).as("t"))
      .filter(col("n2full") > 0)
      .select(
        col("vec_id"),
        col("t.trunc_dim").as("trunc_dim"),
        floor(col("t.pre") * lit(1000000.0) / col("n2full")).cast("long")
          .as("energy_ppm"),
        round(sqrt(col("t.pre")) / sqrt(col("n2full")), 6).as("retained_cos"))
      .orderBy("vec_id", "trunc_dim")
  }

  /** Batch kNN join: top-k cosine neighbors for EVERY probe in a bounded
    * probe set — the batch-inference sibling of [[bruteForceTopK]].
    *
    * Shape at scale: the probe set broadcasts (bounded by the inference
    * batch), the corpus streams through ONE narrow pass scoring
    * |corpus|×|probes| pairs, and the per-probe top-k is the bounded-buffer
    * [[TopKAggregator]] — map-side combine reduces each task to k rows per
    * probe before the exchange. No window sort of the cross product, no
    * corpus shuffle. Ties break toward the lower neighbor id (the
    * aggregator's order).
    */
  def knnJoin(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val p = broadcast(
      probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv")))
    emb.crossJoin(p)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(VecF.cosine(col("embedding"), col("pv")), 6).as("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => TopKAggregator.Scored(t._3, t._2))
      .agg(TopKAggregator(k).toColumn.name("top"))
      .toDF("probe_id", "top")
      .select(col("probe_id"), posexplode(col("top")).as(Seq("rk", "s")))
      .select(col("probe_id"), (col("rk") + 1).cast("int").as("rank"),
        col("s.id").as("neighbor_id"), col("s.score").as("sim"))
      .orderBy("probe_id", "rank")
  }

  /** HARD-NEGATIVE mining for contrastive training (the DPR/Contriever
    * recipe, Karpukhin et al. 2020): for every probe vector, the top-k most
    * COSINE-SIMILAR corpus vectors carrying a DIFFERENT label — maximally
    * confusable cross-class examples, the negatives that actually teach a
    * bi-encoder (random negatives are trivially separable). Ties break
    * toward the lower neighbor id.
    *
    * Shape at scale: identical to [[knnJoin]] — the probe set broadcasts
    * (bounded by the mining batch), the corpus streams through ONE narrow
    * codegen pass, the label inequality fuses into the scan-side filter
    * BELOW the top-k (so same-class vectors never enter the buffer), and
    * the per-probe top-k is the bounded-buffer [[TopKAggregator]]
    * (map-side combined; no window sort of the cross product).
    */
  def hardNegatives(emb: DataFrame, probes: DataFrame, k: Int,
                    labelCol: String = "label"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val p = broadcast(probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"), col(labelCol).as("plabel")))
    emb.crossJoin(p)
      .filter(col("vec_id") =!= col("probe_id") && col(labelCol) =!= col("plabel"))
      .select(col("probe_id"), col("vec_id"),
        round(VecF.cosine(col("embedding"), col("pv")), 6).as("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => TopKAggregator.Scored(t._3, t._2))
      .agg(TopKAggregator(k).toColumn.name("top"))
      .toDF("probe_id", "top")
      .select(col("probe_id"), posexplode(col("top")).as(Seq("rk", "s")))
      .select(col("probe_id"), (col("rk") + 1).cast("int").as("rank"),
        col("s.id").as("negative_id"), col("s.score").as("sim"))
      .orderBy("probe_id", "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with the deterministic
    * Lloyd k-means index, then deduplicate only WITHIN each cluster — a
    * vector is dropped when a lower-id vector in the same cluster has cosine
    * ≥ `threshold`. Survivors keep their cluster id.
    *
    * Scale shape: clustering bounds the pair fan-out — instead of the global
    * O(n²) join of [[embeddingNearDupPairs]], candidate pairs exist only
    * inside a cluster (an equi-join on `centroid_id`), so pair work is
    * Σ|cluster|². Size `nlist` proportional to n (SemDeDup trains ~100 k
    * clusters for 5 B embeddings) to hold expected cluster size — and with
    * it per-cluster quadratic work and per-key join fan-out — constant. The
    * keep-lowest-id rule replaces the paper's keep-farthest-from-centroid
    * tie-break to stay deterministic and oracle-checkable; the semantic
    * groups found are identical.
    *
    * The cluster assignment is consumed three times (both pair-join sides
    * and the survivor anti-join), so it is materialized once behind a
    * [[Materialize.barrier]] — `checkpointDir` switches it to the
    * executor-loss-safe reliable mode like every other dedup barrier.
    *
    * Assignment auto-switches at [[literalAssignMaxNlist]] from the literal
    * argmin projection to the broadcast join, so SemDeDup-scale `nlist ∝ n`
    * sizing (the paper's ~100 k clusters) never hits codegen expression
    * limits. Input must be unique by `vec_id` (see [[ivfIndex]]).
    */
  def semanticDedup(emb: DataFrame, nlist: Int = 4, iters: Int = 4,
                    threshold: Double = 0.45,
                    checkpointDir: Option[String] = None,
                    centsOpt: Option[Surface[LloydParams, Seq[(Long, Array[Double])]]] = None): DataFrame = {
    // centsOpt injects a PRETRAINED centroid set (the session-shared Lloyd
    // memo — must be lloydCentroidsLocalValues(emb, nlist, iters) over the
    // same input); when absent the operator trains its own.
    val cents = centroidsFor(emb, nlist, iters, centsOpt, "semanticDedup")
    val assigned = Materialize.barrier(
      assignScored(PartitionUtil.spread(emb, "vec_id"), cents)
        .select(col("vec_id"), col("centroid_id"),
          col("embedding"), VecF.norm(col("embedding")).as("nrm")),
      checkpointDir)
    val a = assigned.select(col("centroid_id").as("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("centroid_id").as("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dominated = a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(VecF.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    assigned.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
      .orderBy("vec_id")
  }

  /** Per-DIMENSION embedding health report — the feature-QA pass run before
    * trusting an embedding column at scale (dead dimensions, scale
    * imbalance across dims, range outliers all break cosine geometry and
    * quantization): for each dimension index, the vector count, exact
    * min/max of the component, and mean/variance computed from exact
    * integer-quantized moments (floor(x·1e9) summed as DECIMAL(38,0) — the
    * Lloyd discipline, so both statistics are bit-identical cross-engine;
    * variance = (n·Q − S²) / (1e18·n²) evaluated in one fixed expression).
    *
    * Shape at scale: posexplode + ONE (dim)-keyed map-side-combined
    * aggregation; output is `dim` rows at any corpus size.
    */
  def dimStats(emb: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    emb.select(posexplode(col("embedding")).as(Seq("dim", "comp")))
      .withColumn("c", col("comp").cast("double"))
      .withColumn("q", floor(col("c") * lit(1e9)).cast(dec))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        min(col("c")).as("vmin"),
        max(col("c")).as("vmax"),
        sum(col("q")).as("__s"),
        sum(col("q") * col("q")).as("__qq"))
      .select(col("dim"), col("n"), col("vmin"), col("vmax"),
        (col("__s").cast("double") / (lit(1e9) * col("n"))).as("mean"),
        ((col("n").cast(dec) * col("__qq") - col("__s") * col("__s")).cast("double") /
          (lit(1e18) * col("n").cast("double") * col("n").cast("double"))).as("variance"))
      .orderBy("dim")
  }

  /** IVF RECALL report — retrieval quality as an ORACLE-CHECKED query, not
    * just a suite gate: for every probe in a bounded modular batch, the
    * exact brute-force cosine top-k is compared against the IVF
    * (nlist/nprobe) top-k over the same deterministic index, reporting the
    * overlap and integer per-mille recall@k. Both top-k sets are strictly
    * ordered (round-6 sim desc, vec_id asc), so the overlap is exact
    * cross-engine — the number an ANN deployment watches when tuning
    * nprobe against latency.
    *
    * Shape at scale: the index builds once ([[ivfIndex]]); the probe batch
    * is bounded (broadcast); IVF candidates are the probed buckets only;
    * both top-k reductions ride the bounded-buffer [[TopKAggregator]]
    * (map-side combine, no per-probe window over the corpus — the brute
    * side IS corpus×probes, which is the point of the comparison and still
    * one narrow codegen pass).
    */
  def ivfRecallReport(emb: DataFrame, k: Int = 5, nlist: Int = 4,
                      nprobe: Int = 3, iters: Int = 4,
                      probeEvery: Long = 83L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = emb.filter(col("vec_id") % probeEvery === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val (centroids, assigned) = ivfIndex(emb, nlist, iters)
    val pb = broadcast(
      centroids.crossJoin(broadcast(probes))
        .withColumn("csim", round(VecF.cosine(col("cvec"), col("pv")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("csim").desc, col("centroid_id"))))
        .filter(col("rk") <= nprobe)
        .select(col("probe_id"), col("centroid_id"), col("pv")))
    val ivfTop = topKPerProbe(
      assigned.join(pb, "centroid_id") // bucket pruning
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(VecF.cosine(col("embedding"), col("pv")), 6).as("sim")), k)
    val bruteTop = topKPerProbe(
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(VecF.cosine(col("embedding"), col("pv")), 6).as("sim")), k)
    val overlap = ivfTop.join(bruteTop, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("__ov"))
    bruteTop.groupBy("probe_id").agg(count(lit(1)).as("n_true"))
      .join(overlap, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_true"),
        coalesce(col("__ov"), lit(0L)).as("n_overlap"))
      .withColumn("recall_permille", expr("n_overlap * 1000 DIV n_true"))
      .orderBy("probe_id")
  }

  /** Per-probe top-k ids over (probe_id, vec_id, sim) via the
    * bounded-buffer aggregator (score desc, id asc — [[TopKAggregator]]'s
    * deterministic order).
    */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => TopKAggregator.Scored(t._3, t._2))
      .agg(TopKAggregator(k).toColumn.name("top"))
      .toDF("probe_id", "top")
      .select(col("probe_id"), explode(col("top")).as("s"))
      .select(col("probe_id"), col("s.id").as("vec_id"))
  }

  /** LABEL-MARGIN audit — the embedding-space mislabel detector: each
    * vector's cosine to its OWN label's centroid minus its best cosine to
    * any OTHER label's centroid. A negative margin means the vector sits
    * closer to a foreign class center than its own — the standard
    * cheap-pass flag for annotation errors before training a classifier
    * head. (The NB-chain sibling [[TextAnalysis.mislabelRate]] audits
    * declared language labels from token evidence; this audits arbitrary
    * labels from geometry.)
    *
    * Centroids use [[lloydFrame]]'s exact integer-quantized means
    * (floor(x·1e9) summed as decimal, divided once), so they are
    * bit-identical cross-engine; cosines are round-6 like every scorer in
    * this file; the margin is a round-6 difference of two round-6 doubles.
    *
    * Shape at scale: one (label, dim) partial aggregation builds the
    * centroid table (|labels|·dim rows — bounded index metadata), which
    * broadcasts onto a single narrow scoring pass; own/best-other reduce in
    * one |labels|-wide per-vector aggregation. No pair join, no window.
    */
  def labelMargin(emb: DataFrame): DataFrame = {
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "comp")))
      .withColumn("q", floor(col("comp").cast("double") * lit(1e9)).cast(DecimalType(38, 0)))
      .groupBy(col("label"), col("idx"))
      .agg((sum(col("q")).cast("double") / (lit(1e9) * count(lit(1)))).as("cval"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("idx"), col("cval")))),
        x => x.getField("cval")).as("cvec"))
    val scored = emb
      .crossJoin(broadcast(cent.select(col("label").as("clabel"), col("cvec"))))
      .withColumn("csim", round(VecF.cosine(col("embedding"), col("cvec")), 6))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("label") === col("clabel"), col("csim"))).as("own_sim"),
        max_by(struct(col("clabel").as("l"), col("csim").as("s")),
          when(col("label") =!= col("clabel"), struct(col("csim"), -col("clabel"))))
          .as("best"))
      // degenerate-corpus guard: with a single distinct label there IS no
      // "other" centroid — max_by over an all-null ordering key yields a
      // null struct here, while the oracle's own×other inner join yields
      // zero rows. Dropping null-best rows makes both engines agree (no
      // effect on any corpus with ≥2 labels).
      .where(col("best").isNotNull)
      .select(col("vec_id"), col("label"), col("own_sim"),
        col("best.l").as("best_other_label"), col("best.s").as("best_other_sim"),
        round(col("own_sim") - col("best.s"), 6).as("margin"))
      .orderBy("vec_id")
  }
}
