package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Reproducible sampling / splitting for training-data pipelines.
  *
  * All selection is a pure function of a key hash — NOT an RNG — so results
  * are identical across runs, engines (DuckDB oracle), partitionings, and
  * cluster sizes, and a row's assignment never changes as the corpus grows.
  * That is the property training pipelines actually need (stable splits,
  * reproducible subsets), and it makes sampling a narrow codegen'd filter:
  * no shuffle, no driver coordination, trivially 100 TB-scalable.
  *
  * Each operator salts the hash with its own fixed name, so different
  * samples drawn from the same table are independent.
  */
object Sampling {

  /** Temperature-scaled source mixing (α = 0.5): per-source keep rates
    * ∝ sqrt(n_source / n_largest) — the standard "flatten the source
    * distribution" rebalance (multilingual/multi-domain training mixes),
    * with the largest source kept whole and small sources UP-weighted
    * relative to proportional sampling.
    *
    * α is fixed at 0.5 deliberately: the rate computation is then
    * division + sqrt, both IEEE-correctly-rounded in every engine, so the
    * integer keep-thresholds (`floor(10000 · sqrt(n_s/max_n))`) are exact
    * cross-engine — a general `pow(x, α)` is only faithfully rounded and
    * could flip boundary docs between engines.
    *
    * Shape at scale: one per-source count aggregation, a one-row global
    * max broadcast into it, the resulting per-source threshold table
    * broadcast into a narrow hash filter over the corpus. No corpus
    * shuffle at all.
    */
  def temperatureMix(df: DataFrame, idCol: String, srcCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n"))
    val maxN = broadcast(counts.agg(max(col("n")).as("max_n")))
    val thresholds = counts.crossJoin(maxN)
      .select(col(srcCol),
        floor(lit(10000) * sqrt(col("n").cast("double") / col("max_n").cast("double")))
          .cast("long").as("thr"))
    df.join(broadcast(thresholds), srcCol)
      .filter(pmod(Hashing.hash60(concat(lit("temp:"), col(idCol))), lit(10000)) < col("thr"))
      .select(col(idCol), col(srcCol), col("thr"))
      .orderBy(idCol)
  }

  /** EPOCH up-sampling / repeat-factor source mixing — the other half of
    * corpus mixing that [[temperatureMix]]/[[mixSources]] (pure
    * down-sampling) can't express: a source weighted w > 1 has every doc
    * repeated floor(w) times plus one more for a deterministic hash-selected
    * frac(w) fraction (so "2.5 epochs of src0" means every src0 doc appears
    * 2 or 3 times and the source's total mass is exactly 2.5× in
    * expectation); w < 1 down-samples the same way (0 or 1 copies); sources
    * absent from `weights` default to exactly one copy. This is the
    * standard rare-high-quality-source repetition knob (a 3-epoch Wikipedia
    * against a 1-epoch web crawl). Fractions quantize to integer
    * per-10000 thresholds so the boundary docs are exact cross-engine.
    *
    * Shape at scale: the weight table is a literal broadcast; copies come
    * from exploding a per-row `sequence(1, n_copies)` — a narrow generator
    * with output proportional to the target mix, no shuffle at all before
    * the output ordering. Output: (doc_id, source, copy_idx 1..n).
    */
  def upsampleMix(df: DataFrame, idCol: String, srcCol: String,
                  weights: Map[String, Double]): DataFrame = {
    import df.sparkSession.implicits._
    val wt = weights.toSeq.map { case (s, w) =>
      require(w >= 0, s"negative weight for $s")
      (s, math.floor(w).toLong, math.round((w - math.floor(w)) * 10000))
    }.toDF(srcCol, "whole", "thr")
    val n = (coalesce(col("whole"), lit(1L)) +
      when(bucket("epoch", col(idCol)) < coalesce(col("thr"), lit(0L)), 1L).otherwise(0L))
    df.join(broadcast(wt), Seq(srcCol), "left")
      .select(col(idCol), col(srcCol),
        explode(when(n >= 1, sequence(lit(1L), n))
          .otherwise(array().cast("array<long>"))).as("copy_idx"))
      .select(col(idCol), col(srcCol), col("copy_idx"))
      .orderBy(idCol, "copy_idx")
  }

  /** Deterministic global corpus shuffle: order the corpus by a seeded hash
    * of the key. Training pipelines need a REPRODUCIBLE shuffle between
    * packing and tokenization (so a rerun, a resume, or a different cluster
    * size produces the identical example order); an RNG-based shuffle
    * cannot give that, a seeded hash order can — the permutation is a pure
    * function of (seed, key).
    *
    * Scale shape: Spark plans a global `orderBy` as ONE range exchange
    * (sampled range boundaries) + per-partition sort — no driver
    * materialization, no single-partition window. The hash rides along as
    * `shuffle_key` so downstream stages can verify, resume, or re-establish
    * the order without recomputing it (plan-locked in PlanShapeSpec).
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.withColumn("shuffle_key",
        Hashing.hash60(concat(lit(s"shuffle:$seed:"), col(idCol).cast("string"))))
      .orderBy(col("shuffle_key"), col(idCol))

  /** EPOCH-aware deterministic shuffle — the global training order a
    * pipeline ships after mixing: [[upsampleMix]]'s per-source repeat
    * factors produce the copies, then every (doc, copy) gets a seeded
    * 60-bit hash and the corpus orders by it — so the epochs of an
    * up-weighted source INTERLEAVE through the whole training run instead
    * of repeating back-to-back (back-to-back epochs of the same shard are
    * the classic repetition artifact), and the order is a pure function of
    * (seed, doc, copy): reproducible across reruns, resumes, engines, and
    * cluster sizes, like [[deterministicShuffle]].
    *
    * Shape at scale: the weight explode is narrow; the global order is ONE
    * range exchange + per-partition sort (no window, no driver
    * materialization — plan-locked like sample_shuffle).
    */
  def epochShuffle(df: DataFrame, idCol: String, srcCol: String,
                   weights: Map[String, Double], seed: Long): DataFrame =
    upsampleMix(df, idCol, srcCol, weights)
      .withColumn("shuffle_key",
        Hashing.hash60(concat(lit(s"eshuffle:$seed:"), col(idCol).cast("string"),
          lit(":"), col("copy_idx").cast("string"))))
      .orderBy(col("shuffle_key"), col(idCol), col("copy_idx"))

  /** `key`'s 60-bit hash salted with the operator's `tag`, reduced mod
    * `modulus`.
    */
  private def keyHash(tag: String, key: Column, modulus: Long): Column =
    pmod(Hashing.hash60(concat(lit(tag), lit(":"), key.cast("string"))), lit(modulus))

  /** bucket in [0, 10000): four decimal digits of rate resolution. */
  private def bucket(tag: String, key: Column): Column = keyHash(tag, key, 10000L)

  /** Per-stratum fractions (e.g. per language/source); strata absent from the
    * map are dropped.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       fractions: Map[String, Double]): DataFrame =
    strataFilter(df, keyCol, strataCol, fractions, "strata")

  private def strataFilter(df: DataFrame, keyCol: String, strataCol: String,
                           fractions: Map[String, Double], tag: String): DataFrame = {
    val thresholds = fractions.foldLeft(lit(-1L)) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit((f * 10000).toLong)).otherwise(acc)
    }
    df.filter(bucket(tag, col(keyCol)) < thresholds)
  }

  /** Weighted corpus mixing: per-source sampling rates + a deterministic
    * global interleave order (`mix_order` = key hash), so downstream
    * training reads a reproducible, well-shuffled blend of sources without
    * any global sort coordination — ORDER BY mix_order range-partitions.
    */
  def mixSources(df: DataFrame, keyCol: String, sourceCol: String,
                 weights: Map[String, Double]): DataFrame =
    strataFilter(df, keyCol, sourceCol, weights, "mix")
      .withColumn("mix_order", bucket("mix:order", col(keyCol)))

  /** Stable train/validation/test assignment by key. */
  def split(df: DataFrame, keyCol: String,
            trainFrac: Double, validFrac: Double): DataFrame = {
    val b = bucket("split", col(keyCol))
    df.withColumn("split",
      when(b < (trainFrac * 10000).toLong, "train")
        .when(b < ((trainFrac + validFrac) * 10000).toLong, "valid")
        .otherwise("test"))
  }

  /** TOKEN-budget corpus capping — the mixture-planner sibling of
    * [[capPerGroup]] (which caps DOC counts): each source keeps the
    * deterministic-hash-ordered PREFIX of its documents whose cumulative
    * token count stays within `budget`. Prefix truncation is the rule a
    * token-budgeted mixture actually ships: which docs survive depends only
    * on their own hash order, so the kept set is reproducible and stable
    * run-to-run (no RNG), and the budget binds on TOKENS — the unit training
    * cost is measured in — not document counts.
    *
    * Shape at scale — BUCKETED prefix sums, never one-task-per-source
    * (round-10 verdict fix): a `Window.partitionBy(source)` running sum
    * would route EVERY doc of a source through a single task's sort, and
    * the source that needs a token budget is exactly the one too big for
    * one task (the same reasoning [[capPerGroup]]'s scaladoc makes for doc
    * counts). Instead: (1) a narrow codegen projection (token count +
    * 50-bit hash image, exact in a double mantissa like [[capPerGroup]]'s)
    * adds a range bucket `floor(hash / width)` — monotone in the hash, so
    * concatenating buckets in bucket order IS the global (hash, id) order;
    * (2) per-(source, bucket) token totals — bounded metadata,
    * nSources × nBuckets rows; (3) exclusive prefix sums over that tiny
    * table give each bucket its cumulative offset, buckets wholly past the
    * budget are pruned, and the offsets broadcast back; (4) the running sum
    * runs per-(source, bucket) — the hot source spreads across `nBuckets`
    * tasks, each sorting only its hash-range slice, and `cum_tokens` =
    * bucket offset + within-bucket running sum is exactly the single-window
    * value. Raise `nBuckets` with corpus size; the metadata table stays
    * trivially broadcastable.
    */
  def tokenBudgetPerSource(df: DataFrame, idCol: String, srcCol: String,
                           textCol: String, budget: Long,
                           nBuckets: Int = 64): DataFrame =
    tokenBudgetPerSourceCounted(
      df.select(col(idCol), col(srcCol),
        size(graft.functions.Text.tokens(col(textCol))).cast("long").as("n_tokens")),
      idCol, srcCol, budget, nBuckets)

  /** [[tokenBudgetPerSource]] over PRE-COUNTED rows `(idCol, srcCol,
    * n_tokens)` — split out so pipeline compositions can tokenize once into
    * a narrow (ids + ints) barrier and feed BOTH consumers of the budget
    * stage (the bucket-offset aggregation and the running-sum join) from it:
    * `base` below is consumed twice, and when it derives straight from a
    * text-carrying frame each consumer re-tokenizes the corpus
    * ([[Pipeline.trainingManifest]] measured one full text scan saved at
    * sf0.1). Plan-identical to the text form for standalone callers (the
    * counting projection simply moves into the caller).
    */
  def tokenBudgetPerSourceCounted(counted: DataFrame, idCol: String,
                                  srcCol: String, budget: Long,
                                  nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val width = math.max(1L, (1L << 50) / nBuckets)
    val base = counted.select(col(idCol), col(srcCol), col("n_tokens"),
      keyHash("tokbudget", col(idCol), 1L << 50).as("__h"))
      .withColumn("__b", floor(col("__h") / lit(width)).cast("long"))
    // bucket totals + exclusive prefix: BOUNDED metadata (≤ nSources ×
    // (nBuckets + 1) rows), so the per-source window here is a tiny-table
    // sort, and the offset table legitimately broadcasts
    val wb = Window.partitionBy(col(srcCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(srcCol), col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__before", coalesce(sum(col("__bt")).over(wb), lit(0L)))
      .filter(col("__before") <= budget) // buckets wholly past the budget pruned
      .select(col(srcCol), col("__b"), col("__before"))
    // exact ordering only WITHIN each (source, bucket) slice; the inner
    // join also prunes the pruned buckets' rows before the exchange
    val wr = Window.partitionBy(col(srcCol), col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq(srcCol, "__b"))
      .withColumn("cum_tokens", col("__before") + sum(col("n_tokens")).over(wr))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col(srcCol), col("n_tokens"), col("cum_tokens"))
      .orderBy(idCol)
  }

  /** QUALITY-ordered token-budget capping — the FineWeb-style "keep the best
    * documents the budget affords" cut (where [[tokenBudgetPerSource]] caps
    * by deterministic hash order, this caps by the composite quality score,
    * so the budget buys the highest-quality tokens): documents ordered by
    * (quality DESC, hash, id), kept while the running token sum stays within
    * `budget`. Quality is `TextAnalysis.qualityScore`'s composite in exact
    * integer micro-units (round-6 double × 1e6, re-rounded — exact
    * cross-engine because the product sits within 2⁻⁴⁰ of an integer).
    *
    * Shape at scale: same bucketed-prefix-sum machinery as
    * [[tokenBudgetPerSource]], with block key (q_u, hash-bucket). The
    * decomposition is order-exact: within one q_u the order IS hash-first,
    * so hash-range blocks are contiguous; across q_u blocks order by q_u
    * DESC. Block totals form a bounded-metadata table (distinct quality
    * levels × nBuckets — thousands of rows for real corpora, ≤ the 6-dp
    * grid by construction), its exclusive prefix is one tiny-table window,
    * offsets broadcast back, and each block's running sum is its own task —
    * a corpus where every doc shares one quality level still spreads across
    * nBuckets tasks. Blocks wholly past the budget prune before the
    * exchange.
    */
  def qualityTokenBudget(docs: DataFrame, budget: Long,
                         nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val width = math.max(1L, (1L << 50) / nBuckets)
    val base = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        round(col("quality_score") * 1e6).cast("long").as("q_u"),
        col("n_tokens").cast("long").as("n_tokens"))
      .withColumn("__h", keyHash("qbudget", col("doc_id"), 1L << 50))
      .withColumn("__b", floor(col("__h") / lit(width)).cast("long"))
    val wo = Window.orderBy(col("q_u").desc, col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("q_u"), col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__before", coalesce(sum(col("__bt")).over(wo), lit(0L)))
      .filter(col("__before") <= budget) // blocks wholly past the budget pruned
      .select(col("q_u"), col("__b"), col("__before"))
    val wr = Window.partitionBy(col("q_u"), col("__b"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq("q_u", "__b"))
      .withColumn("cum_tokens", col("__before") + sum(col("n_tokens")).over(wr))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("q_u"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Mixture PLANNING: turn target source weights + a global token budget
    * into per-source sampling rates — the step a mixture designer runs
    * BEFORE [[tokenBudgetPerSource]]/[[stratifiedSample]] execute the cut
    * (The-Pile-style weighted mixes: decide how much of each source the
    * budget affords at the target proportions, and where a source runs out).
    *
    * Per source: target_tokens = floor(budget · w_permille / 1000);
    * rate_permille = min(1000, floor(target·1000 / n_tokens)) — the largest
    * per-mille rate whose planned take stays within target;
    * planned_tokens = floor(n_tokens · rate / 1000); `capped` marks sources
    * whose full inventory cannot fill their target (rate pinned at 1000 and
    * planned < target — the budget must be re-spread or the source
    * up-sampled via [[upsampleMix]]). Sources absent from `weights` get
    * weight 0 (planned out). All arithmetic is integer → exact cross-engine.
    *
    * Shape at scale: ONE map-side-combined per-source aggregation over the
    * corpus (the only corpus-sized work), then pure literal arithmetic on a
    * source-count-sized table. Output is nSources rows at any corpus size.
    */
  def mixPlan(df: DataFrame, idCol: String, srcCol: String, textCol: String,
              weights: Map[String, Double], budget: Long): DataFrame = {
    import df.sparkSession.implicits._
    // over-allocating the budget (Σw > 1) is almost always a config typo —
    // fail loudly at plan time rather than emit an overcommitted plan
    require(weights.values.sum <= 1.0 + 1e-9,
      s"mix weights sum to ${weights.values.sum} > 1 — the plan would " +
        "over-allocate the token budget")
    // budget·permille runs in 64-bit; guard the multiply against wraparound
    require(budget >= 0 && budget <= Long.MaxValue / 1000,
      s"budget $budget outside [0, ${Long.MaxValue / 1000}] — " +
        "the per-mille arithmetic would overflow 64 bits")
    val wt = weights.toSeq.map { case (s, w) =>
      require(w >= 0 && w <= 1, s"weight for $s must be in [0,1], got $w")
      (s, math.round(w * 1000))
    }.toDF(srcCol, "weight_permille")
    val inv = df
      .groupBy(col(srcCol))
      // coalesce: a source whose docs are ALL null-text sums to NULL — the
      // plan should report 0 tokens of inventory, not a NULL that poisons
      // the downstream integer report
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(graft.functions.Text.tokens(col(textCol))).cast("long")),
          lit(0L)).as("n_tokens"))
    inv.join(broadcast(wt), Seq(srcCol), "left")
      .withColumn("weight_permille", coalesce(col("weight_permille"), lit(0L)))
      .withColumn("target_tokens", floor(lit(budget) * col("weight_permille") / 1000L))
      .withColumn("rate_permille",
        when(col("n_tokens") > 0,
          least(lit(1000L), floor(col("target_tokens") * 1000L / col("n_tokens"))))
          .otherwise(lit(0L)))
      .withColumn("planned_tokens", floor(col("n_tokens") * col("rate_permille") / 1000L))
      .withColumn("capped",
        col("rate_permille") === 1000L && col("planned_tokens") < col("target_tokens"))
      .select(srcCol, "n_docs", "n_tokens", "weight_permille", "target_tokens",
        "rate_permille", "planned_tokens", "capped")
      .orderBy(srcCol)
  }

  /** Cap each group at `maxPerGroup` rows — the corpus-balancing rule
    * ("at most N documents per domain/source"), selected deterministically
    * by key hash so the kept set is stable across runs and partitionings.
    *
    * Selection rides [[TopKAggregator]] (score = hash, desc), NOT
    * `row_number() OVER`: the window form sorts every row of every group,
    * while the bounded buffer ships at most `maxPerGroup` rows per group per
    * map task through the shuffle — the same reasoning as `grouped_topk`,
    * which matters precisely when a group is hot enough to need capping.
    * The hash is folded into 2^50 so its double image is exact (53-bit
    * mantissa) and the ordering matches the oracle's integer sort.
    */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
                  maxPerGroup: Int): DataFrame =
    capPerGroupHashed(df, keyCol, groupCol, maxPerGroup, "quota")

  /** [[capPerGroup]] with the hash salted by `tag`, so a caller drawing its
    * own independent cap (`Similarity.clusterBalancedSample`) passes its own.
    */
  private[operators] def capPerGroupHashed(df: DataFrame, keyCol: String, groupCol: String,
                                           maxPerGroup: Int, tag: String): DataFrame = {
    import df.sparkSession.implicits._
    val hashed = df.select(
      col(groupCol).cast("string").as("g"),
      col(keyCol).cast("long").as("id"),
      keyHash(tag, col(keyCol), 1L << 50).cast("double").as("h"))
    hashed.as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => TopKAggregator.Scored(t._3, t._2))
      .agg(TopKAggregator(maxPerGroup).toColumn.name("sel"))
      .toDF("g", "sel")
      .select(col("g").as(groupCol), explode(col("sel.id")).as(keyCol))
      .orderBy(groupCol, keyCol)
  }

  /** DSIR-style importance WEIGHTS (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): per-document
    * log-importance weight ln(p_target(d)/p_raw(d)) under add-one-smoothed
    * unigram bag-of-words models of a small TARGET (domain) corpus and the
    * large RAW corpus — the standard recipe for "select web data that looks
    * like my domain". Positive weight = looks more like the target.
    *
    * Per token t: lr(t) = ln[ (c_T(t)+1)·(N_R+V) / ((c_R(t)+1)·(N_T+V)) ]
    * over the UNION vocabulary (size V). Determinism: the log argument is a
    * ratio of exact integer products (< 2⁵³ at any feasible count, so the
    * doubles are exact), each log quantizes to 6 decimals, the per-doc sum
    * runs in decimal, and the result is exact integer MICRO-nats — the
    * [[TextAnalysis.sourceDivergence]] recipe.
    *
    * Shape at scale: two vocabulary-sized hash aggregations (one pass over
    * each corpus), one-row totals broadcast, then ONE term-keyed join of
    * token instances against the per-term table — NO broadcast hint (the
    * vocabulary is Heaps-law-unbounded; AQE broadcasts it only when it is
    * genuinely small) — and a doc-keyed partial aggregation. Output is one
    * row per raw doc: (doc_id, n_tokens, w_unats).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tt = target.select(explode(graft.functions.Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ct"))
    val rt = raw.select(explode(graft.functions.Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cr"))
    val vocab = tt.select("term").unionByName(rt.select("term")).distinct()
    val vN = vocab.agg(count(lit(1)).as("v"))
    val nT = tt.agg(sum(col("ct")).as("nt"))
    val nR = rt.agg(sum(col("cr")).as("nr"))
    val lr = vocab
      .join(tt, Seq("term"), "left")
      .join(rt, Seq("term"), "left")
      .crossJoin(broadcast(vN)).crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("term"),
        round(log(((coalesce(col("ct"), lit(0L)) + 1) * (col("nr") + col("v"))).cast("double") /
          ((coalesce(col("cr"), lit(0L)) + 1) * (col("nt") + col("v"))).cast("double")), 6)
          .cast(DecimalType(18, 6)).as("lr"))
    val tok = raw.select(col(idCol).as("doc_id"),
      explode(graft.functions.Text.tokens(col(textCol))).as("term"))
    val sums = tok.join(lr, Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr").cast(DecimalType(28, 6))).as("w"))
    raw.select(col(idCol).as("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce((col("w") * 1000000).cast("long"), lit(0L)).as("w_unats"))
  }

  /** Importance RESAMPLING: keep the `n` raw documents with the highest
    * [[importanceWeights]] (ties to the smaller doc_id) — the deterministic
    * top-n analog of DSIR's Gumbel-top-k draw (an RNG would break the
    * cross-engine oracle; the ranking is the part that matters for
    * selection quality).
    *
    * Shape at scale: the weight table (3 longs per raw doc — orders of
    * magnitude smaller than the corpus text) is materialized ONCE
    * ([[Materialize.barrier]]; `checkpointDir` switches to the
    * executor-loss-safe parquet barrier) because both the threshold and the
    * output read it — without the barrier the two corpus-pass weight
    * computations would run twice. The selection threshold is the n-th
    * (weight, doc_id) pair, found with a top-n (TakeOrderedAndProject —
    * per-partition heads, no global sort) reduced to ONE broadcast row;
    * selection is then a narrow filter over the weight table. Output: every
    * raw doc with its weight and a `selected` flag.
    */
  def importanceResample(raw: DataFrame, target: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         materialize: Boolean = true,
                         checkpointDir: Option[String] = None): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w0 = importanceWeights(raw, target, idCol, textCol)
    val w = if (materialize) Materialize.barrier(w0, checkpointDir) else w0
    val thr = w.orderBy(col("w_unats").desc, col("doc_id").asc).limit(n)
      .agg(min(struct(col("w_unats"), (-col("doc_id")).as("nid"))).as("t"))
      .select(col("t.w_unats").as("tw"), (-col("t.nid")).as("tid"))
    w.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("w_unats"),
        (col("w_unats") > col("tw") ||
          (col("w_unats") === col("tw") && col("doc_id") <= col("tid"))).as("selected"))
      .orderBy("doc_id")
  }
}
