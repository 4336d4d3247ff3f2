package graft

import graft.operators.Similarity
import graft.sources.Tables

/** Plan-shape regressions: at 100 TB the *plan* is the product. These lock in
  * the properties that make each operator scale — pushdown, pruning,
  * broadcast, partial aggregation, top-k without a global sort — so a future
  * refactor that silently trades them away fails here, not on a cluster.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: filter and column pruning reach the parquet scan") {
    val p = plan(Queries.q1FilterProject(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"))
    // pruned read schema: only the 6 referenced columns, not all 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int"))
    assert(!p.contains("l_tax"))
  }

  test("q2: aggregation is partial (map-side combine) + final") {
    val p = plan(Queries.q2Agg(spark, sf0001))
    assert(p.contains("partial_sum"))
    assert(p.contains("HashAggregate"))
  }

  test("q4: small dimension is broadcast, not shuffled") {
    val p = plan(Queries.q4BroadcastJoin(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastExchange"))
  }

  test("q13: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Queries.q13TopK(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"))
  }

  test("q17: latest-per-key is a partial aggregate, not a window sort") {
    val p = plan(Queries.q17LatestPerKey(spark, sf0001))
    assert(p.contains("partial_max_by"))
    // the unused props column must not ride through the aggregate
    assert(!p.contains("props"))
  }

  test("q21: probe side is broadcast and dot product is the codegen expression") {
    val p = plan(Queries.q21CosineTopK(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.toLowerCase.contains("dotproduct"))
  }

  test("embedding near-dup pairs evaluate the codegen dot product") {
    val p = plan(Similarity.embeddingNearDupPairs(Tables.table(spark, sf0001, "embeddings"), 0.45))
    assert(p.toLowerCase.contains("dotproduct"))
  }

  test("q18: reference query is a partial aggregate pipeline, no window sort") {
    val p = plan(Queries.q18ReferenceQuery(spark, sf0001))
    assert(p.contains("partial_max_by"))
    assert(!p.contains("Window"))
  }

  test("q25: range join broadcasts the band dim (no shuffle of the fact side)") {
    val p = plan(Queries.q25RangeJoin(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup candidate generation never plans a cartesian product") {
    val docs = Tables.table(spark, sf0001, "documents")
    // materialize = false: lock the LAZY dataflow (the materializing form
    // checkpoints the result, which would make these assertions vacuous)
    Seq(
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", materialize = false),
      graft.operators.Dedup.ngramJaccardCappedPairs(docs, "doc_id", "text", materialize = false),
      graft.operators.Dedup.minHashLshPairs(docs, "doc_id", "text", materialize = false),
      graft.operators.Dedup.simHashPairs(docs, "doc_id", "text"),
      graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text", materialize = false),
      graft.operators.Dedup.exactSubstringPairs(docs, "doc_id", "text", materialize = false)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product found:\n${p.take(500)}")
    }
  }

  test("q38: EXISTS / NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan(Queries.q38ExistsSubquery(spark, sf0001))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q37: correlated scalar subquery decorrelates (one aggregate + join, no per-row re-execution)") {
    val p = plan(Queries.q37ScalarSubquery(spark, sf0001))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("decontamination is an equi-join on shingle hashes, never doc x doc") {
    val docs = Tables.table(spark, sf0001, "documents")
    val p = plan(graft.operators.Dedup.contaminationReport(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
      "doc_id", "text", k = 5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("[h]") || p.contains("h#"), "join must key on the shingle hash")
    // the holdout shingle set is a benchmark set — tiny at any scale — and
    // must be EXPLICITLY broadcast (not left to AQE runtime conversion), so
    // the train side is filtered with zero shuffle
    assert(p.contains("BroadcastExchange"), "holdout shingle set must broadcast")
    assert(p.contains("BroadcastHashJoin"), "train x holdout must be a broadcast hash join")
  }

  test("fuzzy decontamination broadcasts the holdout on both joins, never doc x doc") {
    val docs = Tables.table(spark, sf0001, "documents")
    val p = plan(graft.operators.Dedup.fuzzyContamination(
      docs,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
      "doc_id", "text", k = 3, numPerm = 64, bands = 32, threshold = 0.4,
      materialize = false))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bipartite banding must stay an equi-join")
    // the holdout (a benchmark set — tiny at any scale) is EXPLICITLY
    // broadcast on the candidate join AND the Jaccard-verify join, so the
    // corpus side is never shuffled for either
    assert(p.contains("BroadcastExchange"), "holdout band/shingle sets must broadcast")
    assert(p.contains("BroadcastHashJoin"), "corpus x holdout must be a broadcast hash join")
  }

  test("substring trim: no cartesian anywhere; trimmed-id set and cover rebuild broadcast") {
    val p = plan(graft.operators.Dedup.substringTrimApply(
      Tables.table(spark, sf0001, "documents"), "doc_id", "text",
      n = 13, minSpan = 20, maxDf = 50, materialize = false))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span trim must stay equi-join based end to end")
    // the trimmed-id membership joins are explicit broadcasts — the corpus
    // side is scanned, never shuffled, for the rebuild routing
    assert(p.contains("BroadcastHashJoin"), "trimmed-id routing must broadcast")
  }

  test("semantic contamination: bipartite band join broadcasts the holdout, never vec x vec") {
    val docs = Tables.table(spark, sf0001, "embeddings")
    val p = plan(Similarity.semanticContamination(
      docs, docs.filter(org.apache.spark.sql.functions.col("vec_id") % 41 === 0),
      threshold = 0.9))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bipartite banding must stay an equi-join")
    assert(p.contains("BroadcastExchange"), "holdout chunks + vectors must broadcast")
    assert(p.contains("BroadcastHashJoin"), "corpus x holdout must be a broadcast hash join")
    // the verify join must keep the corpus probe-only: a sort-merge join
    // here means the whole corpus got hash-partitioned by vec_id
    assert(!p.contains("SortMergeJoin"),
      s"semantic verify join must broadcast the candidate set, not shuffle the corpus:\n$p")
  }

  test("normalized dedup is one partial+final hash aggregate over hashes") {
    val p = plan(graft.operators.TextAnalysis.normalizedDedup(
      Tables.table(spark, sf0001, "documents")))
    assert(p.contains("partial_min") || p.contains("partial_count"))
    assert(!p.contains("Join"), "no join belongs in a hash-groupBy dedup")
  }

  test("int8 quantization is narrow: no shuffle before the final sort") {
    val df = Similarity.quantizeInt8(Tables.table(spark, sf0001, "embeddings"))
    val p = plan(df)
    // exactly the output-ordering exchange; no aggregation/join exchanges
    assert(!p.contains("HashAggregate") && !p.contains("Join"))
  }

  test("k-means assignment broadcasts the centroid set each round") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val p = plan(Similarity.lloydCentroids(emb, nlist = 8, iters = 1))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_sum"), "centroid means must partial-aggregate map-side")
  }

  test("knn join: probes broadcast, top-k is a partial object aggregate, no window sort") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val p = plan(Similarity.knnJoin(emb, emb.filter(
      org.apache.spark.sql.functions.col("vec_id") % 100 === 0), k = 3))
    assert(p.contains("BroadcastExchange"), "probe set must broadcast")
    // the typed TopKAggregator plans as ObjectHashAggregate with a partial
    // pass — each task contributes k rows per probe, not the cross product
    assert(p.contains("ObjectHashAggregate"), "top-k must be the bounded aggregator")
    assert(!p.contains("Window"), "no row_number window sort over the cross product")
  }

  test("cluster stats: literal-centroid narrow projection, partial hash aggregate") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val p = plan(Similarity.kmeansClusterStats(emb))
    // assignment + rescoring is ONE narrow projection over the scan (the
    // centroid set is driver-local metadata baked in as literals) — the old
    // broadcast-join assign + join-back-to-centroids shape must not return
    assert(!p.contains("Join"), s"cluster stats must not join:\n$p")
    assert(p.contains("array_min"), "assignment must be the literal argmin projection")
    assert(p.contains("partial_sum"), "cluster mean must partial-aggregate map-side")
  }

  test("tf-idf: two partial hash aggregations, no cartesian join") {
    val docs = Tables.table(spark, sf0001, "documents")
    val p = plan(graft.operators.TextAnalysis.tfidfTopTerms(docs))
    assert(p.contains("partial_count"), "tf/df must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("interval bucket join plans as an equi-join, never BNLJ") {
    val p = plan(ExtensionQueries.all("interval_bucket_join")(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed interval join must stay an equi-join:\n$p")
  }

  test("doc_pack: exactly one data shuffle (the shard repartition)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = ExtensionQueries.all("doc_pack")(spark, sf0001)
    // unwrap AQE, ignore the final presentation orderBy's range exchange —
    // the OPERATOR itself must shuffle exactly once, on the shard key
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    val hashShuffles = shuffles.filterNot(_.outputPartitioning.toString.contains("range"))
    assert(hashShuffles.size == 1,
      s"doc_pack must shuffle once (shard hash), got ${shuffles.size}:\n$exec")
  }

  test("vocab_encode / sample_temperature / contamination_overlap: corpus joins broadcast") {
    for (q <- Seq("vocab_encode", "sample_temperature", "contamination_overlap")) {
      val p = plan(ExtensionQueries.all(q)(spark, sf0001))
      assert(p.contains("BroadcastHashJoin"), s"$q: corpus-side join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: a sort-merge join here shuffles the exploded corpus:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("decontaminate_exact: holdout broadcasts; the corpus is filtered before any exchange") {
    val docs = Tables.table(spark, sf0001, "documents")
    // materialize = false: lock the LAZY dataflow (checkpointed intermediates
    // would hide the broadcast joins behind LogicalRDD leaves)
    val p = plan(graft.operators.Dedup.exactSubstringContamination(
      docs,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
      "doc_id", "text", n = 13, materialize = false))
    assert(p.contains("BroadcastExchange"), "holdout 13-gram set must broadcast")
    assert(p.contains("BroadcastHashJoin"), "corpus x holdout must be a broadcast hash join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("exact-substring tail fuses to one pair-key exchange (no aggregate join)") {
    val docs = Tables.table(spark, sf0001, "documents")
    // materialize = false: the lazy dataflow exposes the aggregation tail
    // (checkpointed intermediates would hide it behind LogicalRDD leaves).
    // The round-7 shape ran runs/spans/hits as separate aggregations joined
    // at the end — four (doc_a, doc_b)-keyed exchanges; the fused shape
    // repartitions once and every window/aggregate extends that clustering.
    val pairs = graft.operators.Dedup.exactSubstringPairs(
      docs, "doc_id", "text", n = 13, materialize = false)
      .queryExecution.executedPlan.toString
    val pairKeyExchanges = "hashpartitioning\\(doc_a".r.findAllIn(pairs).size
    assert(pairKeyExchanges == 1,
      s"expected ONE (doc_a, doc_b) exchange in the fused tail, found $pairKeyExchanges:\n$pairs")
    assert(!pairs.contains("SortMergeJoin"),
      "pairs plan re-grew a shuffled join (the fused tail needs none; candidate/verify joins are hash-key or broadcast)")
    // the contamination sibling: the only shuffled join is the remnant
    // verify join — an aggregate-vs-aggregate join would add a second
    val contam = graft.operators.Dedup.exactSubstringContamination(
      docs, docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
      "doc_id", "text", n = 13, materialize = false)
      .queryExecution.executedPlan.toString
    val smj = "SortMergeJoin".r.findAllIn(contam).size
    assert(smj <= 1, s"contamination plan has $smj shuffled joins (expected <=1, the remnant verify):\n$contam")
  }

  test("sample_shuffle: one global range sort, no driver, no window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = ExtensionQueries.all("sample_shuffle")(spark, sf0001)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"exactly one exchange expected:\n$exec")
    assert(shuffles.head.outputPartitioning.toString.toLowerCase.contains("range"),
      s"the shuffle must be the range exchange of a global sort:\n$exec")
    val p = exec.toString
    assert(!p.contains("Window"), "no single-partition window sort")
    assert(!p.contains("CollectLimit"), "no driver collection")
  }

  test("sample_epoch_shuffle: one global range sort over the copies, no window, no driver") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = ExtensionQueries.all("sample_epoch_shuffle")(spark, sf0001)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, s"exactly one exchange expected:\n$exec")
    assert(shuffles.head.outputPartitioning.toString.toLowerCase.contains("range"),
      s"the shuffle must be the range exchange of a global sort:\n$exec")
    val p = exec.toString
    assert(!p.contains("Window"), "no single-partition window sort")
    assert(!p.contains("CollectLimit"), "no driver collection")
    assert(p.contains("Generate") || p.contains("explode"),
      "the upsample copy explode must stay a narrow generator")
  }

  test("events funnel/retention: hash-agg pipelines, no window over the event stream") {
    for (name <- Seq("events_funnel", "events_retention")) {
      val p = plan(ExtensionQueries.all(name)(spark, sf0001))
      assert(!p.contains("Window"),
        s"$name must stay window-free (per-user aggregates, not stream sorts):\n$p")
      assert(p.contains("partial_min") || p.contains("partial_count") ||
        p.contains("HashAggregate"),
        s"$name must aggregate with map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
    }
  }

  test("events transition/rolling/anomaly: user-partitioned window only; bounded broadcasts") {
    // transition: the ONLY window is the per-user lag (partitioned by
    // user_id, never a global sort); rolling/anomaly: window-free entirely.
    val pTrans = plan(ExtensionQueries.all("events_transition")(spark, sf0001))
    assert(pTrans.contains("Window"), "transition uses the per-user lag window")
    // assert on the Window SPEC itself: the lag's windowspecdefinition must
    // lead with user_id (a bare `user_id` substring check is vacuous — any
    // plan over the events table contains it; a regression to a global
    // unpartitioned sort-window would still have passed)
    assert("windowspecdefinition\\(user_id#\\d+".r.findFirstIn(pTrans).isDefined,
      s"transition window spec must partition by user_id:\n$pTrans")
    for (name <- Seq("events_rolling_active", "events_anomaly")) {
      val p = plan(ExtensionQueries.all(name)(spark, sf0001))
      assert(!p.contains("Window"),
        s"$name must stay window-free (hash aggregates only):\n$p")
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      assert(p.contains("HashAggregate"), s"$name must hash-aggregate:\n$p")
    }
  }

  test("text_pmi: vocabulary joins never FORCE-broadcast; bigrams form in the scan") {
    // same Heaps-law rule as sourceDivergence/bigramLogprob: the unigram
    // table (one row per distinct corpus term) must not carry a broadcast
    // hint — with auto-broadcast disabled, no term-keyed BroadcastHashJoin
    // may survive. The bigram pairing itself must be the per-row array zip,
    // never a positional self-join of the token stream.
    val docs = Tables.table(spark, sf0001, "documents")
    val conf = spark.conf
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqeBc = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.operators.TextAnalysis.pmiBigrams(docs))
      val termBroadcasts = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") &&
          (l.contains("term_a#") || l.contains("term_b#"))).toSeq
      assert(termBroadcasts.isEmpty,
        s"pmiBigrams forces a broadcast on a vocabulary-sized join:\n${termBroadcasts.mkString("\n")}")
      // bigrams must form as a narrow generator over the token array (the
      // codegen posexplode+element_at pairing), never a positional self-join
      // of the token stream — no extra join beyond the two vocabulary joins
      assert(p.contains("Generate") && p.toLowerCase.contains("posexplode"),
        s"bigrams must form as a posexplode generator:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      oldAqeBc match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("text_coverage_curve: vocabulary top-k is TakeOrdered, never a global vocabulary sort") {
    val p = plan(ExtensionQueries.all("text_coverage_curve")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-max(ks) must plan as per-partition heaps:\n$p")
    // the one window is over the already-truncated <= max(ks) rows (fed by
    // the TakeOrdered), which is bounded by construction
  }

  test("sample_token_budget: corpus running-sum window is bucketed, never one-task-per-source") {
    val df = ExtensionQueries.all("sample_token_budget")(spark, sf0001)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = exec.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, s"expected window execs:\n$exec")
    // the corpus-side running sum must partition by (source, bucket) — a
    // source-only spec would funnel the hot source into ONE task's sort
    assert(windows.exists(_.partitionSpec.size >= 2),
      s"the corpus running-sum window must key on (source, bucket):\n$exec")
    // any source-only window may run only over the bounded per-bucket
    // totals (its subtree aggregates the corpus down to metadata first)
    windows.filter(_.partitionSpec.size < 2).foreach { w =>
      val agg = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
      assert(agg.isDefined,
        s"a source-only window must sit above the bucket-totals aggregate:\n$w")
    }
  }

  test("sample_quality_budget: running-sum window keys on (q_u, bucket), never one global task") {
    val df = ExtensionQueries.all("sample_quality_budget")(spark, sf0001)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val windows = exec.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, s"expected window execs:\n$exec")
    // the corpus-side running sum must partition by (q_u, bucket) — a
    // global or quality-only spec would funnel a constant-quality corpus
    // into ONE task's sort
    assert(windows.exists(_.partitionSpec.size >= 2),
      s"the corpus running-sum window must key on (q_u, bucket):\n$exec")
    // the unpartitioned offsets window may run only over the bounded block
    // totals (its subtree aggregates the corpus down to metadata first)
    windows.filter(_.partitionSpec.size < 2).foreach { w =>
      val agg = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
      assert(agg.isDefined,
        s"an unpartitioned window must sit above the block-totals aggregate:\n$w")
    }
  }

  test("source_overlap: df-capped index, equi-joins only, no cartesian") {
    // materialize = false so the pre-barrier join structure stays visible
    val p = plan(graft.operators.Dedup.sourceOverlap(
      Tables.table(spark, sf0001, "documents"), "doc_id", "text", "source",
      k = 3, maxDf = 50, materialize = false))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the source-pair fan-out must come from the shingle-hash equi-join")
  }

  test("dedup_incremental: history read from the parquet store, batch broadcast, no cartesian") {
    val df = ExtensionQueries.all("dedup_incremental")(spark, sf0001)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val p = exec.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the (band_id, sig) equi-join:\n$p")
    // the historical index must be a parquet scan — never a re-signing of
    // the stored corpus (that is the whole point of the stored index)
    assert(exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.nonEmpty,
      s"stored index should surface as a parquet file scan:\n$p")
    // an ingest-sized batch must still ride broadcast joins — but since
    // round 12 the broadcast is AQE's RUNTIME decision from the batch's
    // observed size (a forced hint would OOM the driver on a backfill-sized
    // batch), so execute the query and assert on the FINAL adaptive plan
    df.count()
    val finalExec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case pl => pl
    }
    assert(finalExec.toString.contains("BroadcastHashJoin"),
      s"AQE should broadcast the ingest-sized batch onto the stored index at " +
        s"runtime:\n$finalExec")
  }

  test("bloom prefilter: membership probe filters the fact BELOW the join") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = ExtensionQueries.all("bloom_prefilter_join")(spark, sf0001)
    // collect() does not descend into AdaptiveSparkPlanExec — unwrap it
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joins = exec.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"expected a join:\n$exec")
    // the probe must be a Filter in a join child's subtree — filtering the
    // fact before the exchange is the whole point of the operator — and it
    // must be the codegen'd BloomMightContain expression, not a Scala UDF
    // (a UDF would break the scan stage's whole-stage-codegen span)
    val probeFilters = joins.flatMap(j => (j.left +: j.right +: Nil).flatMap(
      _.collect { case f: FilterExec
        if f.condition.exists(_.isInstanceOf[graft.plans.BloomMightContain]) => f }))
    assert(probeFilters.nonEmpty, s"bloom probe filter must sit below the join:\n$exec")
    assert(!exec.toString.contains("UDF"), s"bloom probe must not be a UDF:\n$exec")
    assert(!exec.toString.contains("CartesianProduct"))
  }

  test("hardNegatives: probes broadcast, label filter below the top-k, no window sort") {
    val df = ExtensionQueries.all("simsearch_hard_negatives")(spark, sf0001)
    val p = plan(df)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"probe set must broadcast:\n$p")
    assert(!p.contains("Window"), s"per-probe top-k must be the bounded-buffer " +
      s"aggregate, not a window sort of the cross product:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"TopKAggregator must drive the top-k:\n$p")
  }

  test("vocabDrift: global top-N is TakeOrdered, term merge never FORCE-broadcast") {
    val conf = spark.conf
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqeBc = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(ExtensionQueries.all("vocab_drift")(spark, sf0001))
      assert(p.contains("TakeOrderedAndProject"),
        s"top-N must be TakeOrderedAndProject (per-partition heads), not a global sort:\n$p")
      val termBroadcasts = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") && l.contains("term#")).toSeq
      assert(termBroadcasts.isEmpty,
        s"vocabulary merge must not be force-broadcast:\n${termBroadcasts.mkString("\n")}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      oldAqeBc match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("sourceDivergence / naiveBayesLang: vocabulary tables are never FORCE-broadcast") {
    // round-11 latent scale-killers: both operators force-broadcast a table
    // with one row per distinct corpus term — Heaps-law-unbounded at 100 TB
    // (10^8-10^9 types), which kills the driver building the broadcast. With
    // auto-broadcast fully disabled, the ONLY BroadcastExchanges left are
    // the explicitly hinted bounded tables (source totals, corpus total,
    // class priors/defaults); a surviving hint on the term-keyed join would
    // show as a BroadcastHashJoin keyed on `term` and fails here.
    val docs = Tables.table(spark, sf0001, "documents")
    val conf = spark.conf
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqeBc = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val cases = Seq(
        "sourceDivergence" -> graft.operators.TextAnalysis.sourceDivergence(docs),
        "naiveBayesLang" -> graft.operators.TextAnalysis.naiveBayesLang(docs))
      for ((name, df) <- cases) {
        val p = plan(df)
        val termBroadcasts = p.linesIterator
          .filter(l => l.contains("BroadcastHashJoin") && l.contains("term#")).toSeq
        assert(termBroadcasts.isEmpty,
          s"$name forces a broadcast on the term-keyed (vocabulary-sized) join " +
            s"— AQE must decide instead:\n${termBroadcasts.mkString("\n")}")
        // (one-row bounds-aggregate crossJoins legitimately degrade to
        // CartesianProduct with broadcasts disabled — not asserted here)
      }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      oldAqeBc match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("bigramLogprob: bigram/left-context joins never FORCE-broadcast; bigrams form in the scan") {
    // the bigram table outgrows even the Heaps-law unigram vocabulary — a
    // forced broadcast of it is the sourceDivergence scale-killer squared.
    // With auto-broadcast disabled, no BroadcastHashJoin may remain on the
    // bg/w1-keyed joins. The bigram formation itself must be narrow (a
    // posexplode generator in the scan): no join keyed on a token position.
    val docs = Tables.table(spark, sf0001, "documents")
    val conf = spark.conf
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqeBc = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.operators.TextAnalysis.bigramLogprob(docs))
      val forced = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") &&
          (l.contains("bg#") || l.contains("w1#"))).toSeq
      assert(forced.isEmpty,
        s"bigram tables must not be force-broadcast:\n${forced.mkString("\n")}")
      assert(p.contains("Generate") && p.toLowerCase.contains("posexplode"),
        "bigram formation must be the narrow posexplode generator, not a positional join")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      oldAqeBc match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("ivfPqSearchStored: inverted-list scan is partition-pruned and float-free") {
    // the serving claim: a search touches nprobe of nlist partition dirs of
    // an index that stores CODES, never corpus embeddings. Locked in the
    // plan: the invlists FileScan must carry a literal centroid_id
    // PartitionFilter (planning-time pruning — no runtime-filter heuristic
    // involved) and read only (vec_id, code).
    val emb = Tables.table(spark, sf0001, "embeddings")
    val dir = tempDir("graft-ivfpq-plan")
    Similarity.ivfPqStore(emb, dir, nlist = 4, ivfIters = 4,
      m = 8, k = 8, pqIters = 2)
    val p = plan(Similarity.ivfPqSearchStored(spark, dir, emb, probeId = 0L,
      topK = 5, nprobe = 3))
    val invScan = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("invlists")).toSeq
    assert(invScan.nonEmpty, s"no invlists scan found in:\n$p")
    assert(invScan.exists(l => l.contains("PartitionFilters") &&
      l.contains("centroid_id") && (l.contains(" IN ") || l.contains("isnotnull"))),
      s"invlists scan not partition-pruned:\n${invScan.mkString("\n")}")
    assert(invScan.forall(!_.contains("embedding")),
      s"serving scan must never read embeddings:\n${invScan.mkString("\n")}")
    assert(invScan.exists(_.contains("ReadSchema: struct<vec_id:bigint,code:string>")),
      s"invlists read schema must be exactly (vec_id, code):\n${invScan.mkString("\n")}")
  }

  test("pipeline_e2e: stage barriers sever the plan; bounded exchange count; no cartesian") {
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf0001, "documents")
    val holdout = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"),
        array_join(slice(graft.functions.Text.tokens(col("text")), 6, 21), " ").as("text"))
    val p = plan(graft.operators.Pipeline.trainingManifest(spark, docs, holdout))
    // the id-set barriers sever the plan: quality gate, LSH dedup, span
    // decontamination, and the survivor token counts already ran exactly
    // once behind localCheckpoints — the manifest plan reads their blocks,
    // not the operator chains
    assert(p.contains("ExistingRDD"),
      s"manifest plan must start from the stage barriers, not re-derive upstream:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pipeline tail planned a cartesian:\n$p")
    // decide-with-ids discipline (round-14, tightened from round-13's
    // exactly-one): the manifest plan carries ZERO text scans — the
    // quality-gate scan (the single pass that touches text) runs behind
    // the keepCounted barrier, and chunk geometry derives from token
    // counts alone. ANY text scan here means a stage started deriving
    // from the corpus instead of an id/metadata barrier. Matched on the
    // text attribute token (text#<id>), not a bare substring.
    val textScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        "text#\\d".r.findFirstIn(l).isDefined).toSeq
    assert(textScans.isEmpty,
      s"manifest plan must carry no text scan, found ${textScans.size}:\n$p")
    // post-barrier exchanges: budget offsets agg + its per-source window,
    // the budget-selection joins, the pack shard repartition, the manifest
    // range sort — a BOUNDED set. A pile-up here means a stage started
    // re-executing across consumers.
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 10,
      s"pipeline tail exchange count grew to $exchanges (expected <= 10):\n$p")
  }
}
