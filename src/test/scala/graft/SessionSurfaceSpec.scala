package graft

import org.apache.spark.sql.functions.lit

import graft.functions.Hashing
import graft.operators.{Canonical, ContaminationParams, Dedup, IvfPqParams, LloydParams,
  LshParams, Pipeline, Similarity, SubstringParams, Surface}
import graft.sources.Tables

/** The suite fixture runs on the shipped session, and a shared surface built
  * at other parameters than a consumer's own is refused, not served.
  */
class SessionSurfaceSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf0001, "documents").limit(200)
  private def emb = Tables.table(spark, sf0001, "embeddings").limit(200)

  /** Runs `consume` and returns the refusal message. */
  private def refused(consume: => Any): String =
    intercept[IllegalArgumentException](consume).getMessage

  test("SparkSpec sessions are Graft.session: graft SQL functions and the RocksDB store") {
    val viaSql = spark.sql("SELECT graft_hash60('x')").head().getLong(0)
    val viaColumn = spark.range(1).select(Hashing.hash60(lit("x"))).head().getLong(0)
    assert(viaSql == viaColumn)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  test("substring consumers refuse quads built at another df cap") {
    val quads = Surface.build(SubstringParams(n = 13, maxDf = 40))(p =>
      Dedup.substringMatchedQuads(docs, "doc_id", "text", n = p.n, maxDf = p.maxDf))
    val msg = refused(Dedup.exactSubstringPairs(docs, "doc_id", "text",
      n = 13, maxDf = 50, matched = Some(quads)))
    assert(msg.contains("exactSubstringPairs") && msg.contains("SubstringParams(13,40)"), msg)
    refused(Dedup.substringTrimApply(docs, "doc_id", "text",
      n = 13, minSpan = 20, maxDf = 50, matchedOpt = Some(quads)))
  }

  test("decontamination consumers refuse a report built at another n") {
    val holdout = Canonical.quotingHoldout(docs)
    val report = Surface.build(ContaminationParams(n = 8))(p =>
      Dedup.exactSubstringContamination(docs, holdout, "doc_id", "text", n = p.n))
    refused(Dedup.applyDecontamination(docs, holdout, "doc_id", "text",
      n = 13, minSpanTokens = 20, reportOpt = Some(report)))
    refused(Pipeline.trainingManifest(spark, docs, holdout, contamination = Some(report)))
  }

  test("trainingManifest refuses LSH pairs built at another threshold") {
    val pairs = Surface.build(Canonical.lsh.copy(threshold = 0.7))((p: LshParams) =>
      Dedup.minHashLshPairs(docs, "doc_id", "text",
        k = p.k, numPerm = p.numPerm, bands = p.bands, threshold = p.threshold))
    val msg = refused(Pipeline.trainingManifest(spark, docs,
      Canonical.quotingHoldout(docs), pairs = Some(pairs)))
    assert(msg.contains("trainingManifest"), msg)
  }

  test("trainingManifest refuses injected surfaces in reliable-checkpoint mode") {
    import spark.implicits._
    // built at the canonical parameters, so only the checkpointDir is at fault
    val pairs = Surface.build(Canonical.lsh)(_ =>
      Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard"))
    val report = Surface.build(Canonical.contamination)(_ =>
      Seq.empty[(Long, Int)].toDF("doc_id", "longest_span"))
    val holdout = Canonical.quotingHoldout(docs)
    val reliable = Some(tempDir("manifest-reliable"))
    val msg = refused(Pipeline.trainingManifest(spark, docs, holdout,
      checkpointDir = reliable, pairs = Some(pairs)))
    assert(msg.contains("trainingManifest") && msg.contains("checkpointDir"), msg)
    refused(Pipeline.trainingManifest(spark, docs, holdout,
      checkpointDir = reliable, contamination = Some(report)))
  }

  test("Lloyd and IVF+PQ consumers refuse centroids trained at other rounds") {
    val cents = Surface.build(LloydParams(nlist = 4, iters = 4))(p =>
      Similarity.lloydCentroidsLocalValues(emb, p.nlist, p.iters))
    refused(Similarity.kmeansClusterStats(emb, nlist = 4, iters = 2, centsOpt = Some(cents)))
    refused(Similarity.clusterLabelPurity(emb, nlist = 4, iters = 2, centsOpt = Some(cents)))
    refused(Similarity.clusterBalancedSample(emb, nlist = 4, iters = 2, centsOpt = Some(cents)))
    refused(Similarity.indexDrift(emb, emb, nlist = 4, iters = 2, centsOpt = Some(cents)))
    refused(Similarity.semanticDedup(emb, nlist = 8, iters = 4, centsOpt = Some(cents)))
    val books = Surface.build(IvfPqParams(nlist = 4, ivfIters = 2, m = 8, k = 8, pqIters = 2))(p =>
      Similarity.trainIvfPq(emb, p))
    refused(Similarity.ivfPqTopK(emb, probeId = 0L, topK = 5,
      nlist = 4, ivfIters = 4, m = 8, k = 8, pqIters = 4, trainedOpt = Some(books)))
  }
}
