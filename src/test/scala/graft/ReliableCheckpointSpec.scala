package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{ConnectedComponents, Dedup, SubstringParams, Surface}
import graft.sources.Tables

/** The reliable-checkpoint option (graft.operators.Materialize) across every
  * barrier family: each operator's `checkpointDir` mode must produce the
  * exact result of the default `localCheckpoint` mode, must actually write
  * barrier files (no silent lineage fallback), and — for the iterative CC
  * fixpoint — must delete superseded rounds' files instead of accumulating
  * one directory per round.
  */
class ReliableCheckpointSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf0001, "documents")
    .limit(400) // plenty of planted near-dups at sf0.001; keeps the suite fast

  private def barrierDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("barrier-"))
      .map(_.getName)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("exact-substring family: reliable mode matches default and writes barriers") {
    val dir = tempDir("graft-rel-substr")
    val default = rows(Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 13))
    val reliable = rows(Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 13,
      checkpointDir = Some(dir)))
    assert(reliable == default)
    assert(default.nonEmpty, "fixture produced no pairs — the equality is vacuous")
    assert(barrierDirs(dir).nonEmpty,
      "reliable mode wrote no barrier files — it silently used localCheckpoint")
  }

  test("substring trim: reliable mode matches default and trims the same spans") {
    val dir = tempDir("graft-rel-trim")
    val default = rows(Dedup.substringTrimApply(docs, "doc_id", "text",
      n = 13, minSpan = 20))
    val reliable = rows(Dedup.substringTrimApply(docs, "doc_id", "text",
      n = 13, minSpan = 20, checkpointDir = Some(dir)))
    assert(reliable == default)
    // the equality must not be vacuous: the fixture's planted near-dups
    // produce real >= 20-token cuts
    assert(default.exists(!_.endsWith("|0")),
      "fixture produced no trimmed docs — the equality is vacuous")
    assert(barrierDirs(dir).nonEmpty,
      "reliable mode wrote no barrier files — it silently used localCheckpoint")
  }

  test("substring family: injected shared matched surface matches self-built") {
    // the session-shared build-once/serve-many path (round-14): both
    // consumers fed the SAME precomputed quadruple barrier must reproduce
    // their self-built results exactly
    val quads = Surface.build(SubstringParams(n = 13, maxDf = 50))(p =>
      Dedup.substringMatchedQuads(docs, "doc_id", "text", n = p.n, maxDf = p.maxDf))
    val pairsSelf = rows(Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 13))
    val pairsInj = rows(Dedup.exactSubstringPairs(docs, "doc_id", "text", n = 13,
      matched = Some(quads)))
    assert(pairsInj == pairsSelf)
    assert(pairsSelf.nonEmpty, "fixture produced no pairs — the equality is vacuous")
    val trimSelf = rows(Dedup.substringTrimApply(docs, "doc_id", "text",
      n = 13, minSpan = 20))
    val trimInj = rows(Dedup.substringTrimApply(docs, "doc_id", "text",
      n = 13, minSpan = 20, matchedOpt = Some(quads)))
    assert(trimInj == trimSelf)
    assert(trimSelf.exists(!_.endsWith("|0")),
      "fixture produced no trimmed docs — the equality is vacuous")
  }

  test("fuzzy contamination: reliable mode matches default") {
    val holdout = docs.filter("doc_id % 40 = 0")
    val dir = tempDir("graft-rel-fuzzy")
    val default = rows(Dedup.fuzzyContamination(docs, holdout, "doc_id", "text",
      k = 3, numPerm = 64, bands = 32, threshold = 0.4))
    val reliable = rows(Dedup.fuzzyContamination(docs, holdout, "doc_id", "text",
      k = 3, numPerm = 64, bands = 32, threshold = 0.4, checkpointDir = Some(dir)))
    assert(reliable == default)
    assert(default.nonEmpty, "fixture produced no flagged pairs — the equality is vacuous")
    assert(barrierDirs(dir).nonEmpty)
  }

  test("decontamination: reliable applyDecontamination matches default") {
    // same holdout construction as the decontaminate_exact query: a few docs
    // act as the benchmark, the rest are the training corpus
    val holdout = docs.filter("doc_id % 40 = 0")
    val train = docs.filter("doc_id % 40 <> 0")
    val dir = tempDir("graft-rel-decon")
    val default = rows(Dedup.applyDecontamination(
      train, holdout, "doc_id", "text", n = 13, minSpanTokens = 20).select("doc_id"))
    val reliable = rows(Dedup.applyDecontamination(
      train, holdout, "doc_id", "text", n = 13, minSpanTokens = 20,
      checkpointDir = Some(dir)).select("doc_id"))
    assert(reliable == default)
    assert(barrierDirs(dir).nonEmpty)
  }

  test("MinHash-LSH family (withShingleIndex bracket): reliable matches default") {
    val dir = tempDir("graft-rel-minhash")
    val default = rows(Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.5))
    val reliable = rows(Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.5, checkpointDir = Some(dir)))
    assert(reliable == default)
    assert(default.nonEmpty, "fixture produced no pairs — the equality is vacuous")
    assert(barrierDirs(dir).nonEmpty)
  }

  test("applyDedup end-to-end: reliable mode (incl. CC rounds) matches default") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.5)
    val dir = tempDir("graft-rel-apply")
    val default = rows(Dedup.applyDedup(docs, pairs, "doc_id").select("doc_id"))
    val reliable = rows(Dedup.applyDedup(docs, pairs, "doc_id",
      checkpointDir = Some(dir)).select("doc_id"))
    assert(reliable == default)
    assert(barrierDirs(dir).nonEmpty)
  }

  test("ConnectedComponents reliable mode deletes superseded rounds' files") {
    import spark.implicits._
    // a length-9 chain forces multiple pointer-jump rounds
    val pairs = (1L to 8L).map(i => (i, i + 1)).toDF("a", "b")
    val dir = tempDir("graft-rel-ccclean")
    val got = ConnectedComponents.components(pairs, "a", "b", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
    // still on disk: the edge snapshot + the final round's labels. Every
    // superseded round must be gone — a long fixpoint holds O(1) state.
    val left = barrierDirs(dir)
    assert(left.size <= 2,
      s"CC accumulated ${left.size} barrier dirs (${left.mkString(",")}) — " +
        "superseded rounds are not being deleted")
    assert(left.nonEmpty, "reliable mode wrote no barrier files at all")
  }

}
