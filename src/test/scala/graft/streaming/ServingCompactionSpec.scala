package graft.streaming

import graft.SparkSpec
import KTableStream.ClientView

/** ParquetServing compaction: folding old batch partitions must not change
  * read results, must keep tombstones effective, and must preserve the
  * replay-overwrites-its-own-partition idempotency for the one batch a
  * restart can legally replay (the max).
  */
class ServingCompactionSpec extends SparkSpec {

  private def views(rows: (String, Seq[String], Boolean)*) = {
    import spark.implicits._
    rows.map { case (c, ids, d) => ClientView(c, ids, d) }.toDS()
  }

  /** The view as the parquet store holds it: `asMap` no longer reads it. */
  private def stored(serving: ParquetServing): Map[String, Seq[String]] =
    serving.snapshot(spark).collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap

  private def partitions(dir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(path).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
      .sorted
  }

  test("compact folds history, keeps tombstones, survives replay of the max batch") {
    val dir = tempDir("serving-compact")
    val serving = new ParquetServing(dir, viewName = "compact_spec_view")

    serving.upsertBatch(views(
      ("alice", Seq("alice:::AAPL"), false),
      ("bob", Seq("bob:::MSFT"), false)), 0L)
    serving.upsertBatch(views(("alice", Seq.empty, true)), 1L) // tombstone
    serving.upsertBatch(views(("carol", Seq("carol:::NVDA"), false)), 2L)
    val lastBatch = views(("bob", Seq("bob:::MSFT", "bob:::AMZN"), false))
    serving.upsertBatch(lastBatch, 3L)

    val before = serving.asMap
    assert(before == Map(
      "bob" -> Seq("bob:::MSFT", "bob:::AMZN"), "carol" -> Seq("carol:::NVDA")))
    assert(stored(serving) == before)
    assert(partitions(dir) == Seq(0L, 1L, 2L, 3L))

    serving.compact(spark)
    // batches 0..2 folded into base partition 2; max batch 3 untouched
    assert(partitions(dir) == Seq(2L, 3L))
    assert(serving.asMap == before, "compaction must not change read results")
    assert(stored(serving) == before, "compaction must not change the stored view")
    // the tombstone survives INSIDE the base (not just by absence)
    val base = spark.read.parquet(dir).where("batch_id = 2")
    assert(base.where("client = 'alice' AND deleted").count() == 1)

    // restart replay: the max batch re-runs foreachBatch with the same id
    serving.upsertBatch(lastBatch, 3L)
    assert(serving.asMap == before, "replayed max batch must stay idempotent")
    assert(stored(serving) == before, "replayed max batch must stay idempotent in the store")

    // compaction is re-runnable and converges (crash-between-steps recovery)
    serving.compact(spark)
    assert(partitions(dir) == Seq(2L, 3L) && serving.asMap == before)
    assert(stored(serving) == before)

    // life goes on: a later batch deletes and re-adds
    serving.upsertBatch(views(("alice", Seq("alice:::TSLA"), false)), 4L)
    assert(serving.asMap == before + ("alice" -> Seq("alice:::TSLA")))
    assert(stored(serving) == serving.asMap)
  }

  test("auto-compaction keeps the partition count bounded under a stream") {
    val dir = tempDir("serving-autocompact")
    val serving = new ParquetServing(dir, viewName = "autocompact_view", compactEvery = 2)
    (0L to 6L).foreach { i =>
      serving.upsertBatch(views((s"c$i", Seq(s"c$i:::T"), false)), i)
    }
    // folds ran at batches 2/4/6; partitions stay at (base, max) + at most
    // compactEvery recent ones instead of 7
    assert(partitions(dir).size <= 3, s"got ${partitions(dir)}")
    assert(serving.asMap == (0L to 6L).map(i => s"c$i" -> Seq(s"c$i:::T")).toMap)
    assert(stored(serving) == serving.asMap)
  }

  test("compact is a no-op below three batch partitions") {
    val dir = tempDir("serving-compact2")
    val serving = new ParquetServing(dir, viewName = "compact_spec_view2")
    serving.compact(spark) // empty store: no crash
    serving.upsertBatch(views(("a", Seq("a:::T"), false)), 0L)
    serving.upsertBatch(views(("b", Seq("b:::T"), false)), 1L)
    serving.compact(spark)
    assert(partitions(dir) == Seq(0L, 1L), "nothing worth folding below the max")
    assert(serving.asMap == Map("a" -> Seq("a:::T"), "b" -> Seq("b:::T")))
    assert(stored(serving) == serving.asMap)
  }
}
