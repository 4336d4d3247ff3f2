package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkSpec
import graft.operators.ShareHolders
import KTableStream.{ClientView, Position, ShareUpdate}

class KTableStreamSpec extends SparkSpec {

  private def upsert(seq: Long, client: String, ticker: String, exchange: String,
                     amount: Int = 1): ShareUpdate = {
    val key = s"$client:::$ticker"
    ShareUpdate(key, Some(Position(client, key, ticker, exchange, amount)), seq)
  }
  private def tombstone(seq: Long, client: String, ticker: String): ShareUpdate =
    ShareUpdate(s"$client:::$ticker", None, seq)

  /** Drive a changelog through the KTable pipeline step by step; returns the
    * serving view after each step and the query's last progress event. The
    * first `committed` steps are already committed in `checkpoint`: they are
    * in the source before the query starts, so it resumes after them.
    */
  private def runWithProgress(steps: Seq[Seq[ShareUpdate]],
                              serving: ParquetServing = new ParquetServing(tempDir("serving")),
                              checkpoint: String = tempDir("ktable"),
                              committed: Int = 0)
      : (Seq[Map[String, Seq[String]]], StreamingQueryProgress) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ShareUpdate]
    steps.take(committed).foreach(input.addData(_))
    val views = KTableStream.usShareHolders(spark, input.toDS())
    val q = views.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[ClientView], id: Long) =>
        serving.upsertBatch(b, id)
      }
      .start()
    val out = steps.drop(committed).map { batch =>
      input.addData(batch)
      q.processAllAvailable()
      assertReadsAgree(serving)
      serving.asMap
    }
    q.stop()
    (out, q.lastProgress)
  }

  private def collected(df: DataFrame): Map[String, Seq[String]] =
    df.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap

  /** The served map, the registered view and the durable store agree. */
  private def assertReadsAgree(serving: ParquetServing): Unit = {
    val store = collected(serving.snapshot(spark))
    assert(serving.asMap == store, "served map != parquet store")
    assert(collected(spark.table(serving.viewName)) == store, "registered view != parquet store")
  }

  private def run(steps: Seq[Seq[ShareUpdate]],
                  serving: ParquetServing = new ParquetServing(tempDir("serving")),
                  checkpoint: String = tempDir("ktable"),
                  committed: Int = 0): Seq[Map[String, Seq[String]]] =
    runWithProgress(steps, serving, checkpoint, committed)._1

  test("canonical smoke scenario (FIXTURES.md A / fake_producer.clj:50-52)") {
    val states = run(Seq(
      Seq(upsert(0, "daniel", "AAPL", "NASDAQ", 99)),
      Seq(upsert(1, "daniel", "BT.A", "LON")),
      Seq(tombstone(2, "daniel", "AAPL"))))
    assert(states(0) == Map("daniel" -> Seq("daniel:::AAPL")))
    assert(states(1) == Map("daniel" -> Seq("daniel:::AAPL"))) // LON filtered
    assert(states(2) == Map.empty) // set emptied => row deleted (kafka_streams.clj:77-79)
  }

  test("filter retraction on exchange flip (kafka_streams.clj:65-67)") {
    val states = run(Seq(
      Seq(upsert(0, "c1", "AAPL", "NASDAQ"), upsert(1, "c1", "MSFT", "NASDAQ")),
      Seq(upsert(2, "c1", "AAPL", "LON")), // NASDAQ -> LON retracts the id
      Seq(upsert(3, "c1", "AAPL", "NASDAQ")))) // and back
    assert(states(0) == Map("c1" -> Seq("c1:::AAPL", "c1:::MSFT")))
    assert(states(1) == Map("c1" -> Seq("c1:::MSFT")))
    assert(states(2) == Map("c1" -> Seq("c1:::AAPL", "c1:::MSFT")))
  }

  test("re-insert after tombstone; multiple clients isolated") {
    val states = run(Seq(
      Seq(upsert(0, "a", "T1", "NASDAQ"), upsert(1, "b", "T1", "NASDAQ")),
      Seq(tombstone(2, "a", "T1")),
      Seq(upsert(3, "a", "T1", "NASDAQ"))))
    assert(states(1) == Map("b" -> Seq("b:::T1")))
    assert(states(2) == Map("a" -> Seq("a:::T1"), "b" -> Seq("b:::T1")))
  }

  test("same-key rapid updates within one batch: last write wins") {
    val states = run(Seq(Seq(
      upsert(0, "c", "X", "NASDAQ"),
      upsert(1, "c", "X", "LON"),
      upsert(2, "c", "Y", "NASDAQ"),
      tombstone(3, "c", "Y"),
      upsert(4, "c", "Y", "NASDAQ"))))
    assert(states(0) == Map("c" -> Seq("c:::Y")))
  }

  test("state holds exactly the served view rows") {
    // b never holds a NASDAQ position; c's NASDAQ set empties while it still
    // holds a LON position; a keeps one of its two NASDAQ positions
    val (states, progress) = runWithProgress(Seq(
      Seq(upsert(0, "a", "AAPL", "NASDAQ"), upsert(1, "a", "MSFT", "NASDAQ"),
        upsert(2, "b", "BT.A", "LON"), upsert(3, "b", "IBM", "NYSE"),
        upsert(4, "c", "AAPL", "NASDAQ"), upsert(5, "c", "VOD", "LON")),
      Seq(tombstone(6, "c", "AAPL"), upsert(7, "a", "AAPL", "LON"))))
    assert(states.last == Map("a" -> Seq("a:::MSFT")))
    val op = progress.stateOperators.head
    assert(op.numRowsTotal == states.last.size,
      s"state rows ${op.numRowsTotal} != served view rows ${states.last.size}")
  }

  test("restart from checkpoint equals uninterrupted run") {
    // the tombstone for c:::T1 only produces the correct retraction if c's
    // NASDAQ set was restored from the checkpointed state store
    val all = Seq(
      Seq(upsert(0, "c", "T1", "NASDAQ"), upsert(1, "c", "T2", "NASDAQ"),
        upsert(2, "b", "T9", "LON")),
      Seq(tombstone(3, "c", "T1"), upsert(4, "b", "T9", "NASDAQ")),
      Seq(upsert(5, "a", "T3", "NASDAQ")))

    val uninterrupted = run(all).last
    assert(uninterrupted == Map(
      "a" -> Seq("a:::T3"), "b" -> Seq("b:::T9"), "c" -> Seq("c:::T2")))

    // interrupted: batch 1 with one query; then a NEW query over the same
    // checkpoint + serving store (persistent-sink analog). The source replays
    // the full changelog — the checkpoint skips already-committed batches, so
    // batches 2-3 run against the RESTORED state, not a rebuilt one.
    val checkpoint = tempDir("ktable-restart")
    val serving = new ParquetServing(tempDir("serving-restart"))
    run(Seq(all.head), serving, checkpoint)
    val resumed = run(all, serving, checkpoint).last
    assert(resumed == uninterrupted)
  }

  test("serving view is queryable through spark.table / SQL (M4 gate)") {
    run(Seq(
      Seq(upsert(0, "daniel", "AAPL", "NASDAQ", 99), upsert(1, "kima", "MSFT", "NASDAQ"))))
    val viaSql = spark.sql(
      "SELECT client, nasdaq_position_ids FROM us_share_holders ORDER BY client")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaSql == Map(
      "daniel" -> Seq("daniel:::AAPL"), "kima" -> Seq("kima:::MSFT")))
  }

  test("distributed parquet serving sink: M4 gate (canonical scenario via spark.table)") {
    val store = tempDir("serving-store")
    val serving = new ParquetServing(store, viewName = "us_share_holders_pq")
    val states = run(Seq(
      Seq(upsert(0, "daniel", "AAPL", "NASDAQ", 99)),
      Seq(upsert(1, "daniel", "BT.A", "LON")),
      Seq(tombstone(2, "daniel", "AAPL"), upsert(3, "kima", "MSFT", "NASDAQ"))),
      serving)
    assert(states(0) == Map("daniel" -> Seq("daniel:::AAPL")))
    assert(states(1) == Map("daniel" -> Seq("daniel:::AAPL"))) // LON filtered
    assert(states(2) == Map("kima" -> Seq("kima:::MSFT"))) // daniel's set emptied => deleted
    // interactive query through SQL over the registered view
    val viaSql = spark.sql(
      "SELECT client, nasdaq_position_ids FROM us_share_holders_pq ORDER BY client")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaSql == Map("kima" -> Seq("kima:::MSFT")))
  }

  test("distributed parquet serving sink: restart replay is idempotent") {
    val store = tempDir("serving-store-restart")
    val checkpoint = tempDir("ktable-pq-restart")
    val all = Seq(
      Seq(upsert(0, "c", "T1", "NASDAQ"), upsert(1, "c", "T2", "NASDAQ"),
        upsert(2, "b", "T9", "LON")),
      Seq(tombstone(3, "c", "T1"), upsert(4, "b", "T9", "NASDAQ")),
      Seq(upsert(5, "a", "T3", "NASDAQ")))
    run(Seq(all.head), new ParquetServing(store), checkpoint)
    // a new query over the same checkpoint + store: the source replays the
    // full changelog; committed batches re-run through foreachBatch, and the
    // dynamic partition overwrite folds the replay onto its own batch
    // partition instead of duplicating rows
    val resumed = run(all, new ParquetServing(store), checkpoint).last
    assert(resumed == Map(
      "a" -> Seq("a:::T3"), "b" -> Seq("b:::T9"), "c" -> Seq("c:::T2")))
  }

  test("distributed serving snapshot plan has no driver-side materialization") {
    val store = tempDir("serving-store-plan")
    val serving = new ParquetServing(store)
    run(Seq(Seq(upsert(0, "a", "T1", "NASDAQ"))), serving)
    // read path = scan + partial/final agg (latest-per-key) + filter; the
    // write path appended executor-side. Nothing collects: the snapshot is a
    // plain distributed plan over the parquet changelog.
    val plan = serving.snapshot(spark).queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"))
  }

  test("a lookup and asMap on the served view start no Spark job") {
    val serving = new ParquetServing(tempDir("serving-jobs"), viewName = "us_share_holders_jobs")
    val states = run(Seq(
      Seq(upsert(0, "a", "T1", "NASDAQ"), upsert(1, "b", "T2", "NASDAQ")),
      Seq(upsert(2, "a", "T3", "NASDAQ"), tombstone(3, "b", "T2"))), serving)
    val (rows, lookupJobs) = SparkSpec.jobsStartedBy(spark) {
      spark.table(serving.viewName).filter(col("client") === "a")
        .collect().map(_.getSeq[String](1)).toSeq
    }
    assert(rows == Seq(Seq("a:::T1", "a:::T3")))
    assert(lookupJobs == 0, s"a one-client lookup started $lookupJobs jobs")
    val (view, mapJobs) = SparkSpec.jobsStartedBy(spark)(serving.asMap)
    assert(view == states.last && view == Map("a" -> Seq("a:::T1", "a:::T3")))
    assert(mapJobs == 0, s"asMap started $mapJobs jobs")
    // the counter does see a read of the parquet store
    assert(SparkSpec.jobsStartedBy(spark)(serving.snapshot(spark).collect())._2 > 0)
  }

  test("a fresh instance that replays the max batch converges to the uninterrupted one") {
    val store = tempDir("serving-replay")
    val checkpoint = tempDir("ktable-replay")
    val steps = Seq(
      Seq(upsert(0, "a", "T1", "NASDAQ"), upsert(1, "b", "T2", "NASDAQ")),
      Seq(tombstone(2, "a", "T1"), upsert(3, "c", "T3", "NASDAQ")),
      Seq(upsert(4, "b", "T2", "LON"), upsert(5, "c", "T4", "NASDAQ"),
        upsert(6, "d", "T5", "NASDAQ")))
    val uninterrupted = new ParquetServing(store)
    run(steps, uninterrupted, checkpoint)
    // un-commit the max batch: the restarted query runs it again, as after a
    // crash between its foreachBatch and its commit
    val maxBatch = steps.size - 1L
    Seq(s"commits/$maxBatch", s"commits/.$maxBatch.crc")
      .foreach(f => Files.deleteIfExists(Paths.get(checkpoint, f)))

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ShareUpdate]
    steps.foreach(input.addData(_)) // one offset per step, as in the first run
    val fresh = new ParquetServing(store)
    val applied = new ConcurrentLinkedQueue[Long]()
    val q = KTableStream.usShareHolders(spark, input.toDS()).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[ClientView], id: Long) =>
        applied.add(id)
        fresh.upsertBatch(b, id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(applied.asScala.toSeq == Seq(maxBatch), "only the max batch is replayed")
    assert(fresh.asMap == uninterrupted.asMap)
    assert(collected(fresh.snapshot(spark)) == collected(uninterrupted.snapshot(spark)))
    assert(fresh.asMap == Map("c" -> Seq("c:::T3", "c:::T4"), "d" -> Seq("d:::T5")))
    assertReadsAgree(fresh)
  }

  test("throughput sanity: sustains the self-imposed upsert rate (BASELINE.md)") {
    val clients = (1 to 200).map(i => s"c$i")
    val tickers = (1 to 20).map(i => s"T$i")
    val rnd = new scala.util.Random(7)
    val n = 60000
    val updates = (0 until n).map { seq =>
      val c = clients(rnd.nextInt(clients.size))
      val t = tickers(rnd.nextInt(tickers.size))
      if (rnd.nextInt(10) == 0) tombstone(seq, c, t)
      else upsert(seq, c, t, if (rnd.nextBoolean()) "NASDAQ" else "LON")
    }
    val t0 = System.nanoTime()
    run(Seq(updates)) // one big batch through the full stateful pipeline
    val rate = n / ((System.nanoTime() - t0) / 1e9)
    info(f"sustained $rate%.0f upserts/s (gate: >= 10000)")
    assert(rate >= 10000, f"rate $rate%.0f below 10k upserts/s")
  }

  test("property: streaming incremental state == batch recompute (KTable law)") {
    for (seed <- Seq(42, 7, 1234)) assertKTableLaw(seed)
  }

  /** The law at batch boundaries under the failures a changelog consumer
    * meets: random batch boundaries, one whole batch delivered twice in a
    * row, and one restart from the checkpoint at a random boundary. The view
    * at the restart and at the end equals the batch recompute over the
    * changelog consumed so far, without the duplicate. Same-key updates
    * inside one batch coalesce (SURVEY.md §7 risk 3), so states between
    * boundaries are never compared.
    */
  private def assertKTableLaw(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val clients = (1 to 8).map(i => s"client$i")
    val tickers = Seq("AAPL", "MSFT", "GOOG", "BT.A", "VOD")
    val exchanges = Seq("NASDAQ", "LON", "NYSE")
    val updates = (0 until 400).map { seq =>
      val c = clients(rnd.nextInt(clients.size))
      val t = tickers(rnd.nextInt(tickers.size))
      if (rnd.nextInt(5) == 0) tombstone(seq, c, t)
      else upsert(seq, c, t, exchanges(rnd.nextInt(exchanges.size)), rnd.nextInt(100) + 1)
    }
    val bounds = 0 +: rnd.shuffle((1 until updates.size).toList)
      .take(2 + rnd.nextInt(4)).sorted :+ updates.size
    val batches = bounds.zip(bounds.tail).map { case (from, until) => updates.slice(from, until) }
    val replayed = rnd.nextInt(batches.size)
    val steps = batches.patch(replayed + 1, Seq(batches(replayed)), 0)
    val restartAt = 1 + rnd.nextInt(steps.size - 1)
    val store = tempDir("serving-law")
    val checkpoint = tempDir("ktable-law")
    val atRestart = run(steps.take(restartAt), new ParquetServing(store), checkpoint).last
    assert(atRestart == recomputed(steps.take(restartAt).flatten.distinct),
      s"seed $seed: view at the restart after step $restartAt of ${steps.size}")
    // a new query over the same checkpoint and store resumes after the
    // committed steps
    val streamed = run(steps, new ParquetServing(store), checkpoint, committed = restartAt).last
    assert(streamed == recomputed(updates),
      s"seed $seed: final view (batch $replayed replayed, restart after step $restartAt)")
  }

  /** The batch operator over the same changelog (the M1 operator). */
  private def recomputed(updates: Seq[ShareUpdate]): Map[String, Seq[String]] = {
    import spark.implicits._
    val changelogDf = updates.map { u =>
      (u.seq, u.key, KTableStream.clientOf(u.key),
        u.key.split(":::", 2)(1),
        u.value.map(_.exchange).orNull,
        u.value.isEmpty)
    }.toDF("seq", "key", "client", "ticker", "exchange", "tombstone")
    ShareHolders.nasdaqPositionsByClient(changelogDf)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
  }
}
