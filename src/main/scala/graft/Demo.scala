package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.KafkaChangelog
import graft.streaming.{KTableProcessor, ParquetServing}

/** End-to-end demo of the reference application loop (README.md:20-26 of the
  * reference): produce upserts/tombstones, watch the continuously-maintained
  * `us_share_holders` view change, query it interactively.
  *
  * Mirrors the REPL session at fake_producer.clj:48-54 — in production the
  * MemoryStream is replaced by `KafkaChangelog.readStream(spark, brokers,
  * "share-holders")` and ParquetServing's foreachBatch sink by a Delta/JDBC upsert.
  *
  * Run: sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("graft-demo")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[graft.streaming.KTableStream.ShareUpdate]
    val views = KTableProcessor.usShareHolders(spark, input.toDS())
    // distributed parquet-backed serving store (executor-side writes)
    val serving = new ParquetServing(Files.createTempDirectory("demo-store").toString)
    val q = views.writeStream
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("demo").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.KTableStream.ClientView], id: Long) =>
        serving.upsertBatch(b, id)
      }
      .start()

    def step(label: String, updates: graft.streaming.KTableStream.ShareUpdate*): Unit = {
      input.addData(updates)
      q.processAllAvailable()
      println(s"== $label")
      serving.snapshot(spark).show(false)
    }

    // the reference's manual scenario: add AAPL@NASDAQ, add BT.A@LON
    // (filtered), delete AAPL (amount=0 tombstone => view row disappears)
    step("daniel buys 99 AAPL (NASDAQ)", KafkaChangelog.update("daniel", "AAPL", "NASDAQ", 99, 0))
    step("daniel buys 1 BT.A (LON) — filtered from the NASDAQ view",
      KafkaChangelog.update("daniel", "BT.A", "LON", 1, 1))
    step("kima buys 45 MSFT (NASDAQ)", KafkaChangelog.update("kima", "MSFT", "NASDAQ", 45, 2))
    step("daniel sells all AAPL (tombstone) — row deleted",
      KafkaChangelog.update("daniel", "AAPL", "NASDAQ", 0, 3))

    // the reference's HTTP surface (fake_producer.clj:38-46): POST /set-shares
    // and GET /local-state against the same pipeline
    val seq = new java.util.concurrent.atomic.AtomicLong(4)
    val facade = new graft.streaming.HttpFacade(
      produce = (c, t, e, a) => {
        input.addData(KafkaChangelog.update(c, t, e, a, seq.getAndIncrement()))
        q.processAllAvailable()
      },
      state = () => serving.asMap)
    facade.start()
    val port = facade.boundPort
    // drive the reference curl scenario against the live endpoints so the
    // demo actually demonstrates them before shutting down
    val http = java.net.http.HttpClient.newHttpClient()
    def curl(req: java.net.http.HttpRequest): String =
      http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    println("== POST /set-shares client=arya ticker=NVDA exchange=NASDAQ amount=3 -> " +
      curl(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:$port/set-shares"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "client=arya&ticker=NVDA&exchange=NASDAQ&amount=3")).build()))
    println("== GET /local-state -> " +
      curl(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:$port/local-state")).build()))

    facade.stop()
    q.stop()
    spark.stop()
  }
}
