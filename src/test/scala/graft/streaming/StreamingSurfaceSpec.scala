package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming surface beyond the KTable core (SURVEY.md §2.B streaming row):
  * watermarked tumbling windows with late-data drop, streaming dedup, and
  * sliding windows — driven deterministically through MemoryStream.
  */
class StreamingSurfaceSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked tumbling window aggregation drops late data (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("k"), col("n"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("wm"))
      .format("memory").queryName("windowed")
      .start()

    input.addData((ts(0), "a"), (ts(5), "a"), (ts(12), "a"))
    q.processAllAvailable()
    // advance watermark far past the first window so it finalizes...
    input.addData((ts(40), "a"))
    q.processAllAvailable()
    // ...then a late event for the closed 10:00 window must be dropped
    input.addData((ts(1), "a"))
    q.processAllAvailable()
    input.addData((ts(55), "a"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("windowed")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    assert(rows("2024-01-01 10:00:00.0") == 2L) // late (10:01,"a") NOT counted
    assert(rows("2024-01-01 10:10:00.0") == 1L)
  }

  test("streaming dropDuplicates within watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val dedup = input.toDF().toDF("ts", "id")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("dd"))
      .format("memory").queryName("deduped")
      .start()
    input.addData((ts(0), "x"), (ts(1), "x"), (ts(2), "y"))
    q.processAllAvailable()
    input.addData((ts(3), "x"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("deduped").collect().map(_.getString(1)).toSeq.sorted
    assert(ids == Seq("x", "y"))
  }

  test("stream-static join enriches the stream against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("AAPL", "NASDAQ"), ("BT.A", "LON")).toDF("ticker", "exchange")
    val input = MemoryStream[(Timestamp, String)]
    val joined = input.toDF().toDF("ts", "ticker").join(dim, "ticker")
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("ss"))
      .format("memory").queryName("enriched")
      .start()
    input.addData((ts(0), "AAPL"), (ts(1), "BT.A"), (ts(2), "UNKNOWN"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(("AAPL", "NASDAQ"), ("BT.A", "LON"))) // inner join drops UNKNOWN
  }

  test("stream-stream inner join with watermarks and a time-range condition") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val left = MemoryStream[(Timestamp, String)]
    val right = MemoryStream[(Timestamp, String)]
    val l = left.toDF().toDF("lts", "k").withWatermark("lts", "20 minutes")
    val r = right.toDF().toDF("rts", "k").withWatermark("rts", "20 minutes")
    val joined = l.join(r,
      l("k") === r("k") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("ssj"))
      .format("memory").queryName("ssjoin")
      .start()
    left.addData((ts(0), "a"), (ts(0), "b"))
    right.addData((ts(5), "a"), (ts(30), "b")) // b outside the 10-min range
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin").collect().map(_.getString(1)).toSeq
    assert(got == Seq("a"))
  }

  test("console sink: update-mode debug print (reference op #6, KTable.print)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val q = input.toDF().toDF("ts", "k")
      .groupBy("k").count()
      .writeStream.outputMode("update").format("console")
      .option("checkpointLocation", tempDir("console"))
      .start()
    input.addData((ts(0), "a"), (ts(1), "a"))
    q.processAllAvailable()
    assert(q.lastProgress.numInputRows == 2)
    q.stop()
  }

  test("sliding windows assign events to every overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", tempDir("sw"))
      .format("memory").queryName("sliding")
      .start()
    input.addData((ts(7), "a"))
    q.processAllAvailable()
    q.stop()
    val windows = spark.table("sliding").collect().map(_.getTimestamp(0).toString).sorted
    assert(windows.toSeq == Seq("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
  }
}
