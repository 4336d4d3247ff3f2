package graft.sources

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.KTableStream.ShareUpdate

class KafkaChangelogSpec extends SparkSpec {

  /** Static frame shaped like Kafka's (key/value binary, offset). */
  private def kafkaFrame(rows: Seq[(String, Option[String], Long)]) = {
    val schema = StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType, nullable = true),
      StructField("offset", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v, o) =>
        Row(Option(k).map(_.getBytes("UTF-8")).orNull, v.map(_.getBytes("UTF-8")).orNull, o)
      }),
      schema)
  }

  private def valueJson(client: String, ticker: String, exchange: String, amount: Int): String =
    s"""{"client":"$client","id":"$client:::$ticker","ticker":"$ticker","exchange":"$exchange","amount":$amount}"""

  test("parse: upsert json and null-value tombstone") {
    val frame = kafkaFrame(Seq(
      ("daniel:::AAPL",
        Some("""{"client":"daniel","id":"daniel:::AAPL","ticker":"AAPL","exchange":"NASDAQ","amount":99}"""),
        0L),
      ("daniel:::AAPL", None, 1L)))
    val got = KafkaChangelog.parse(spark, frame).collect().sortBy(_.seq)
    assert(got(0) == ShareUpdate("daniel:::AAPL",
      Some(graft.streaming.KTableStream.Position("daniel", "daniel:::AAPL", "AAPL", "NASDAQ", 99)), 0L))
    assert(got(1) == ShareUpdate("daniel:::AAPL", None, 1L))
  }

  test("parse: malformed frames and null keys go to the rejected output") {
    val good = valueJson("daniel", "AAPL", "NASDAQ", 99)
    val bad = Seq(
      "not json at all",
      good.take(40), // truncated
      """{"client":"daniel","id":"daniel:::MSFT","ticker":"MSFT","exchange":"NASDAQ"}""",
      """{"client":"daniel","id":"daniel:::MSFT","ticker":"MSFT","exchange":"NASDAQ","amount":"x"}""",
      """{"client":"daniel","id":"daniel:::MSFT","ticker":"MSFT","exchange":"NASDAQ","amount":1.5}""")
    val frame = kafkaFrame(
      Seq(("daniel:::AAPL", Some(good), 0L)) ++
        bad.zipWithIndex.map { case (v, i) => ("daniel:::MSFT", Some(v), 1L + i) } ++
        Seq((null, Some(good), 6L), (null, None, 7L), ("daniel:::AAPL", None, 8L)))

    // good rows keep their meaning; a null value stays a tombstone
    val got = KafkaChangelog.parse(spark, frame).collect().sortBy(_.seq).toSeq
    assert(got == Seq(
      ShareUpdate("daniel:::AAPL",
        Some(graft.streaming.KTableStream.Position("daniel", "daniel:::AAPL", "AAPL", "NASDAQ", 99)), 0L),
      ShareUpdate("daniel:::AAPL", None, 8L)))

    val rejected = KafkaChangelog.rejected(spark, frame).collect()
      .map(r => r.getLong(2) -> (Option(r.getString(0)), Option(r.getString(1)), r.getString(3)))
      .toMap
    assert(rejected == bad.zipWithIndex.map { case (v, i) =>
        (1L + i) -> ((Some("daniel:::MSFT"), Some(v), "malformed value"))
      }.toMap ++ Map(
        6L -> ((None, Some(good), "null key")),
        7L -> ((None, None, "null key"))))
  }

  test("a malformed frame between good ones does not stop the stream") {
    import graft.streaming.{KTableStream, ParquetServing}
    import KafkaChangelogSpec.Frame
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def frame(key: String, value: Option[String], offset: Long) =
      Frame(Option(key).map(_.getBytes("UTF-8")).orNull, value.map(_.getBytes("UTF-8")).orNull, offset)
    val batches = Seq(
      Seq(frame("daniel:::AAPL", Some(valueJson("daniel", "AAPL", "NASDAQ", 99)), 0L),
        frame("daniel:::MSFT", Some("""{"client":"daniel","id":"daniel:::MSFT""""), 1L),
        frame("kima:::MSFT", Some(valueJson("kima", "MSFT", "NASDAQ", 45)), 2L)),
      Seq(frame(null, Some(valueJson("kima", "GOOG", "NASDAQ", 3)), 3L),
        frame("daniel:::GOOG", Some(valueJson("daniel", "GOOG", "NASDAQ", 5)), 4L),
        frame("kima:::MSFT", Some("garbage"), 5L),
        frame("daniel:::AAPL", None, 6L)))
    def view(name: String, batches: Seq[Seq[Frame]]): Map[String, Seq[String]] = {
      val input = MemoryStream[Frame]
      val serving = new ParquetServing(tempDir(s"$name-store"), viewName = name)
      val q = KTableStream.usShareHolders(spark, KafkaChangelog.parse(spark, input.toDF()))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", tempDir(s"$name-ckpt"))
        .foreachBatch { (b: Dataset[KTableStream.ClientView], id: Long) => serving.upsertBatch(b, id) }
        .start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      serving.asMap
    }
    val withBad = view("bad_frames_view", batches)
    val badOffsets = Set(1L, 3L, 5L)
    val goodOnly = view("good_frames_view", batches.map(_.filterNot(f => badOffsets(f.offset))))
    assert(withBad == Map("daniel" -> Seq("daniel:::GOOG"), "kima" -> Seq("kima:::MSFT")))
    assert(withBad == goodOnly)
  }

  test("producer helper: amount=0 encodes a tombstone (fake_producer.clj:26-29)") {
    assert(KafkaChangelog.update("c", "T", "NASDAQ", 0, 5L).value.isEmpty)
    assert(KafkaChangelog.update("c", "T", "NASDAQ", 7, 6L).value.exists(_.amount == 7))
  }

  test("encode: upserts roundtrip through parse; tombstones are genuine nulls") {
    import spark.implicits._
    val updates = Seq(
      KafkaChangelog.update("daniel", "AAPL", "NASDAQ", 99, 0L),
      KafkaChangelog.update("daniel", "AAPL", "NASDAQ", 0, 1L)).toDS()
    val frame = KafkaChangelog.encode(updates).collect()
    val byKeyNull = frame.map(r => r.isNullAt(1))
    assert(byKeyNull.count(_ == false) == 1 && byKeyNull.count(_ == true) == 1,
      "one JSON upsert, one genuine null tombstone")

    // produced bytes parse back to the original typed changelog
    val reframed = KafkaChangelog.encode(updates)
      .withColumn("key", $"key".cast("binary"))
      .withColumn("value", $"value".cast("binary"))
      .withColumn("offset", monotonically_increasing_id())
    val roundtrip = KafkaChangelog.parse(spark, reframed)
      .collect().map(u => (u.key, u.value.map(_.amount))).toSet
    assert(roundtrip == Set(("daniel:::AAPL", Some(99)), ("daniel:::AAPL", None)))
  }

  /** No broker exists in this container, so this e2e drives the EXACT chain
    * the Kafka path uses — raw binary key/value/offset frames -> `parse` ->
    * stateful KTable -> distributed serving store — through a file-backed
    * streaming source instead of `format("kafka")`. Only the source format
    * differs from production; every transformation downstream of `load()` is
    * the production code path. (Broker endpoints themselves remain
    * integration-untested here; documented in README.)
    */
  test("file-backed changelog streaming e2e: parse -> KTable -> serving") {
    import graft.streaming.{KTableStream, ParquetServing}

    val srcDir = tempDir("changelog-src")
    val schema = StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType, nullable = true),
      StructField("offset", LongType)))

    def writeBatchFile(rows: Seq[(String, Option[String], Long)]): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (k, v, o) =>
          Row(k.getBytes("UTF-8"), v.map(_.getBytes("UTF-8")).orNull, o)
        }), schema)
        .write.mode("append").parquet(srcDir)

    // the reference REPL scenario (fake_producer.clj:50-52) + a second client
    writeBatchFile(Seq(
      ("daniel:::AAPL", Some(valueJson("daniel", "AAPL", "NASDAQ", 99)), 0L),
      ("daniel:::BT.A", Some(valueJson("daniel", "BT.A", "LON", 1)), 1L),
      ("kima:::MSFT", Some(valueJson("kima", "MSFT", "NASDAQ", 45)), 2L),
      ("daniel:::AAPL", None, 3L))) // tombstone: daniel's NASDAQ set empties

    // each run drains the source dir once into a fresh store
    def serve(name: String): ParquetServing = {
      val serving = new ParquetServing(tempDir(s"$name-store"), viewName = s"us_share_holders_$name")
      val rawStream = spark.readStream.schema(schema).parquet(srcDir)
      val updates = KafkaChangelog.parse(spark, rawStream) // the production parse
      KTableStream.usShareHolders(spark, updates)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", tempDir(s"$name-ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[KTableStream.ClientView], id: Long) => serving.upsertBatch(b, id) }
        .start()
        .awaitTermination()
      serving
    }

    val serving = serve("file_e2e")
    assert(serving.asMap == Map("kima" -> Seq("kima:::MSFT")))

    // a second changelog file lands later: a fresh run over the same source
    // dir replays the full (now longer) changelog into a fresh store
    writeBatchFile(Seq(
      ("daniel:::AAPL", Some(valueJson("daniel", "AAPL", "NASDAQ", 7)), 4L)))
    val serving2 = serve("file_e2e2")
    assert(serving2.asMap == Map(
      "daniel" -> Seq("daniel:::AAPL"), "kima" -> Seq("kima:::MSFT")))
  }
}

object KafkaChangelogSpec {
  /** A raw Kafka frame, as a MemoryStream row. */
  final case class Frame(key: Array[Byte], value: Array[Byte], offset: Long)
}
