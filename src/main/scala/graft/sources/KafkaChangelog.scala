package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.KTableStream.{Position, ShareUpdate}

/** Kafka wiring for the `share-holders` changelog — the production ingest
  * path (reference: compacted topic `share-holders`, docker-compose.yml:13;
  * producer fake_producer.clj:11-36).
  *
  * We standardize on JSON values (the reference's EDN encoding is incidental,
  * SURVEY.md §1.3); a Kafka record with a null value is a tombstone, exactly
  * as the reference produces for amount=0 (fake_producer.clj:26-29,
  * NotSerializeNil kafka_streams.clj:21-26).
  *
  * No broker exists in the test container, so [[parse]] and [[rejected]] —
  * everything between the raw Kafka frame and the typed changelog — are
  * factored out and unit tested on static frames; [[readStream]] and
  * [[writeBatch]] only add the format("kafka") endpoints.
  */
object KafkaChangelog {

  /** JSON value schema (fields per fake_producer.clj:30-36). */
  val valueSchema: StructType = StructType(Seq(
    StructField("client", StringType),
    StructField("id", StringType),
    StructField("ticker", StringType),
    StructField("exchange", StringType),
    StructField("amount", IntegerType)))

  /** Raw Kafka frame (key/value binary, offset long) -> typed changelog.
    * Null value => tombstone (`ShareUpdate.value = None`). Frames that
    * cannot enter the changelog are dropped here and surface in [[rejected]]
    * instead of failing the job: on a stream a restart replays the same
    * offset, so one bad frame would otherwise stop the query for good.
    */
  def parse(spark: SparkSession, kafkaFrame: DataFrame): Dataset[ShareUpdate] = {
    import spark.implicits._
    classified(kafkaFrame)
      .filter(col("reason").isNull)
      .select("key", "value", "seq")
      .as[ShareUpdate]
  }

  /** The frames [[parse]] drops, as (key, value, offset, reason) strings:
    * reason `null key` (no client to group by), or `malformed value` (a
    * non-null value that does not parse to all five [[valueSchema]] fields:
    * garbage, truncated JSON, a missing or non-integer `amount`, ...).
    */
  def rejected(spark: SparkSession, kafkaFrame: DataFrame): DataFrame =
    classified(kafkaFrame)
      .filter(col("reason").isNotNull)
      .select(col("key"), col("raw").as("value"), col("seq").as("offset"), col("reason"))

  private def classified(kafkaFrame: DataFrame): DataFrame = {
    // the one-element explode keeps the parse to one evaluation per frame: a
    // filter over a projected column is pushed below the projection with
    // from_json inlined into each null check, but never below a generator
    val parsed = kafkaFrame.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("raw"),
      explode(array(from_json(col("value").cast("string"), valueSchema))).as("value"),
      col("offset").as("seq"))
    val complete = valueSchema.fieldNames
      .map(f => col(s"value.$f").isNotNull)
      .foldLeft(col("value").isNotNull)(_ && _)
    parsed.withColumn("reason",
      when(col("key").isNull, lit("null key"))
        .when(col("raw").isNotNull && !complete, lit("malformed value")))
  }

  /** Streaming read of the compacted topic (op #1, kafka_streams.clj:64). */
  def readStream(spark: SparkSession, brokers: String, topic: String): Dataset[ShareUpdate] =
    parse(spark,
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** Typed changelog -> Kafka frame (key, value): upserts as JSON, `None`
    * values as genuine nulls (the tombstone encoding,
    * kafka_streams.clj:21-26). Factored from [[writeBatch]] so the
    * encoding — the only transformation on the producer path — is unit
    * testable without a broker.
    */
  def encode(updates: Dataset[ShareUpdate]): DataFrame =
    updates.select(
      col("key"),
      when(col("value").isNull, lit(null).cast("string"))
        .otherwise(to_json(col("value"))).as("value"))

  /** Batch produce of upserts/tombstones (op #7, fake_producer.clj:11-36):
    * rows with `value = None` are written as genuine null-value records.
    */
  def writeBatch(updates: Dataset[ShareUpdate], brokers: String, topic: String): Unit =
    encode(updates)
      .write
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .save()

  /** Positions helper for producers (key layout per fake_producer.clj:25). */
  def update(client: String, ticker: String, exchange: String, amount: Int, seq: Long): ShareUpdate = {
    val key = s"$client:::$ticker"
    if (amount == 0) ShareUpdate(key, None, seq) // amount=0 => tombstone
    else ShareUpdate(key, Some(Position(client, key, ticker, exchange, amount)), seq)
  }
}
