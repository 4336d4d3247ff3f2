package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class DocumentIngestSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 09:$minute%02d:00")

  test("streaming ingest: exact dedup + quality gate on a document stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = DocumentIngest.pipeline(
      input.toDF().toDF("doc_id", "text", "ts"), minTokens = 3, maxStopRatio = 0.5)
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("ingest"))
      .format("memory").queryName("ingested")
      .start()

    input.addData(
      (1L, "fast column scan with vector units", ts(0)),
      (2L, "fast column scan with vector units", ts(1)), // exact duplicate
      (3L, "too short", ts(2)),                          // < 3 tokens
      (4L, "the a of to in is", ts(3)),                  // all stopwords
      (5L, "hash join probe side build", ts(4)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ingested").collect()
      .map(r => r.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 5L)) // dup, short, and stopword-heavy docs dropped

    val row = spark.table("ingested").filter($"doc_id" === 1L).head()
    assert(row.getInt(4) == 6)          // n_tokens
    assert(row.getDouble(5) == 1.0 / 6) // "with" is the only en stopword
  }

  test("ingest dedup state survives a restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val checkpoint = tempDir("ingest-restart")
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Unit]

    def start(input: MemoryStream[(Long, String, Timestamp)]) =
      DocumentIngest.pipeline(input.toDF().toDF("doc_id", "text", "ts"), minTokens = 1)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.put(r.getLong(0), ()))
        }
        .start()

    val in1 = MemoryStream[(Long, String, Timestamp)]
    val q1 = start(in1)
    in1.addData((1L, "unique document text alpha", ts(0)))
    q1.processAllAvailable()
    q1.stop()
    assert(seen.keySet == Set(1L))

    // new query, same checkpoint: the duplicate must STILL be dropped,
    // which requires the dedup state store to have been restored
    val in2 = MemoryStream[(Long, String, Timestamp)]
    val q2 = start(in2)
    in2.addData((1L, "unique document text alpha", ts(0))) // committed batch replay
    in2.addData((2L, "unique document text alpha", ts(5)), (3L, "a different doc", ts(6)))
    q2.processAllAvailable()
    q2.stop()
    assert(seen.keySet == Set(1L, 3L),
      s"restored state must reject the duplicate, got ${seen.keySet}")
  }

  test("streaming chunk stage == batch chunkDocuments on the surviving docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // fixture: one long doc (multiple chunks), one exactly-chunk-sized doc,
    // one duplicate and one sub-minTokens doc the gate must drop first
    val longText = (1 to 23).map(i => s"tok$i").mkString(" ")
    val fixture = Seq(
      (1L, longText, ts(0)),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", ts(1)),
      (3L, longText, ts(2)), // exact duplicate of doc 1 -> dropped pre-chunk
      (4L, "too short", ts(3)))

    val input = MemoryStream[(Long, String, Timestamp)]
    val out = DocumentIngest.chunked(input.toDF().toDF("doc_id", "text", "ts"),
      minTokens = 3, chunkSize = 8, overlap = 3)
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("ingest-chunk"))
      .format("memory").queryName("chunked")
      .start()
    input.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("chunked")
    assert(streamed.columns.toSeq ==
      Seq("doc_id", "ts", "content_hash", "chunk_idx", "n_tokens", "chunk_text"))

    // batch reference: the same gate decisions (docs 1 and 2 survive), then
    // the batch chunk operator — identical chunk geometry and text required
    val batchChunks = graft.operators.TextAnalysis.chunkDocuments(
        Seq((1L, longText), (2L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text"), chunkSize = 8, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val streamChunks = streamed.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4), r.getString(5))).toSet
    assert(streamChunks == batchChunks,
      s"streaming chunks diverge from batch: ${streamChunks.diff(batchChunks)} / ${batchChunks.diff(streamChunks)}")
    // 23 tokens at size 8 / stride 5 -> 4 chunks; 8 tokens -> exactly 1
    assert(batchChunks.count(_._1 == 1L) == 4 && batchChunks.count(_._1 == 2L) == 1)

    // the carried ingest signals are per-doc constants on every chunk row
    val sig = streamed.select("doc_id", "ts", "content_hash").distinct().collect()
      .map(r => r.getLong(0) -> ((r.getTimestamp(1), r.getLong(2)))).toMap
    assert(sig.keySet == Set(1L, 2L) && sig(1L)._1 == ts(0) && sig(2L)._1 == ts(1))
  }
}
