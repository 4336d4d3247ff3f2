package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.sources.KafkaChangelog

/** Drives the reference README's curl scenario (README.md:20-26) end-to-end
  * through the HTTP facade: POST /set-shares upserts flow through the
  * streaming KTable into the serving store; GET /local-state reads it back;
  * amount=0 removes the position.
  */
class HttpFacadeSpec extends SparkSpec {

  private val http = HttpClient.newHttpClient()

  private def post(port: Int, form: String): HttpResponse[String] =
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/set-shares"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int): String =
    http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/local-state")).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("reference curl scenario: set-shares upsert + tombstone via HTTP (README.md:20-26)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[KTableStream.ShareUpdate]
    val views = KTableStream.usShareHolders(spark, input.toDS())
    val serving = new ParquetServing(
      tempDir("http-store"), viewName = "us_share_holders_http")
    val q = views.writeStream
      .outputMode("update")
      .option("checkpointLocation", tempDir("http-ktable"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[KTableStream.ClientView], id: Long) =>
        serving.upsertBatch(b, id)
      }
      .start()

    val seq = new AtomicLong(0)
    val facade = new HttpFacade(
      produce = (client, ticker, exchange, amount) => {
        input.addData(KafkaChangelog.update(client, ticker, exchange, amount, seq.getAndIncrement()))
        q.processAllAvailable() // synchronous for test determinism
      },
      state = () => serving.asMap)
    facade.start()
    val port = facade.boundPort
    try {
      // state query BEFORE any ingest: empty view, not a crash (the parquet
      // store dir exists but holds no data yet)
      assert(get(port) == "[]")

      // curl --data "client=client1&exchange=NASDAQ&amount=1&ticker=AAPL" -X POST .../set-shares
      val r1 = post(port, "client=client1&exchange=NASDAQ&amount=1&ticker=AAPL")
      assert(r1.statusCode() == 200 && r1.body() == "\"done!\"")
      assert(get(port) == """[{"key":"client1","value":["client1:::AAPL"]}]""")

      // a LON position is filtered from the NASDAQ view
      post(port, "client=client1&exchange=LON&amount=5&ticker=BT.A")
      assert(get(port) == """[{"key":"client1","value":["client1:::AAPL"]}]""")

      // "To remove a position, just set the amount to 0"
      val r2 = post(port, "client=client1&exchange=NASDAQ&amount=0&ticker=AAPL")
      assert(r2.statusCode() == 200)
      assert(get(port) == "[]")

      // malformed request: 400, engine unaffected
      assert(post(port, "client=only").statusCode() == 400)
      assert(get(port) == "[]")

      // control characters in a key must be escaped into valid JSON
      post(port, "client=a%0Ab&exchange=NASDAQ&amount=1&ticker=T")
      val body = get(port)
      assert(body.contains("a\\nb") && !body.exists(c => c == '\n'))
    } finally {
      facade.stop()
      q.stop()
    }
  }

  test("GET /local-state escapes keys and ids byte for byte, sorted or not") {
    // quote, backslash, tab, U+0001 and non-ASCII (2-, 3- and 4-byte UTF-8)
    val view = Map(
      "q\"uote" -> Seq("q\"uote:::A\\B", "q\"uote:::\u0001"),
      "tab\there" -> Seq("tab\there:::T\r\n"),
      "ünï" -> Seq("ünï:::€", "ünï:::\uD83D\uDE00"),
      "a" -> Seq.empty)
    val expected =
      """[{"key":"a","value":[]},""" +
        """{"key":"q\"uote","value":["q\"uote:::A\\B","q\"uote:::""" + "\\u0001" + """"]},""" +
        """{"key":"tab\there","value":["tab\there:::T\r\n"]},""" +
        """{"key":"ünï","value":["ünï:::€","ünï:::😀"]}]"""
    for (state <- Seq(view, scala.collection.immutable.TreeMap.from(view))) {
      val facade = new HttpFacade(produce = (_, _, _, _) => (), state = () => state)
      facade.start()
      try {
        val bytes = http.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:${facade.boundPort}/local-state")).build(),
          HttpResponse.BodyHandlers.ofByteArray()).body()
        assert(bytes.sameElements(expected.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      } finally facade.stop()
    }
  }
}
