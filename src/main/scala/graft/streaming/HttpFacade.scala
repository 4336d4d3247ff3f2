package graft.streaming

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import scala.collection.immutable.SortedMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP ingest/query facade mirroring the reference's API surface
  * (fake_producer.clj:38-46, main.clj:27-30):
  *
  *   - `POST /set-shares` with form params client/ticker/exchange/amount —
  *     produces an upsert, or a tombstone when amount=0 (fake_producer.clj:26-29)
  *   - `GET /local-state` — dumps the materialized view as JSON rows
  *     {"key": client, "value": [position ids]}, the reference's
  *     {:key,:value} shape (kafka_streams.clj:87-88)
  *
  * This is a thin demo endpoint over the engine (SURVEY op #8): `produce`
  * feeds the changelog (MemoryStream in tests, Kafka in production) and
  * `state` reads the serving store. The richer query surface remains
  * `spark.table` / SQL. Unlike the reference's per-instance partial view,
  * `state` serves the COMPLETE view (SURVEY.md §3.2).
  *
  * Built on the JDK's HttpServer: no extra dependency, demo-grade on purpose.
  */
class HttpFacade(
    produce: (String, String, String, Int) => Unit,
    state: () => Map[String, Seq[String]],
    port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def formParams(body: String): Map[String, String] =
    body.split("&").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** Appends `s` as a JSON string literal. */
  private def appendJson(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 =>
          val hex = Integer.toHexString(c)
          sb.append("\\u").append("0000", hex.length, 4).append(hex)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** The `GET /local-state` body: rows in client order, written into one
    * builder sized for the common case (no character needs escaping). A map
    * already sorted by `Ordering.String`, as the served map is, is not
    * sorted again.
    */
  private def renderState(view: Map[String, Seq[String]]): String = {
    val rows = view match {
      case sorted: SortedMap[String, Seq[String]] @unchecked if sorted.ordering == Ordering.String => sorted
      case other => other.toSeq.sortBy(_._1)
    }
    var size = 2
    rows.foreach { case (k, ids) =>
      size += k.length + 22
      ids.foreach(id => size += id.length + 3)
    }
    val sb = new java.lang.StringBuilder(size)
    sb.append('[')
    var first = true
    rows.foreach { case (k, ids) =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"key\":")
      appendJson(sb, k)
      sb.append(",\"value\":[")
      var firstId = true
      ids.foreach { id =>
        if (!firstId) sb.append(',')
        firstId = false
        appendJson(sb, id)
      }
      sb.append("]}")
    }
    sb.append(']').toString
  }

  server.createContext("/set-shares", (ex: HttpExchange) =>
    try {
      if (ex.getRequestMethod != "POST") respond(ex, 405, "POST only")
      else {
        val p = formParams(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        produce(p("client"), p("ticker"), p("exchange"), p("amount").toInt)
        respond(ex, 200, "\"done!\"")
      }
    } catch {
      case e: Exception => respond(ex, 400, s"bad request: ${e.getMessage}")
    })

  server.createContext("/local-state", (ex: HttpExchange) =>
    try {
      respond(ex, 200, renderState(state()))
    } catch {
      case e: Exception => respond(ex, 500, s"error: ${e.getMessage}")
    })

  def start(): Unit = server.start()
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}
