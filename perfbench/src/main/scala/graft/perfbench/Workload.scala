package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** One Kafka-shaped record of the `share-holders` topic: key bytes, JSON
  * value bytes (null for a tombstone) and the offset.
  */
final case class Frame(key: Array[Byte], value: Array[Byte], offset: Long)

/** A generated changelog event; `exchange == None` is a tombstone (amount 0). */
final case class Event(client: String, ticker: String, exchange: Option[String], amount: Int, offset: Long) {
  def key: String = s"$client:::$ticker"

  def frame: Frame = Frame(
    key.getBytes(UTF_8),
    exchange.map { ex =>
      s"""{"client":"$client","id":"$key","ticker":"$ticker","exchange":"$ex","amount":$amount}"""
        .getBytes(UTF_8)
    }.orNull,
    offset)
}

/** The shape of one workload. Every count is fixed by the spec, the seed and
  * the run length, never by wall time, so every run of a workload appends the
  * same batches and performs the same reads over a store of the same size.
  *
  * @param batchesPerSecond timed batches per second of `--seconds`
  * @param setups           fresh set-ups per run; `setup_s` is their median
  * @param restarts         stop/restart cycles after the timed phase
  */
final case class Spec(
    name: String,
    clients: Int,
    tickers: Int,
    batchEvents: Int,
    warmupBatches: Int,
    batchesPerSecond: Double,
    lookupsPerBatch: Int,
    localStatesPerBatch: Int,
    setups: Int,
    restarts: Int,
    resumeEvents: Int)

object Spec {
  // Few large batches over many clients: per-event work dominates. The batch
  // after a restart is small, so resume_s is mostly restart and state load.
  val bulkChangelog: Spec = Spec("bulk_changelog", clients = 20000, tickers = 24,
    batchEvents = 20000, warmupBatches = 1, batchesPerSecond = 0.75,
    lookupsPerBatch = 7, localStatesPerBatch = 2, setups = 3, restarts = 4, resumeEvents = 2000)
  // Many small batches over few clients: fixed per-batch cost and reads over
  // a store that grows by one partition per batch dominate.
  val trickleServe: Spec = Spec("trickle_serve", clients = 400, tickers = 12,
    batchEvents = 40, warmupBatches = 3, batchesPerSecond = 1.6,
    lookupsPerBatch = 3, localStatesPerBatch = 1, setups = 3, restarts = 4, resumeEvents = 40)

  val all: Seq[Spec] = Seq(bulkChangelog, trickleServe)
}

/** The generated input of one run. Batches are laid out as
  * `warmup ++ timed ++ resume` with consecutive offsets.
  */
final class Workload(val spec: Spec, seed: Long, seconds: Int) {
  val timedBatches: Int = math.max(1, math.ceil(seconds * spec.batchesPerSecond).toInt)

  private val rnd = new java.util.Random(seed * 1000003L + spec.name.hashCode)
  private var offset = 0L

  private def clientName(i: Int): String = f"c$i%06d"

  private def nextEvent(): Event = {
    val client = clientName(rnd.nextInt(spec.clients))
    val ticker = f"TK${rnd.nextInt(spec.tickers)}%03d"
    val r = rnd.nextInt(100)
    // 15% tombstones; upserts go 50/25/25 to NASDAQ/LON/NYSE, so revisiting a
    // key moves it on or off the NASDAQ view
    val (exchange, amount) =
      if (r < 15) (None, 0)
      else (Some(if (r < 58) "NASDAQ" else if (r < 79) "LON" else "NYSE"), 1 + rnd.nextInt(999))
    val e = Event(client, ticker, exchange, amount, offset)
    offset += 1
    e
  }

  private def batches(n: Int, events: Int = spec.batchEvents): Vector[Vector[Event]] =
    Vector.fill(n)(Vector.fill(events)(nextEvent()))

  val warmup: Vector[Vector[Event]] = batches(spec.warmupBatches)
  val timed: Vector[Vector[Event]] = batches(timedBatches)
  val resume: Vector[Vector[Event]] = batches(spec.restarts, spec.resumeEvents)
  /** Clients looked up after each timed batch. */
  val lookups: Vector[Vector[String]] =
    Vector.fill(timedBatches)(Vector.fill(spec.lookupsPerBatch)(clientName(rnd.nextInt(spec.clients))))
}

/** Correctness oracle: a plain fold of the changelog into the expected
  * `us_share_holders` view. Latest value per key, tombstones delete, only
  * NASDAQ positions are kept, grouped by the key's client prefix, ids sorted.
  * It deliberately shares no code with the engine.
  */
final class Fold {
  // client -> (position key -> exchange)
  private val byClient = mutable.HashMap.empty[String, mutable.HashMap[String, String]]

  def apply(key: String, exchange: Option[String]): Unit = {
    val cut = key.indexOf(":::")
    val client = if (cut < 0) key else key.substring(0, cut)
    exchange match {
      case Some(ex) => byClient.getOrElseUpdate(client, mutable.HashMap.empty).update(key, ex)
      case None =>
        byClient.get(client).foreach { m =>
          m.remove(key)
          if (m.isEmpty) byClient.remove(client)
        }
    }
  }

  def apply(events: Iterable[Event]): Unit = events.foreach(e => apply(e.key, e.exchange))

  def ids(client: String): Seq[String] =
    byClient.get(client).map(_.collect { case (k, "NASDAQ") => k }.toVector.sorted).getOrElse(Vector.empty)

  def view: Map[String, Seq[String]] =
    byClient.keysIterator.map(c => c -> ids(c)).filter(_._2.nonEmpty).toMap
}

object Fold {
  /** The canonical scenario of FIXTURES.md §A, checked after every offset. */
  def selfTest(): Unit = {
    val f = new Fold
    val steps = Seq(
      ("daniel:::AAPL", Some("NASDAQ"), Map("daniel" -> Seq("daniel:::AAPL"))),
      ("daniel:::BT.A", Some("LON"), Map("daniel" -> Seq("daniel:::AAPL"))),
      ("daniel:::AAPL", None, Map.empty[String, Seq[String]]))
    steps.zipWithIndex.foreach { case ((key, ex, expected), offset) =>
      f(key, ex)
      require(f.view == expected, s"fold self-test failed at offset $offset: ${f.view} != $expected")
    }
  }
}
