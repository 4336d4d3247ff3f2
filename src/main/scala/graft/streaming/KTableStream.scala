package graft.streaming

import scala.collection.immutable.SortedSet

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming KTable core: the reference topology (kafka_streams.clj:60-81) as
  * ONE stateful operator over a changelog stream.
  *
  * Reference semantics reproduced here:
  *  - upsert table over a compacted topic (kafka_streams.clj:64): latest value
  *    per position key, tombstone (null value) deletes
  *  - filter with retraction (kafka_streams.clj:65-67): a NASDAQ→LON update
  *    removes the id from the derived set, because the latest value of the
  *    key decides, not the first one seen
  *  - re-key + incremental set agg with adder/subtractor (kafka_streams.clj:68-79):
  *    the kafka key embeds the client as its prefix ("client:::ticker",
  *    fake_producer.clj:25), so grouping by the prefix lets a single
  *    `flatMapGroupsWithState` hold all of a client's positions — no chained
  *    stateful operators (SURVEY.md §7 M3)
  *  - nil-on-empty deletion (kafka_streams.clj:77-79): emitted as a
  *    `deleted=true` change record
  *  - CACHE_MAX_BYTES_BUFFERING=0 (kafka_streams.clj:51): every *change* to a
  *    client's derived set is emitted, at micro-batch granularity (same-key
  *    updates inside one batch coalesce — SURVEY.md §7 risk 3)
  *
  * Scale: state is partitioned by client across executors (hash exchange =
  * the repartition topic analog); per-client state is the client's view row,
  * O(NASDAQ positions per client), the same size as each row it emits.
  */
object KTableStream {

  /** A changelog record: `value == None` is a tombstone (delete). */
  case class ShareUpdate(key: String, value: Option[Position], seq: Long)
  case class Position(client: String, id: String, ticker: String, exchange: String, amount: Int)

  /** Per-client state: the client's sorted NASDAQ position keys, which is the
    * view row last emitted for it. Non-NASDAQ positions need no state: the
    * group is the key's client prefix, so no value change can move a key to
    * another group, and a key's membership depends only on its latest value.
    */
  case class ClientState(ids: Seq[String])

  /** A change to the derived view; `deleted=true` = row removed
    * (the reference's tombstone on the output changelog).
    */
  case class ClientView(client: String, nasdaq_position_ids: Seq[String], deleted: Boolean)

  def clientOf(key: String): String = key.split(":::", 2)(0)

  private def updateClient(
      client: String,
      rows: Iterator[ShareUpdate],
      state: GroupState[ClientState]): Iterator[ClientView] = {
    val before = state.getOption.fold(Seq.empty[String])(_.ids)
    var ids = SortedSet(before: _*)
    // arrival order within the batch (Kafka offset analog)
    rows.toSeq.sortBy(_.seq).foreach { r =>
      r.value match {
        case Some(p) if p.exchange == "NASDAQ" => ids += r.key
        case _ => ids -= r.key // other exchange, or tombstone (fake_producer.clj:26-29)
      }
    }
    val after = ids.toSeq
    if (after == before) Iterator.empty
    else if (after.isEmpty) {
      state.remove()
      Iterator(ClientView(client, Seq.empty, deleted = true))
    } else {
      state.update(ClientState(after))
      Iterator(ClientView(client, after, deleted = false))
    }
  }

  /** The derived `us-share-holders` change stream (kafka_streams.clj:80). */
  def usShareHolders(spark: SparkSession, changelog: Dataset[ShareUpdate]): Dataset[ClientView] = {
    import spark.implicits._
    changelog
      .groupByKey(u => clientOf(u.key))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateClient)
  }
}
