package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming sibling of [[graft.operators.EventAnalytics.transitionMatrix]]
  * — the reference's model is CONTINUOUS (`kafka_streams.clj:60-81`: a
  * topology runs forever, state updates per record), and the event-analytics
  * family was batch-only until round 13. This closes the gap for the
  * transition matrix: per-user next-event STEPS emitted incrementally on
  * Spark 4's `transformWithState` (a `StatefulProcessor`), so the
  * Markov matrix is maintainable over a live event stream instead of
  * recomputed per batch.
  *
  * Semantics: per user, state is the single LAST event seen ((ts, tie,
  * type)); each micro-batch's rows for that user are processed in
  * (ts, tie) order — the batch operator's exact lag-window ordering — and
  * every consecutive pair emits one (prev_type, next_type) step. The step
  * stream is append-mode; the matrix itself is `steps.groupBy(prev,
  * next).count()` downstream (or the batch rollup over a collected step
  * log). Stream == batch holds whenever each user's events arrive in
  * event-time order ACROSS micro-batches (in-batch disorder is sorted
  * away) — the same per-key in-order contract [[StreamingAsOf]] documents;
  * a late event would need retraction semantics, deliberately out of scope
  * for an append-mode step log.
  *
  * Scale shape: state is ONE small ValueState entry per user (bounded by
  * user cardinality, never stream length); each micro-batch pays one
  * user-keyed exchange and a per-user sort bounded by that user's rows IN
  * THE BATCH. Steps are emitted as they are discovered — nothing buffers
  * beyond the batch.
  */
object StreamingEventAnalytics {

  /** One input event: `t` is event-time micros, `tie` the deterministic
    * equal-time tiebreak (event_id in the fixture schema).
    */
  case class Ev(user_id: Long, event_type: String, t: Long, tie: Long)

  /** One emitted transition step. */
  case class Step(user_id: Long, prev_type: String, next_type: String)

  /** Per-user last-event state. */
  case class LastEv(event_type: String, t: Long, tie: Long)

  class TransitionProcessor extends StatefulProcessor[Long, Ev, Step] {
    @transient private var last: ValueState[LastEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      last = getHandle.getValueState[LastEv](
        "last", Encoders.product[LastEv], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[Step] = {
      val sorted = rows.toSeq.sortBy(e => (e.t, e.tie))
      var prev = if (last.exists()) Some(last.get()) else None
      val out = Seq.newBuilder[Step]
      sorted.foreach { e =>
        prev.foreach(p => out += Step(user, p.event_type, e.event_type))
        prev = Some(LastEv(e.event_type, e.t, e.tie))
      }
      prev.foreach(last.update)
      out.result().iterator
    }
  }

  /** The incremental step log over a streaming event source. */
  def transitionSteps(spark: SparkSession, events: Dataset[Ev]): Dataset[Step] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor, TimeMode.None(), OutputMode.Append())
  }
}
