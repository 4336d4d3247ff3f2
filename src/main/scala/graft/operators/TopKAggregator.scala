package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Grouped top-k as a typed `Aggregator` — the partial-aggregatable
  * alternative to `row_number() OVER (...) <= k`.
  *
  * The window form shuffles and sorts EVERY row of every group; this
  * aggregator keeps a bounded k-element buffer per group, so map-side
  * combine reduces each task's contribution to k rows before the exchange —
  * at 100 TB that's the difference between shuffling the corpus and
  * shuffling k × tasks rows. Ordering: score descending, then id ascending
  * (deterministic ties).
  */
class TopKAggregator(k: Int)
  extends Aggregator[TopKAggregator.Scored, Seq[TopKAggregator.Scored], Seq[TopKAggregator.Scored]] {
  import TopKAggregator.Scored
  require(k > 0, s"top-k needs k > 0, got $k")

  /** `a` ranks strictly before `b` (score desc, id asc). A TOTAL order even
    * on NaN: NaN ranks LAST (a NaN score never displaces a real one; two
    * NaNs tie by id), everything else via `java.lang.Double.compare` (so
    * -0.0 < 0.0 is defined too). Raw `>`/`==` would rank NaN "not before"
    * in both directions, breaking the sorted-buffer invariant and letting
    * insert/merge evict rows non-deterministically across partitionings.
    * Matches `sortBy(-score, id)` under scala's `Double.TotalOrdering`.
    */
  private def before(a: Scored, b: Scored): Boolean = {
    val an = a.score.isNaN; val bn = b.score.isNaN
    if (an || bn) bn && (!an || a.id < b.id) // NaN last; NaN-NaN tie by id
    else {
      val c = java.lang.Double.compare(b.score, a.score)
      c < 0 || (c == 0 && a.id < b.id)
    }
  }

  // Invariant: buffers are always rank-sorted with at most k elements, so
  // per-row reduce is O(1) for the overwhelmingly common below-the-kth case
  // and O(k) for an insertion — never a sort. At 100 TB this aggregator IS
  // the hot loop; sort-per-row (O(k log k) every input row) was the round-1
  // implementation's one measured inefficiency.
  private def insert(buf: Seq[Scored], x: Scored): Seq[Scored] =
    if (buf.size >= k && !before(x, buf.last)) buf
    else {
      val (higher, lower) = buf.span(before(_, x))
      (higher ++ (x +: lower)).take(k)
    }

  override def zero: Seq[Scored] = Seq.empty
  override def reduce(buf: Seq[Scored], x: Scored): Seq[Scored] = insert(buf, x)
  /** Linear merge of two rank-sorted buffers, truncated at k. */
  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Scored]
    var (i, j) = (0, 0)
    while (out.size < k && (i < a.size || j < b.size)) {
      if (j >= b.size || (i < a.size && before(a(i), b(j)))) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    out.toSeq
  }
  override def finish(buf: Seq[Scored]): Seq[Scored] = buf
  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
}

object TopKAggregator {
  /** One scored row: (ordering score, unique id, carried payload). */
  case class Scored(score: Double, id: Long)

  def apply(k: Int): TopKAggregator = new TopKAggregator(k)
}
