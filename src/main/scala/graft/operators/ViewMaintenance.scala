package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental maintenance of an aggregate over an upsert view — the batch
  * analog of the reference's adder/subtractor KTable aggregation
  * (kafka_streams.clj:72-80): when a key's latest row changes, its OLD
  * contribution is subtracted from the old group and its NEW contribution
  * added to the new group, so the aggregate stays equal to a full recompute
  * without touching unaffected keys.
  *
  * Why this matters at 100 TB: the materialized aggregate over a petabyte
  * changelog is maintained by a job proportional to the DELTA (typically
  * 0.01% of keys per batch), not the corpus. The only full-size input is one
  * hash join of the base view against the delta's key set — and since the
  * delta is small by definition, that side is broadcast, so the base view is
  * scanned once with no shuffle.
  *
  * Semantics (all mirrored from the reference):
  *   - delta rows are upserts keyed by `key`; a NULL `value` is a tombstone
  *     (fake_producer.clj:27-29) that removes the key from the view;
  *   - a key whose latest row moves to a different group fires BOTH the
  *     subtractor (old group) and the adder (new group) — the re-keyed
  *     change-pair of kafka_streams.clj:68-71;
  *   - groups whose membership count reaches zero disappear from the
  *     aggregate (the reference deletes empty sets, kafka_streams.clj:76-79).
  */
object ViewMaintenance {

  private val Dec = DecimalType(18, 2)

  /** Recompute the (count, exact decimal sum) aggregate from a view frame —
    * the from-scratch form that maintenance must stay equal to.
    */
  def aggregateView(view: DataFrame, group: String, value: String): DataFrame =
    view.groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(col(value).cast(Dec)).as("sum_value"))

  /** Apply one delta batch to a materialized aggregate.
    *
    * @param baseView   latest non-tombstone row per key, as of the previous
    *                   batch (one row per key; columns include `key`,
    *                   `group`, `value`)
    * @param baseAgg    output of [[aggregateView]] over `baseView`
    * @param deltaLatest the delta batch collapsed to its own latest row per
    *                   key (use [[LatestPerKey]]); NULL `value` = tombstone.
    *                   Every delta row must supersede the base (newer ord).
    * @return the maintained aggregate: schema of [[aggregateView]], equal to
    *         recomputing over the post-delta view
    */
  def maintainAgg(baseView: DataFrame, baseAgg: DataFrame, deltaLatest: DataFrame,
      key: String, group: String, value: String): DataFrame = {
    // Subtractor: the previous contribution of every key the delta touches.
    // The delta side is broadcast — the base view is scanned once, unshuffled.
    val sub = baseView
      .join(broadcast(deltaLatest.select(col(key))), Seq(key), "left_semi")
      .select(col(group).as("g"),
        lit(-1L).as("dn"),
        (-col(value).cast(Dec)).as("dsum"))
    // Adder: the new contribution (tombstones add nothing).
    val add = deltaLatest
      .filter(col(value).isNotNull)
      .select(col(group).as("g"),
        lit(1L).as("dn"),
        col(value).cast(Dec).as("dsum"))
    val diff = sub.unionByName(add)
      .groupBy(col("g"))
      .agg(sum(col("dn")).as("dn"), sum(col("dsum")).as("dsum"))
    // Merge the per-group diffs into the base aggregate; groups emptied by
    // the delta vanish, groups the delta creates appear.
    baseAgg.join(diff, baseAgg(group) === diff("g"), "full")
      .select(
        coalesce(baseAgg(group), diff("g")).as(group),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sum_value"), lit(0).cast(Dec)) +
          coalesce(col("dsum"), lit(0).cast(Dec))).as("sum_value"))
      .filter(col("n") > 0)
  }
}
