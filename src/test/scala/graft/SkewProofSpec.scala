package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** Proof that [[SkewJoin.saltedInnerJoin]] actually fixes skew, not just
  * that it returns the right rows (OperatorSpec covers equality): on a
  * planted-hot-key fixture (ONE key owning 50% of the fact), the plain
  * sort-merge join funnels the hot key into a single reducer task, while
  * the salted join spreads it across `saltFactor` buckets. Measured via
  * SparkListener task metrics: max-task shuffle-read records vs the median
  * task in the join stage. Numbers recorded in BASELINE.md round 5.
  */
class SkewProofSpec extends SparkSpec {

  /** max/median shuffle-read records across tasks of the heaviest-read
    * stage (= the join stage on these plans).
    */
  private def skewRatio(run: => Unit): (Double, Long, Long) = {
    val byStage = SparkSpec.shuffleReadsBy(spark)(run)
    assert(byStage.nonEmpty,
      "no shuffle-read task metrics captured — listener events lost or the plan had no shuffle")
    val tasks = byStage.values.maxBy(_.sum).sorted
    val max = tasks.last
    val median = tasks(tasks.size / 2)
    (max.toDouble / median, max, median)
  }

  test("salted join levels a planted 50%-hot key; plain join funnels it") {
    val nFact = 200000
    val nKeys = 1000
    // key 0 owns half the fact; the rest is uniform
    val fact = spark.range(nFact).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(col("id"), lit(nKeys)) + 1).as("k"),
      col("id").as("payload"))
    val dim = spark.range(nKeys + 1).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("attr"))

    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions").map(k => k -> conf.get(k))
    try {
      // isolate the operator's effect: no broadcast (the dim is tiny only
      // in the fixture), no AQE runtime skew splitting
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "16")

      val (plainRatio, pMax, pMed) = skewRatio {
        fact.join(dim, "k").select(count(lit(1))).collect()
      }
      val (saltRatio, sMax, sMed) = skewRatio {
        SkewJoin.saltedInnerJoin(fact, dim, "k", saltFactor = 32)
          .select(count(lit(1))).collect()
      }
      info(f"plain join:  max task $pMax%,d records vs median $pMed%,d -> ${plainRatio}%.1fx")
      info(f"salted join: max task $sMax%,d records vs median $sMed%,d -> ${saltRatio}%.1fx")
      assert(plainRatio >= 8.0,
        f"fixture not skewed enough: plain max/median $plainRatio%.1f")
      assert(saltRatio <= 2.0,
        f"salted join must level the hot key: max/median $saltRatio%.1f")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
