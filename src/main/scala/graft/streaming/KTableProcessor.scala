package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

import KTableStream.{ClientView, ShareUpdate}

/** Forwards to [[KTableStream.usShareHolders]], the one KTable engine. Its
  * only caller is the benchmark's `--engine processor`
  * (`perfbench/src/main/scala/graft/perfbench/StreamBench.scala`, the
  * benchmark's default engine); this object goes when the benchmark drops
  * `--engine`.
  */
object KTableProcessor {
  def usShareHolders(spark: SparkSession, changelog: Dataset[ShareUpdate]): Dataset[ClientView] =
    KTableStream.usShareHolders(spark, changelog)
}
