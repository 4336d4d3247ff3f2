package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the one place a session is built.
  * The mains (`Bench`, `Verify`, `PlanDump`, `ExecutorLossProof`)
  * and the test fixtures all call it, so every caller runs with the same SQL
  * functions (`GraftExtensions`) and the same state-store provider.
  *
  * Local mode runs `local[cpus]` with `cpus` shuffle partitions; `cpus`
  * defaults to [[defaultCpus]]. On a real cluster the same settings scale via
  * spark-submit conf. AQE stays on everywhere: it re-plans shuffle partition
  * counts, converts sort-merge joins to broadcast at runtime, and splits
  * skewed partitions — all critical at the 100 TB design point.
  *
  * `extraConf` is applied last, so it can override any setting above
  * (including `spark.master`, e.g. a `local-cluster` master).
  */
object Graft {
  def session(appName: String = "graft", cpus: String = defaultCpus,
              extraConf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // graft_dot / graft_cosine / graft_hash60 / graft_normalize in SQL
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // RocksDB state store: the KTable's per-client state lives here; it
      // spills to local disk, so state is not bounded by the executor heap
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config(extraConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else every available core. */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
}
