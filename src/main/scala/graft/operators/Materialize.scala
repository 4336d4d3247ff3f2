package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Uniform eager-materialization barrier for the dedup pipelines.
  *
  * Every multi-consumer intermediate in this library (candidate pair lists,
  * matched-position remnants) needs an eager barrier so
  * downstream stages don't re-execute the producing pipeline. Two modes:
  *
  *  - '''default''' (`checkpointDir = None`): `localCheckpoint` — blocks in
  *    executor memory, GC-managed by the ContextCleaner, fastest. NOT
  *    executor-loss safe: on a real cluster a lost executor kills the job,
  *    which is acceptable for interactive/bench runs but not for long
  *    production pipelines.
  *  - '''reliable''' (`checkpointDir = Some(dir)`): an explicit parquet
  *    round-trip under `dir` — survives executor loss (the data is on the
  *    cluster filesystem: HDFS/S3 at scale, local disk in tests).
  *
  * Why a parquet round-trip instead of `Dataset.checkpoint()`: reliable
  * `checkpoint()` mutates the GLOBAL SparkContext checkpoint directory
  * (concurrent operators with different dirs race on it) and its files are
  * only reclaimed by the ContextCleaner when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — off by
  * default, so iterative fixpoints accumulate storage unboundedly. Explicit
  * per-barrier paths have no global state, and callers that loop (e.g.
  * [[ConnectedComponents]]) can delete a superseded round's files the moment
  * the next round materializes.
  *
  * Lifecycle: the CALLER owns `dir`. Files written by [[reliable]] must
  * outlive every consumer of the returned frame (it lazily re-reads the
  * path), so one-shot barriers leave their files for the caller to clean
  * with the directory; loops should delete superseded paths via [[delete]].
  */
object Materialize {
  private val seq = new AtomicLong()

  /** Eagerly materialize `df`: `localCheckpoint` by default, a reliable
    * parquet round-trip under `checkpointDir` when set.
    */
  def barrier(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) => reliable(df, dir)._1
      case None      => df.localCheckpoint()
    }

  /** Reliable barrier: write `df` to a fresh path under `dir`, read it back
    * (schema pinned, so empty frames and nullability survive the trip).
    * Returns (materialized frame, path) — the path so iterative callers can
    * [[delete]] it once superseded.
    */
  def reliable(df: DataFrame, dir: String): (DataFrame, String) = {
    val path = s"$dir/barrier-${seq.incrementAndGet()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    df.write.parquet(path) // fresh unique path: default ErrorIfExists is right
    (df.sparkSession.read.schema(df.schema).parquet(path), path)
  }

  /** Delete one barrier path (Hadoop FS API — honors HDFS/S3 at scale). */
  def delete(df: DataFrame, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }
}
