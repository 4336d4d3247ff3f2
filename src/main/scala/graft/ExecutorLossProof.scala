package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor-loss proof for the reliable-checkpoint barriers (round-9 ask #3).
  *
  * `ReliableCheckpointSpec` proves reliable mode is RESULT-identical to the
  * default `localCheckpoint` mode; this main proves the property the option
  * exists for: the pipeline COMPLETES when an executor dies mid-query.
  * `localCheckpoint` truncates lineage and stores its blocks (replication 1)
  * on the computing executors — losing one executor loses ~half the blocks
  * with no lineage left to rebuild them; the reliable barrier's parquet
  * files survive any executor's death.
  *
  * Runs `Dedup.exactSubstringPairs` in reliable mode on a real multi-process
  * cluster (`local-cluster[2,1,1536]`: in-JVM standalone master + 2 workers,
  * each launching a SEPARATE executor JVM), SIGKILLs one executor process
  * mid-query, and requires (a) the scheduler actually observed the loss
  * during the query and (b) the result equals the planted-fixture expectation.
  *
  * Invoked by `ExecutorLossSpec` in a fresh forked JVM (a SparkContext is
  * JVM-global, and the suite JVM already holds a `local[*]` context).
  * Prints `EXECUTOR_LOSS_PROOF PASS ...` on success; any failure exits
  * nonzero. Requires SPARK_HOME (the workers launch executors through the
  * dist's launcher) — present both in this container and on any real
  * standalone node.
  */
object ExecutorLossProof {
  // the same deterministic corpus as ScaleToolsSpec's 10x substring gate:
  // docs (20k, 20k+1) share a 20-token quote block => nDocs/20 verbatim pairs
  private def fixture(spark: SparkSession, nDocs: Int) = spark.range(nDocs).select(
    col("id").as("doc_id"),
    array_join(concat(
      transform(sequence(lit(0), lit(19)),
        j => concat_ws("_", lit("u"), col("id"), j)),
      when(col("id") % 20 < 2,
        transform(sequence(lit(0), lit(19)),
          j => concat_ws("_", lit("q"), (col("id") / 20).cast("long"), j)))
        .otherwise(transform(sequence(lit(20), lit(39)),
          j => concat_ws("_", lit("u"), col("id"), j))),
      transform(sequence(lit(40), lit(49)),
        j => concat_ws("_", lit("u"), col("id"), j))
    ), " ").as("text"))

  /** PIDs of live CoarseGrainedExecutorBackend processes (Linux /proc scan —
    * the executor JVMs are children of the in-process Workers).
    */
  private def executorPids(): Seq[Long] = {
    val proc = new java.io.File("/proc")
    Option(proc.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .flatMap { d =>
        val cmdline = new java.io.File(d, "cmdline")
        try {
          val bytes = java.nio.file.Files.readAllBytes(cmdline.toPath)
          val cmd = new String(bytes, "UTF-8").replace('\u0000', ' ')
          if (cmd.contains("CoarseGrainedExecutorBackend")) Some(d.getName.toLong) else None
        } catch { case _: Throwable => None }
      }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = 4000
    val expectedPairs = nDocs / 20L

    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

    // cpus = "8" sets 8 shuffle partitions; the master below replaces local[8]
    val spark = Graft.session("executor-loss-proof", cpus = "8", extraConf = Map(
      "spark.master" -> "local-cluster[2,1,1536]",
      "spark.executor.memory" -> "1g",
      // executor JVMs are launched from SPARK_HOME's jars only — they need
      // this application's classes (the aggregate/codegen closures) too
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> addOpens))

    try {
      // wait for both executor JVMs to register (cold start takes seconds)
      val deadline = System.nanoTime() + 120e9.toLong
      while (executorPids().size < 2 && System.nanoTime() < deadline)
        Thread.sleep(200)
      val pids = executorPids()
      require(pids.size >= 2, s"only ${pids.size} executor processes came up")

      @volatile var killedPid = -1L
      @volatile var killNanos = -1L
      @volatile var removedSeen = false
      val tasksEnded = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          // SIGKILL one executor once the query is well inside its pipeline
          // (the index-build + barrier jobs have run tasks by then)
          if (tasksEnded.incrementAndGet() == 12) {
            executorPids().headOption.foreach { pid =>
              new ProcessBuilder("kill", "-9", pid.toString).start().waitFor()
              killedPid = pid
              killNanos = System.nanoTime()
            }
          }
        }
        override def onExecutorRemoved(er: SparkListenerExecutorRemoved): Unit =
          removedSeen = true
      })

      val ckpt = java.nio.file.Files.createTempDirectory("graft-loss-ckpt")
      val t0 = System.nanoTime()
      // the barrier files are only needed while the query runs
      val pairs =
        try graft.operators.Dedup.exactSubstringPairs(
          fixture(spark, nDocs), "doc_id", "text", n = 13,
          checkpointDir = Some(ckpt.toString)).count()
        finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      val t1 = System.nanoTime()

      // the kill must have landed MID-QUERY, the scheduler must have seen the
      // executor die, and the result must still be exactly the planted count
      require(killedPid > 0, s"kill never fired (only ${tasksEnded.get()} tasks ended)")
      require(killNanos > t0 && killNanos < t1,
        "executor kill did not land inside the query window")
      require(removedSeen, "scheduler never observed the executor loss")
      require(pairs == expectedPairs, s"got $pairs pairs, expected $expectedPairs")
      println(s"EXECUTOR_LOSS_PROOF PASS pairs=$pairs/$expectedPairs " +
        s"killedPid=$killedPid killAtSec=${(killNanos - t0) / 1e9} " +
        s"querySec=${(t1 - t0) / 1e9} executorsBefore=${pids.size}")
    } finally spark.stop()
  }
}
