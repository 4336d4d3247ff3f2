package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the shipped [[Graft.session]] at 4 cores. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Graft.session(getClass.getSimpleName, "4")

  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Runs `body` and counts the Spark jobs it started on this thread. */
  def jobsStartedBy[A](spark: SparkSession)(body: => A): (A, Int) = {
    val tag = "graft.jobs.probe"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, "marker")
      // the listener bus delivers in order: once the marker job's start has
      // arrived, so has the start of every job the body ran
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains("marker")) {
        assert(System.nanoTime() < deadline, "the marker job never reached the listener")
        Thread.sleep(5)
      }
      (out, seen.asScala.count(_ == "body"))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` and returns, per stage, the shuffle records each task read,
    * for every task on `spark`'s context that read any.
    */
  def shuffleReadsBy(spark: SparkSession)(body: => Any): Map[Int, Seq[Long]] = {
    val byStage = TrieMap[Int, ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          byStage.getOrElseUpdate(t.stageId, new ConcurrentLinkedQueue[Long]())
            .add(m.shuffleReadMetrics.recordsRead)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // listener events are delivered async: first wait for ANY metric to
      // arrive (bounded), then for the counts to settle
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (byStage.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      var last = -1; var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val n = byStage.values.map(_.size).sum
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally sc.removeSparkListener(listener)
    byStage.map { case (stage, reads) => stage -> reads.asScala.toSeq }.toMap
  }
}
