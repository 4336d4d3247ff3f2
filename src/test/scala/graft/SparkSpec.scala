package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the shipped [[Graft.session]] at 4 cores. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Graft.session(getClass.getSimpleName, "4")

  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it started on this thread. */
  def jobsStartedBy[A](body: => A): (A, Int) = {
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
}
