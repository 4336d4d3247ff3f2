package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the shipped [[Graft.session]] at 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session(getClass.getSimpleName, "4")

  def sf0001 = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir, deleted recursively after the suite. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.asScala.foreach { dir =>
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.deleteIfExists)
        finally walk.close()
      }
    }
}
