package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Suite-scoped temp dirs: each dir [[tempDir]] hands out is deleted
  * recursively after the suite, so a test run leaves nothing in the temp dir.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

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
