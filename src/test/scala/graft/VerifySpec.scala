package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite with TempDirs {

  test("legacy canonical/ cleanup removes nested dirs and any file kind") {
    val out = Path.of(tempDir("graft-verify-out"))
    val legacy = out.resolve("canonical")
    Files.createDirectories(legacy.resolve("sub/nested"))
    Files.writeString(legacy.resolve("q1.txt"), "a\n")
    Files.writeString(legacy.resolve("stray.bin"), "b")
    Files.writeString(legacy.resolve("sub/nested/part-0.parquet"), "c")
    val keep = Files.writeString(out.resolve("hashes.tsv"), "d\n")
    Verify.removeLegacyCanonical(out.toString)
    assert(!Files.exists(legacy))
    assert(Files.exists(keep), "only the legacy dir may go")
    Verify.removeLegacyCanonical(out.toString) // absent dir: no-op
  }
}
