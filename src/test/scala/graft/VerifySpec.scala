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

  test("query subset: a wrong argument count or an unknown name is rejected") {
    val known = Set("q1_filter_project", "q2_agg")
    assert(Verify.parseArgs(Array("sf", "out"), known) == Right(("sf", "out", None)))
    assert(Verify.parseArgs(Array("sf", "out", "q2_agg,q1_filter_project"), known) ==
      Right(("sf", "out", Some(known))))
    assert(Verify.parseArgs(Array("sf"), known) == Left("expected 2 or 3 arguments, got 1"))
    assert(Verify.parseArgs(Array("sf", "out", "q2_agg", "x"), known).isLeft)
    assert(Verify.parseArgs(Array("sf", "out", "q2_agg,q9_typo"), known) ==
      Left("unknown queries 'q9_typo'"))
    assert(Verify.parseArgs(Array("sf", "out", "q2_agg,"), known) == Left("unknown queries ''"))
  }

  test("query subset: oracle_sql.json carries only the subset's entries") {
    val oracle = Map("a" -> "SELECT 1", "b" -> "SELECT 2", "c" -> "SELECT 3")
    assert(Verify.oracleFor(oracle, None) == oracle)
    assert(Verify.oracleFor(oracle, Some(Set("b", "rows_only"))) == Map("b" -> "SELECT 2"))
  }
}
