package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A reused outDir may still hold the round-13 in-outDir `canonical/` dir;
    * remove it with everything under it, so a glob over outDir's
    * subdirectories can't resurrect the phantom row. Throws if any of it
    * survives.
    */
  def removeLegacyCanonical(outDir: String): Unit = {
    val legacy = Paths.get(outDir, "canonical")
    if (Files.exists(legacy)) {
      val tree = Files.walk(legacy)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally tree.close()
      if (Files.exists(legacy))
        throw new IllegalStateException(s"could not remove legacy dir $legacy")
    }
  }

  private val usage = "usage: graft.Verify <sfDir> <outDir> [query,query,...]"

  /** `(sfDir, outDir, subset)` from the command line, or why it is rejected:
    * a wrong argument count, or a subset name that is not in `known`. The
    * optional third argument is a comma-separated query subset for fast
    * local re-verification of just-touched operators; without it the whole
    * surface runs.
    */
  def parseArgs(args: Array[String],
                known: Set[String]): Either[String, (String, String, Option[Set[String]])] =
    args match {
      case Array(s, o) => Right((s, o, None))
      case Array(s, o, q) =>
        val only = q.split(",", -1).toSet
        val unknown = only -- known
        if (unknown.isEmpty) Right((s, o, Some(only)))
        else Left(s"unknown queries ${unknown.toSeq.sorted.map(n => s"'$n'").mkString(", ")}")
      case _ => Left(s"expected 2 or 3 arguments, got ${args.length}")
    }

  /** The oracle entries written to `oracle_sql.json`: every entry, or only
    * the subset's, so a subset run reports no other query as missing.
    */
  def oracleFor(oracle: Map[String, String], only: Option[Set[String]]): Map[String, String] =
    only.fold(oracle)(names => oracle.filter { case (name, _) => names.contains(name) })

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args, SparkEntry.queries.keySet) match {
      case Right(parsed) => parsed
      case Left(error) =>
        System.err.println(s"VERIFY ERROR: $error\n$usage")
        sys.exit(2)
    }
    val spark = Graft.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Canonical text dumps live in a SIBLING directory, not under outDir:
    // the driver's oracle loop globs outDir subdirectories as per-query
    // parquet outputs, and a canonical/ subdir inside it produced a phantom
    // "canonical" error row in CORRECTNESS_r13 (round-13 verdict task 1a).
    val canonicalDir = s"${outDir.stripSuffix("/")}_canonical"
    new java.io.File(canonicalDir).mkdirs()
    removeLegacyCanonical(outDir)
    // Diagnosability (round-13, VERDICT task 1a): alongside each parquet
    // dump, write a canonical text rendering — columns sorted by name,
    // rows sorted lexicographically, one TAB-joined line per row — plus
    // per-COLUMN sha256 hashes in hashes.tsv. If the driver ever reports
    // a hash-only mismatch again, diffing two canonical dumps (or just
    // the per-column hashes across engines/rounds) pinpoints the exact
    // column and cell instead of leaving an opaque boolean.
    def cell(v: Any): String = v match {
      case null                => "NULL"
      case a: Seq[_]           => a.map(cell).mkString("[", ",", "]")
      case a: Array[_]         => a.map(x => cell(x)).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${cell(k)}:${cell(x)}" }
          .sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(cell).mkString("(", ",", ")")
      case b: Array[Byte]      => b.map("%02x".format(_)).mkString
      case other               => other.toString
    }
    def sha(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val hashLines = new scala.collection.mutable.ArrayBuffer[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val cols = df.columns.sorted.toSeq
        val rows = spark.read.parquet(s"$outDir/$name")
          .selectExpr(cols: _*).collect()
          .map(r => cols.indices.map(i => cell(r.get(i))))
          .sortBy(_.mkString(""))
        val body = rows.map(_.mkString("\t")).mkString("\n")
        Files.writeString(Paths.get(s"$canonicalDir/$name.txt"),
          cols.mkString("\t") + "\n" + body + "\n")
        hashLines += s"$name\tALL\t${rows.length}\t${sha(body)}"
        cols.indices.foreach { i =>
          hashLines += s"$name\t${cols(i)}\t${rows.length}\t" +
            sha(rows.map(_(i)).mkString("\n"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // free operator-internal persisted indexes
    }
    Files.writeString(Paths.get(s"$outDir/hashes.tsv"),
      hashLines.mkString("", "\n", "\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleFor(SparkEntry.oracleSql, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-written surface manifest: the declared/oracle counts README
    // and BASELINE cite come from HERE (BookkeepingSpec pins the prose to
    // these numbers so the docs can never drift from SparkEntry again)
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val manifest = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val kind = if (rowsOnly.contains(name)) "rows_only" else "oracle"
      s"$name\t$kind"
    }.mkString(
      s"# declared=${SparkEntry.queries.size} oracle=${SparkEntry.oracleSql.size} " +
        s"rows_only=${rowsOnly.toSeq.sorted.mkString(",")}\n", "\n", "\n")
    Files.writeString(Paths.get(s"$outDir/manifest.tsv"), manifest)
    spark.stop()
  }
}
