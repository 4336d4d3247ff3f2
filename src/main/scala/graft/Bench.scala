package graft

/** Per-round benchmark main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A small untimed warmup (one scan + one agg) absorbs JVM/codegen startup so
  * the first measured query isn't charged for it; queries then run in sorted
  * name order for run-to-run comparability.
  */
object Bench {
  /** One-line headline trailer printed AFTER the big per-query line: the
    * driver's stdout capture keeps the tail of long output and clips the
    * head, and the main JSON line leads with the total — in rounds 4 and 7
    * the headline number was exactly what got clipped. Tail capture always
    * retains this short repeat. Kept as a function so BookkeepingSpec can
    * pin the format.
    */
  def trailerLine(total: Double, n: Int, failedJson: String, sfDir: String): String =
    s"""{"metric":"total_trailer","total":$total,"n":$n,"failed":$failedJson,"sf":"$sfDir"}"""

  /** 1-minute load average, -1 when unreadable (non-Linux). Recorded into the
    * bench artifact as provenance: the round-9 72-vs-43 s driver-vs-idle
    * dispute took a manual re-run to adjudicate; with start/end loadavg in
    * the artifact, a load-skewed refresh is self-documenting.
    */
  def loadavg1m: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg1m
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("graft-bench")

    // Boot warmup: absorb SparkSession/JIT/first-codegen startup once.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()

    // Per-query untimed warmup IMMEDIATELY before measurement (not one global
    // pass): janino codegen + JIT for THIS plan shape are charged to warmup,
    // and the first measured heavy queries aren't paying session-wide warmup
    // (round-1 driver runs charged ~1.5 s of it to the first aggregate).
    // The warmup runs at the MEASURED sf dir: a smaller fixture warms a
    // subtly different plan (AQE coalescing, broadcast thresholds, codegen
    // specializations differ with input stats), leaving the first measured
    // run still paying compile time for the real shape.
    //
    // Then best of two measured runs: single-run times on a shared box carry
    // 20-30% noise; min is the achievable time. Caches are cleared between
    // runs, so the second run repeats ALL work (no warm-cache flattery —
    // operator-internal persists from one query must not tax the next).
    //
    // A query that throws is reported explicitly ("failed" list, -1 sentinel
    // time, nonzero exit) — a failure must never make the bench look faster.
    // optional args = query-name filter for local iteration; filtered runs
    // never persist BENCH_TIMES.json (a partial map would masquerade as the
    // full committed artifact)
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      // a typo'd filter would otherwise run zero queries, print a zero total,
      // and exit 0 — masquerading as a successful local iteration
      System.err.println(s"BENCH ERROR: unknown queries ${unknown.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
      var err: Option[String] = None
      val dts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            err = Some(e.toString.linesIterator.next().take(200))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      (name, if (err.isEmpty) dts.min else -1.0, err)
    }
    val failures = results.collect { case (n, _, Some(e)) => (n, e) }
    failures.foreach { case (n, e) => System.err.println(s"BENCH FAILURE $n: $e") }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failures.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, None) => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Tail-survivable per-query map (round-13 verdict task 1c): the driver's
    // stdout capture keeps only a short tail and clips very long lines, so
    // the single big line above has never survived to the driver's parser
    // (BENCH_r08–r13 all carry parsed: null). Re-emit the map as SHORT
    // fixed-size JSON chunk lines — each parses standalone — and keep the
    // trailer as the LAST line printed.
    val chunks = results.grouped(6).toSeq
    chunks.zipWithIndex.foreach { case (grp, i) =>
      val qsPart = grp.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"metric":"times","part":${i + 1},"nparts":${chunks.size},"queries":$qsPart}""")
    }
    println(trailerLine(total, results.size, failedJson, sfDir))
    // The driver's log capture clips long stdout lines, losing the head of
    // the per-query map (round-4 verdict: 29 of 94 timings unrecoverable
    // every round). Persist the COMPLETE result as a committed artifact so
    // round-over-round per-query comparison never depends on log capture —
    // one query per line, sorted, trivially diffable.
    val loadEnd = loadavg1m
    val pretty = results.map { case (k, v, _) => s"""    "$k": $v""" }
      .mkString("{\n  \"metric\": \"total\",\n  \"value\": " + total +
        ",\n  \"unit\": \"sec\",\n  \"sf\": \"" + sfDir +
        "\",\n  \"failed\": " + failedJson +
        ",\n  \"loadavg_start\": " + loadStart +
        ",\n  \"loadavg_end\": " + loadEnd +
        ",\n  \"runs_per_query\": 2,\n  \"queries\": {\n", ",\n", "\n  }\n}\n")
    // anchor the artifact at the repo root (walk up to build.sbt), not cwd —
    // a Bench forked from a subdirectory must still update the committed file
    val repoRoot = Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
    // Opt-in (round-13 verdict task 1b): the driver's own bench runs (full
    // surface, different core count, loaded box) kept clobbering the
    // committed idle min-of-3 artifact. Only a deliberate refresh with
    // SPARK_GRAFT_WRITE_TIMES=1 persists; filtered runs never do.
    if (args.isEmpty && sys.env.get("SPARK_GRAFT_WRITE_TIMES").contains("1"))
      java.nio.file.Files.writeString(repoRoot.resolve("BENCH_TIMES.json"), pretty)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
