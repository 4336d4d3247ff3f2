package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Canonical, Dedup}
import graft.sources.Tables

/** Optimization-round plan artifact dumper: writes `.explain("formatted")`
  * output for the named queries to `<outDir>/<query>_<tag>.txt` so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query>[,query...]
  *
  * The dump is the PRE-execution plan (AdaptiveSparkPlan isFinalPlan=false):
  * deterministic, runnable without executing the query, and sufficient for
  * the shape claims the optimization notes make (Exchange count, join
  * strategy, PushedFilters/ReadSchema, codegen spans). Queries whose
  * operators take internal eager barriers (localCheckpoint brackets) execute
  * those stages as a side effect of planning the final frame — unavoidable,
  * and harmless here (this main is never timed).
  */
object PlanDump {
  /** PRE-BARRIER stage plans for operators that materialize internally
    * (localCheckpoint brackets): their query-level dump shows only the
    * post-barrier `Scan ExistingRDD`, which the round-13 verdict called
    * decorative as evidence. These variants rebuild the operator with
    * `materialize = false`, so the full dataflow — positional index, df
    * filter, candidate self-join, exact verify — is visible in one plan.
    * Dumped as `<query>_stage_<tag>.txt` alongside the query dump.
    */
  private val stagePlans: Map[String, (SparkSession, String) => DataFrame] = {
    def docs(s: SparkSession, dir: String) = Tables.table(s, dir, "documents")
    val (capped, cont, sub) = (Canonical.ngramCapped, Canonical.containment, Canonical.substring)
    Map(
      "dedup_ngram_capped" -> ((s, dir) =>
        Dedup.ngramJaccardCappedPairs(docs(s, dir), "doc_id", "text",
          capped.k, capped.threshold, capped.maxDf, materialize = false)),
      "dedup_containment" -> ((s, dir) =>
        Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
          cont.k, cont.threshold, cont.maxDf, materialize = false)),
      "dedup_exact_substring" -> ((s, dir) =>
        Dedup.exactSubstringPairs(docs(s, dir), "doc_id", "text",
          sub.n, sub.maxDf, materialize = false)),
      "dedup_substring_trim" -> ((s, dir) =>
        Dedup.substringTrimApply(docs(s, dir), "doc_id", "text",
          sub.n, Canonical.minSpan, sub.maxDf, materialize = false)),
      "decontaminate_exact" -> { (s, dir) =>
        val d = docs(s, dir)
        Dedup.exactSubstringContamination(d, Canonical.quotingHoldout(d), "doc_id", "text",
          n = Canonical.contamination.n, materialize = false)
      })
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query>[,query...]")
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val spark = Graft.session("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    val queries = names.split(",").toSeq
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    queries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"wrote $outDir/${name}_$tag.txt (${plan.length} chars)")
      stagePlans.get(name).foreach { fn =>
        val sp = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_stage_$tag.txt"), sp)
        println(s"wrote $outDir/${name}_stage_$tag.txt (${sp.length} chars)")
      }
    }
    spark.stop()
  }
}
