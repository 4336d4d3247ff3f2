package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline operators: tokenization,
  * shingling, and the small language-ID stopword profiles.
  *
  * Everything here is built from Spark SQL `functions` (array higher-order
  * functions) so expressions stay inside Catalyst — no Scala UDFs on the hot
  * path — and every transformation has a direct DuckDB equivalent for the
  * oracle.
  */
object Text {

  /** Lowercased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Word k-shingles joined by a single space; empty array when the document
    * has fewer than k tokens.
    */
  def wordShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Tiny per-language stopword profiles for the n-gram/stopword language-ID
    * heuristic. Deliberately small and fixed: the point is the *operator*
    * (scoring + argmax at scale), not lexical coverage.
    */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "du", "est", "dans"),
    "es" -> Seq("el", "los", "las", "de", "y", "en", "que", "un", "es", "por"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "人", "这")
  )

  /** English stopwords reused by the quality score. */
  val enStopwords: Seq[String] = stopwordProfiles.head._2
}
