package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Text}

/** Text-analysis operators over the `documents` table: language ID (stopword
  * heuristic), quality scoring, token counting, and rolling-hash document
  * fingerprints. All column-function based — no UDFs — so everything stays in
  * codegen and has a DuckDB-expressible oracle.
  */
object TextAnalysis {

  /** Stopword-profile language ID: score = matched stopword occurrences per
    * language; prediction = argmax (ties -> lexicographically first language,
    * no matches -> 'und' with score 0).
    */
  def langId(spark: SparkSession, docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(langPredictions(spark, docs), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"),
        col("actual_lang"))
      .orderBy("doc_id")

  /** The prediction core of [[langId]]: (doc_id, pred_lang, score) for every
    * doc with at least one profile hit — zero-hit docs are simply ABSENT
    * (the public wrapper left-joins and coalesces them to 'und'/0). Exposed
    * so [[qualityFilterApply]] can left-join predictions onto its own
    * per-row signal frame instead of paying [[langId]]'s internal
    * corpus-sized docs join a second time.
    */
  private[operators] def langPredictions(spark: SparkSession,
                                         docs: DataFrame): DataFrame = {
    import spark.implicits._
    // 'und' is a RESERVED sentinel meaning "no profile hits": consumers gate
    // on pred_lang.isNull (absent row) / coalesce to 'und', which is only
    // equivalent while no stopword profile is itself named 'und'.
    require(!Text.stopwordProfiles.contains("und"),
      "'und' is the reserved abstain sentinel — a real 'und' profile would " +
        "change the quality gate and langId semantics")
    val prof = Text.stopwordProfiles
      .flatMap { case (lang, ws) => ws.map(w => (lang, w)) }
      .toDF("lang", "word")
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
    val scores = tok.join(broadcast(prof), col("t") === col("word"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("score"))
    // argmax score with ties toward the lexicographically smallest language:
    // min_by over (-score, lang) = highest score, then lang ascending.
    scores.groupBy("doc_id")
      .agg(min_by(struct(col("lang"), col("score")), struct(-col("score"), col("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("pred_lang"), col("b.score").as("score"))
  }

  /** Language-ID CONFUSION matrix: declared label × [[langId]] prediction
    * with exact counts and integer per-mille of each declared language's
    * row — the one-page audit that turns per-doc language predictions into
    * a labeling-quality report (which declared languages the classifier
    * systematically disagrees with, and toward what). A diagonal-heavy
    * matrix certifies the labels; a hot off-diagonal cell is either a
    * mislabeled dump or a profile gap.
    *
    * Shape at scale: [[langId]]'s one token pass + bounded stopword-profile
    * broadcast, then a ≤ |langs|² hash aggregation and a |langs|-row
    * broadcast of the per-actual totals.
    */
  def langConfusion(spark: SparkSession, docs: DataFrame): DataFrame = {
    val per = langId(spark, docs)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = per.groupBy("actual_lang").agg(sum(col("n_docs")).as("__t"))
    per.join(broadcast(totals), "actual_lang") // ≤ |langs| rows — bounded
      .select(col("actual_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 1000 DIV __t").as("share_permille"))
      .orderBy("actual_lang", "pred_lang")
  }

  /** Quality signals per document: token count, mean token length, stopword
    * ratio, alpha-character ratio, and a fixed composite score. All ratios
    * are exact integer divisions in double, rounded to 6 decimals.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    qualityAugmented(docs)
      .select("doc_id", "n_tokens", "mean_token_len", "stopword_ratio",
        "alpha_ratio", "quality_score")
      .orderBy("doc_id")

  /** [[qualityScore]]'s per-row signal columns APPENDED to the input frame
    * (no projection, no sort) — the fusable form: [[qualityFilterApply]]
    * chains it onto the Gopher signals so one scan carries every per-row
    * gate, instead of a doc_id-keyed join per metric (each such join is a
    * corpus-sized exchange pair at scale).
    */
  private[operators] def qualityAugmented(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val enStops = typedLit(Text.enStopwords)
    docs
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("sum_len",
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(enStops, t))))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          round(col("sum_len").cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          round(col("n_stop").cast("double") / col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("alpha_ratio",
        when(col("n_chars") > 0,
          round(col("n_alpha").cast("double") / col("n_chars").cast("double"), 6))
          .otherwise(lit(0.0)))
      // composite: reward length up to 200 tokens, penalize stopword excess
      .withColumn("quality_score",
        when(col("n_tokens") > 0,
          round(least(col("n_tokens").cast("double") / 200.0, lit(1.0)) *
            (lit(1.0) - least(col("n_stop").cast("double") / col("n_tokens").cast("double"), lit(0.5))), 6))
          .otherwise(lit(0.0)))
  }

  /** Gopher-style document quality rules (line + word structure): word
    * count, mean word length, alphabetic-character ratio, bullet-line ratio,
    * ellipsis-line-end ratio, and the pass/fail gate a corpus filter would
    * apply. All regexp_count / integer arithmetic — codegen'd, and every
    * ratio is integer/integer divided once then rounded, so both engines do
    * the identical IEEE ops.
    */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 5, maxWords: Int = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  maxBulletRatio: Double = 0.9, minAlphaRatio: Double = 0.6): DataFrame =
    gopherAugmented(docs, minWords, maxWords, minMeanLen, maxMeanLen,
        maxBulletRatio, minAlphaRatio)
      .select("doc_id", "n_words", "mean_word_len", "alpha_ratio",
        "bullet_ratio", "ellipsis_ratio", "quality_pass")
      .orderBy("doc_id")

  /** [[gopherRules]]' per-row signal columns APPENDED to the input frame
    * (no projection, no sort) — see [[qualityAugmented]] for why the
    * fusable form exists.
    */
  private[operators] def gopherAugmented(docs: DataFrame,
                  minWords: Int = 5, maxWords: Int = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                  maxBulletRatio: Double = 0.9, minAlphaRatio: Double = 0.6): DataFrame = {
    val toks = Text.tokens(col("text"))
    docs
      .withColumn("n_words", size(toks))
      .withColumn("sum_len", aggregate(toks, lit(0), (acc, t) => acc + length(t)))
      .withColumn("n_lines", size(split(col("text"), "\n")))
      .withColumn("n_bullet", regexp_count(col("text"), lit("(^|\n)[-*] ")).cast("int"))
      .withColumn("n_ellipsis", regexp_count(col("text"), lit("\\.\\.\\.(\n|$)")).cast("int"))
      .withColumn("n_alpha", regexp_count(col("text"), lit("[A-Za-z]")).cast("int"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          round(col("sum_len").cast("double") / col("n_words").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("bullet_ratio",
        round(col("n_bullet").cast("double") / col("n_lines").cast("double"), 6))
      .withColumn("ellipsis_ratio",
        round(col("n_ellipsis").cast("double") / col("n_lines").cast("double"), 6))
      .withColumn("alpha_ratio",
        when(col("n_chars") > 0,
          round(col("n_alpha").cast("double") / col("n_chars").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("quality_pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen &&
          col("bullet_ratio") <= maxBulletRatio &&
          col("alpha_ratio") >= minAlphaRatio)
  }

  /** End-to-end corpus QUALITY gate — the apply sibling of the metric
    * queries ([[gopherRules]], [[qualityScore]], [[langId]]), the filter
    * step a training pipeline actually ships: keep documents that pass the
    * Gopher structure rules, score at least `minScore` on the composite
    * quality heuristic, and whose stopword-profile language ID AGREES with
    * the declared `lang` metadata. A doc with zero profile hits predicts
    * 'und' — the heuristic abstains rather than vetoes, so it is kept.
    *
    * Shape at scale: the Gopher and composite-score predicates are narrow
    * per-row projections (no exchange — they fuse into the scan); the only
    * shuffling stage is [[langId]]'s profile-hit aggregation, and the final
    * three-way join is keyed on the SAME doc id throughout, so the
    * post-aggregation exchanges co-partition and reuse. Output is the
    * surviving corpus metadata (doc_id, lang, source, n_chars).
    */
  def qualityFilterApply(spark: SparkSession, docs: DataFrame,
                         minScore: Double = 0.2): DataFrame = {
    // FUSED (round 13): the Gopher rules and the composite score are pure
    // per-row projections, so they ride ONE scan as appended columns and
    // filter in place — the previous form computed each metric in its own
    // subplan and equi-joined three corpus-sized frames on doc_id. Plan
    // diff (plans/r13/corpus_quality_apply_{before,after}.txt): 5 joins →
    // 2, 8 exchanges → 5 — one SortMergeJoin of two corpus-sized sides and
    // two broadcast joins gone. Bench delta at sf0.1 is inside box noise
    // (the removed joins carried narrow columns and AQE broadcast two of
    // them at fixture size), but at corpus scale none of those sides
    // broadcasts and each removed join is a full corpus exchange pair.
    // Only the language-ID argmax genuinely aggregates, so only IT joins
    // back — as the prediction core (absent row = zero profile hits =
    // 'und', which the gate keeps, exactly the public langId coalesce
    // semantics).
    qualityFilterApplyCounted(spark, docs, minScore)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** [[qualityFilterApply]] with the per-doc TOKEN COUNT riding along
    * (n_tokens is computed by the gate's own scan anyway — qualityAugmented
    * tokenizes every doc to score it): the form a downstream budget stage
    * consumes, so a pipeline composing quality → … → token budget never
    * re-reads or re-tokenizes the corpus text just to count tokens (guide
    * §8: carry the decision metadata out of the one pass that must touch
    * the payload). Unsorted; the public wrapper projects + sorts.
    */
  private[graft] def qualityFilterApplyCounted(spark: SparkSession, docs: DataFrame,
                                               minScore: Double = 0.2): DataFrame = {
    val keepCols = docs.columns.toSeq
    val gated = qualityAugmented(
        gopherAugmented(docs)
          .select((keepCols :+ "quality_pass").map(col): _*)
          .filter(col("quality_pass")))
      .filter(col("quality_score") >= minScore)
      .select("doc_id", "lang", "source", "n_chars", "n_tokens")
    gated
      .join(langPredictions(spark, docs), Seq("doc_id"), "left")
      .filter(col("pred_lang").isNull || col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "source", "n_chars", "n_tokens")
  }

  /** Per-document top-k terms by tf-idf. Shape at scale: one explode + two
    * hash aggregations (tf per (doc, term); df per term — both partial/final
    * with map-side combine), a term-keyed join of tf with df (AQE broadcasts
    * the df side when the vocabulary is small; co-partitioned exchange
    * otherwise), then a per-doc window over ≤ |doc vocabulary| rows. idf and
    * the product are rounded after identical-order arithmetic so both
    * engines hash-match. Corpus size is a one-row aggregate broadcast into
    * the plan (same pattern as [[unigramLogprob]]) — no driver-side
    * `count()` and no second corpus scan.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val toks = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(n)
      .withColumn("idf",
        round(log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("tfidf", round(col("tf").cast("double") * col("idf"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Unigram negative-log-likelihood scoring — the perplexity-style corpus
    * quality filter (CCNet-family): docs whose tokens are improbable under
    * the corpus unigram distribution score high. Shape at scale: explode +
    * term-frequency hash agg, a one-row total broadcast, a term-keyed join
    * back, one per-doc hash agg. Mean determinism: per-token NLLs rounded,
    * summed exactly as decimal, divided once.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = broadcast(freq.agg(sum(col("cnt")).as("total")))
    toks.join(freq, "term")
      .crossJoin(total)
      .withColumn("nll",
        round(log(col("total").cast("double") / col("cnt").cast("double")), 6))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum(col("nll").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Corpus-frequency vocabulary + document encoding — the id-ification
    * step between text cleaning and tensorization: build a `vocabSize`-term
    * vocabulary (highest corpus frequency wins, ties to the
    * lexicographically smaller term — fully deterministic), then encode
    * every document as its in-order token-id sequence with OOV as id 0.
    *
    * Shape at scale: the vocabulary is one explode + hash agg + global
    * top-N (`TakeOrderedAndProject`-sized: vocabSize rows of metadata), and
    * it broadcasts into the encode join, so the corpus pays one narrow
    * pass + one per-doc aggregation — the corpus itself never shuffles on
    * the term. Output ids ride as a '|'-joined string (scalar cell,
    * order-preserving); n_oov/n_tokens give the coverage stats that decide
    * whether vocabSize is big enough.
    */
  def vocabEncode(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      posexplode(Text.tokens(col("text"))).as(Seq("pos", "term")))
    // top-N first (TakeOrderedAndProject — distributed, no global sort of
    // the term table), THEN the global row_number window, which therefore
    // only ever sees vocabSize rows in its single partition
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .withColumn("id",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
      .select("term", "id")
    toks
      .join(broadcast(vocab), Seq("term"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid")), "|").as("ids"))
      .orderBy("doc_id")
  }

  /** BPE merge training over the corpus — the tokenizer-training step of an
    * LLM data pipeline (Sennrich et al. 2016). Words are split to character
    * symbols; each round counts adjacent symbol pairs over the word-TYPE
    * table weighted by word frequency, picks the most frequent pair
    * (ties → lexicographically smallest), and applies the merge greedily
    * left-to-right within every word. Returns the learned merge table
    * `(merge_rank, sym_a, sym_b, freq)` — the trained artifact a tokenizer
    * ships.
    *
    * Scale shape: the corpus is touched ONCE (tokenize + word-count
    * aggregation with map-side combine); every merge round after that runs
    * over the word-TYPE table — vocabulary-bounded, corpus-size-independent
    * (the reason BPE training is feasible at 100 TB at all). Per round: one
    * pair-count aggregation over types, a 1-row top-pair collect (bounded
    * metadata, same class as a Lloyd centroid collect), and a
    * localCheckpoint so the per-round plans stay shallow instead of nesting
    * `nMerges` folds into one expression tree.
    *
    * The greedy merge is a left fold with a string accumulator (symbols are
    * space-joined; symbols themselves never contain spaces), seeded with the
    * first symbol — the exact semantics of DuckDB's `list_reduce`, which the
    * oracle mirrors clause for clause: merge when the accumulator ends with
    * symbol-boundary-delimited `sym_a` and the next symbol is `sym_b`; a
    * just-merged symbol can't re-merge in the same round (its concatenated
    * text no longer equals `sym_a`).
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTypeTable(docs, nMerges)._2.toDF("merge_rank", "sym_a", "sym_b", "freq")
      .orderBy("merge_rank")
  }

  /** The trained BPE state: the final word-TYPE table `(w, cnt, syms)` and
    * the merge list — shared core of [[bpeTrain]] (which ships the merges)
    * and [[bpeEncode]] (which joins the corpus against the type table).
    */
  private def bpeTypeTable(docs: DataFrame, nMerges: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    // word-TYPE table: (w, cnt, syms) — everything downstream is vocab-bounded
    var types = docs
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))
    // LAZY localCheckpoints throughout the merge loop (round 13): each
    // round's top-pair collect is the first action over the previous
    // round's types, so the checkpoint materializes inside that same job —
    // the eager form ran a separate materialization job per round (2 jobs ×
    // nMerges of pure scheduling overhead on a vocab-sized table). Same-box
    // A/B at sf0.1 (loaded box, anchors equal on both sides): vocab_bpe
    // 1.91 → 1.60 s, vocab_bpe_encode 1.71 → 1.57, vocab_bpe_fertility
    // 1.66 → 1.38 (min over runs). Lineage truncation is identical — only
    // the materialization time moves.
    types = types.localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      // adjacent pairs, weighted by type frequency (0-based Spark indexing:
      // elements (i-1, i) for i in 1..size-1)
      val top = types
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          expr("transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val row = top.head
        val (pa, pb, freq) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r + 1L, pa, pb, freq))
        types = types
          .select(col("w"), col("cnt"),
            split(bpeMergeFold(pa, pb), " ").as("syms"))
          .localCheckpoint(false)
        r += 1
      }
    }
    (types, merges.toSeq)
  }

  /** The greedy left-to-right merge of pair (pa, pb) over the space-joined
    * `syms` array, as a first-element-seeded string fold — the exact
    * semantics of DuckDB's `list_reduce`, which the oracle mirrors clause
    * for clause. A just-merged symbol cannot re-merge in the same pass (its
    * concatenated text no longer equals `pa`), which is precisely standard
    * BPE's non-overlapping greedy scan. Property-tested against a plain
    * Scala reference fold in `OperatorSpec`.
    */
  private[graft] def bpeMergeFold(pa: String, pb: String): Column = {
    def sq(s: String) = s.replace("'", "''")
    val la = pa.length
    expr(
      s"""aggregate(slice(syms, 2, greatest(size(syms) - 1, 0)),
         |  element_at(syms, 1),
         |  (acc, x) -> CASE
         |    WHEN (acc = '${sq(pa)}' OR right(acc, ${la + 1}) = ' ${sq(pa)}')
         |         AND x = '${sq(pb)}'
         |    THEN concat(left(acc, length(acc) - $la), '${sq(pa)}${sq(pb)}')
         |    ELSE concat(acc, ' ', x) END)""".stripMargin)
  }

  /** Encode the corpus with the trained BPE merges — the apply sibling of
    * [[bpeTrain]] and the per-document token accounting a mixture planner
    * consumes. Every token joins the final word-TYPE table (an equi-join on
    * the word; the type table is vocabulary-bounded, so AQE broadcasts it at
    * any realistic corpus/vocab ratio), contributing its merged-symbol
    * count. Output per document: word count, total BPE symbol count, and the
    * floor-exact per-mille compression ratio (symbols per 1000 characters of
    * tokenized text — the metric that decides whether a tokenizer is worth
    * its vocabulary). Integer arithmetic throughout, cross-engine exact.
    */
  def bpeEncode(docs: DataFrame, nMerges: Int = 10): DataFrame =
    bpeEncodeTypes(docs, bpeTypeTable(docs, nMerges)._1)

  /** Persist the trained BPE tokenizer — the train-once half of
    * train-once/encode-many, mirroring [[Similarity.ivfStore]]'s
    * build-once/search-many split: the merge list (the artifact a tokenizer
    * ships) and the final word-TYPE table, both as parquet.
    * [[bpeEncodeStored]] then encodes any corpus shard from the store,
    * paying only the vocabulary equi-join — no merge rounds in its plan.
    * Retraining is a scheduled job (vocabulary drift), not a per-encode
    * cost.
    */
  def bpeStore(docs: DataFrame, dir: String, nMerges: Int = 10): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (types, merges) = bpeTypeTable(docs, nMerges)
    merges.toDF("merge_rank", "sym_a", "sym_b", "freq")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    types.write.mode("overwrite").parquet(s"$dir/types")
  }

  /** Encode from a STORED vocabulary (see [[bpeStore]]): output is
    * identical to [[bpeEncode]] with the same `nMerges` over the training
    * corpus (suite-asserted), but the plan contains ONLY the token-type
    * equi-join — the steady-state shape a pipeline runs every epoch/shard.
    */
  def bpeEncodeStored(spark: SparkSession, dir: String, docs: DataFrame): DataFrame =
    bpeEncodeTypes(docs, spark.read.parquet(s"$dir/types"))

  /** Tokenizer FERTILITY report per corpus source: BPE symbols per 1000
    * words and per 1000 characters under the trained merge list — the
    * metric that tells a tokenizer/mixture designer which sources the
    * vocabulary serves poorly (high fertility = more symbols per word =
    * longer sequences, more compute per token of useful text; the standard
    * multilingual-tokenizer-audit number). Integer floor'd per-milles,
    * cross-engine exact.
    *
    * Scale shape: identical to [[bpeEncode]] — one corpus pass joining
    * token instances against the vocabulary-bounded type table (AQE
    * decides the join strategy) — but aggregated per SOURCE instead of per
    * doc, so the output is nSources rows at any corpus size and the
    * aggregation is map-side combined on a handful of keys.
    */
  def bpeFertility(docs: DataFrame, srcCol: String = "source",
                   nMerges: Int = 10): DataFrame = {
    val enc = bpeTypeTable(docs, nMerges)._1.select(col("w").as("t"),
      size(col("syms")).cast("long").as("n_syms"),
      length(col("w")).cast("long").as("n_chars_w"))
    docs.select(col(srcCol).as("source"), explode(Text.tokens(col("text"))).as("t"))
      .join(enc, "t")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_symbols"),
        sum(col("n_chars_w")).as("n_word_chars"))
      .select(col("source"), col("n_words"), col("n_symbols"),
        floor(col("n_symbols") * lit(1000L) / col("n_words"))
          .as("symbols_per_1000_words"),
        when(col("n_word_chars") > 0,
          floor(col("n_symbols") * lit(1000L) / col("n_word_chars")))
          .otherwise(lit(0L)).as("symbols_per_1000_chars"))
      .orderBy("source")
  }

  private def bpeEncodeTypes(docs: DataFrame, types: DataFrame): DataFrame = {
    val enc = types.select(col("w").as("t"),
      size(col("syms")).cast("long").as("n_syms"),
      length(col("w")).cast("long").as("n_chars_w"))
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .join(enc, "t")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_symbols"),
        sum(col("n_chars_w")).as("n_word_chars"))
      .select(col("doc_id"), col("n_words"), col("n_symbols"),
        when(col("n_word_chars") > 0,
          floor(col("n_symbols") * lit(1000L) / col("n_word_chars")))
          .otherwise(lit(0L)).as("symbols_per_1000_chars"))
      .orderBy("doc_id")
  }

  /** Vocabulary DRIFT between two corpus snapshots — the scheduled-ingest
    * monitoring report that catches a changed crawl mix, an upstream format
    * break, or topic drift before it reaches training: for every term
    * frequent in either snapshot, the add-one-smoothed log frequency ratio
    * ln[(c_A+1)(N_B+V) / ((c_B+1)(N_A+V))] (positive = over-represented in
    * A), with parts-per-million frequencies riding along; output is the
    * `topN` most-drifted terms (|drift| desc, term asc ties).
    *
    * Determinism: the usual recipe — exact integer products (< 2⁵³) inside
    * one log, quantized to 6 decimals; ppm frequencies are floor'd integer
    * arithmetic.
    *
    * Shape at scale: two vocabulary-sized hash aggregations (one corpus
    * pass each), a term-keyed full-outer merge (AQE-decided, never
    * force-broadcast — Heaps-law vocabulary), the min-count filter BEFORE
    * the ranking, and the global top-N as TakeOrderedAndProject
    * (per-partition heads, no global sort). Output is topN rows at any
    * corpus size.
    */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String = "text",
                 topN: Int = 50, minCount: Long = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ca = a.select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ca"))
    val cb = b.select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cb"))
    val merged = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val vN = merged.agg(count(lit(1)).as("v"),
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    merged
      .filter(col("ca") >= minCount || col("cb") >= minCount)
      .crossJoin(broadcast(vN))
      .select(col("term"), col("ca"), col("cb"),
        floor(col("ca") * lit(1000000L) / col("na")).as("freq_a_ppm"),
        floor(col("cb") * lit(1000000L) / col("nb")).as("freq_b_ppm"),
        round(log(((col("ca") + 1) * (col("nb") + col("v"))).cast("double") /
          ((col("cb") + 1) * (col("na") + col("v"))).cast("double")), 6)
          .cast(DecimalType(18, 6)).as("d"))
      .orderBy(abs(col("d")).desc, col("term"))
      .limit(topN)
      .select(col("term"), col("ca"), col("cb"),
        col("freq_a_ppm"), col("freq_b_ppm"),
        col("d").cast("double").as("drift"))
  }

  /** Token counting: whitespace tokens and BPE-ish regex tokens
    * (`[a-z0-9]+` runs over the lowercased text).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(Text.tokens(col("text"))).as("n_ws_tokens"),
      regexp_count(lower(col("text")), lit("[a-z0-9]+")).cast("int").as("n_re_tokens"))
      .orderBy("doc_id")

  /** Repetition quality metrics (the duplicate-n-gram family of corpus
    * quality rules): per document, the total and distinct word-2-gram
    * counts, the duplicate fraction (1 - distinct/total), and the top
    * 2-gram's occurrence count. Shape at scale: explode + two-level hash
    * aggregation — partial combine collapses each doc's grams map-side, so
    * the shuffle carries (doc, gram) counts, not raw text.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // grams via posexplode + lead() rather than the array-HOF shingle form:
    // HOF lambdas evaluate interpreted, while tokenize/lead/concat here stay
    // inside whole-stage codegen (same reformulation as Dedup's index build)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val grams = docs
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t1", lead(col("t"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("t"), col("t1")).as("g"))
    val perGram = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val stats = perGram.groupBy("doc_id").agg(
      sum(col("c")).as("n2"), count(lit(1)).as("nd"), max(col("c")).as("tc"))
    docs.select("doc_id") // short docs (<2 tokens) have no grams: keep, zeroed
      .join(stats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n2"), lit(0L)).as("n_2grams"),
        coalesce(col("nd"), lit(0L)).as("n_distinct_2grams"),
        when(coalesce(col("n2"), lit(0L)) > 0,
          round(lit(1.0) - col("nd").cast("double") / col("n2").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_2gram_frac"),
        coalesce(col("tc"), lit(0L)).as("top_2gram_cnt"))
      .orderBy("doc_id")
  }

  /** Per-document Shannon entropy of the token distribution — the lexical-
    * diversity quality signal (low entropy = keyword-stuffed / template /
    * repeated-token junk; the information-theoretic sibling of
    * [[repetitionStats]]'s duplicate-n-gram fraction).
    *
    * H = log2(n) − (Σ c·log2(c))/n over the doc's own token counts c —
    * the count-weighted form that needs one log per DISTINCT (doc, term),
    * not one per token. Each log2 is quantized to 6 decimals and the
    * weighted sum runs in decimal; the result is reported in integer
    * MICRO-bits via floor, never a final round-6 double: a quotient like
    * k/8 lands EXACTLY on a 0.5e-6 rounding boundary, where Java's
    * shortest-decimal HALF_UP and DuckDB's scaled-double round legitimately
    * disagree — floor of the identical IEEE quotient is tie-free in both
    * engines. norm_entropy_ppm divides by log2(n_types) (the maximum
    * achievable at that type count): parts-per-million lexical diversity
    * comparable across document lengths.
    *
    * Shape at scale: explode + two-level hash aggregation — the (doc, term)
    * partial agg combines map-side, the doc-level rollup shuffles only
    * per-doc count rows, and the zero-fill join co-partitions on doc_id.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val lg2dec = (x: Column) =>
      round(log(2.0, x.cast("double")), 6).cast(DecimalType(18, 6))
    val perTerm = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val stats = perTerm.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum((col("c") * lg2dec(col("c"))).cast(DecimalType(28, 6))).as("bits"))
    // K = (log2(n)·n − Σ c·log2 c) · 1e6 — an exact integer (scale-6
    // decimals times 1e6); entropy_ubits = floor(K / n)
    val k = ((lg2dec(col("n_tokens")) * col("n_tokens") - col("bits"))
      * lit(1000000)).cast("long")
    docs.select("doc_id") // empty/null-text docs: keep, zeroed
      .join(stats, Seq("doc_id"), "left")
      .withColumn("entropy_ubits",
        when(col("n_tokens") > 0,
          floor(k.cast("double") / col("n_tokens").cast("double")).cast("long"))
          .otherwise(lit(0L)))
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        col("entropy_ubits"),
        when(col("n_types") > 1,
          floor((col("entropy_ubits") * lit(1000000L)).cast("double") /
            (lg2dec(col("n_types")) * lit(1000000)).cast("long").cast("double"))
            .cast("long"))
          .otherwise(lit(0L)).as("norm_entropy_ppm"))
      .orderBy("doc_id")
  }

  /** Bigram negative-log-likelihood scoring — the 2-gram LM sibling of
    * [[unigramLogprob]] and the closest built-from-counts analog of the
    * KenLM perplexity filters production pipelines run (CCNet): documents
    * whose adjacent-token transitions are improbable under the corpus
    * bigram distribution score high (machine-garbled text, shuffled
    * boilerplate, keyword stuffing — junk whose unigram profile can still
    * look normal). Trained on the corpus itself, so every document bigram
    * is observed and the MLE conditional needs no smoothing:
    * nll(w1,w2) = round(ln(c(w1·)/c(w1,w2)), 6), where c(w1·) counts w1 as
    * a LEFT context (so Σ_w2 P(w2|w1) = 1 exactly). Per doc: bigram count
    * and the decimal-summed mean NLL, the [[unigramLogprob]] recipe.
    *
    * Shape at scale: bigrams form NARROWLY inside the scan — a codegen
    * posexplode over the token array with adjacent `element_at` pairing, no
    * positional self-join, no second corpus pass. Then one (bigram) and one
    * (left-context) hash agg (both map-side combined) and two plain
    * vocabulary-keyed joins back — NO broadcast hint: the bigram table
    * grows faster than the Heaps-law unigram vocabulary (it's the object
    * [[bpeTrain]]'s pair counts bound by going type-level), so forcing it
    * into the driver is the exact scale-killer the round-11 verdict flagged
    * in sourceDivergence; AQE still broadcasts genuinely small tables.
    * Docs with < 2 tokens have no bigram and drop out, like token-less docs
    * in [[unigramLogprob]].
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // posexplode + element_at instead of explode(zip_with(slice, slice)):
    // the HOF lambda evaluates interpreted AND materializes a per-doc array
    // of (w1, bg) structs before the explode — and `bg` here is consumed
    // THREE times (both count aggregations + the join base), so that cost
    // triples. The generator formulation keeps tokenize/generate/concat in
    // codegen (the dupNgramMass rewrite, same round). Row-identical:
    // zip_with paired toks[i] with toks[i+1] for i = 1..len-1; here pos is
    // 0-based with tokens pos+1, pos+2 (element_at is 1-based) and the
    // bounds filter keeps pos <= size-2.
    val bg = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("toks")) - 2)
      .select(col("doc_id"),
        element_at(col("toks"), col("pos") + 1).as("w1"),
        concat_ws(" ", element_at(col("toks"), col("pos") + 1),
          element_at(col("toks"), col("pos") + 2)).as("bg"))
    val c12 = bg.groupBy("bg").agg(count(lit(1)).as("cnt12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("cnt1"))
    bg.join(c12, "bg")
      .join(c1, "w1")
      .withColumn("nll",
        round(log(col("cnt1").cast("double") / col("cnt12").cast("double")), 6))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(col("nll").cast(DecimalType(18, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Per-SOURCE Kullback–Leibler divergence from the whole-corpus unigram
    * distribution — the mixture-drift / domain-shift report a corpus curator
    * reads before reweighting sources: a source whose token distribution
    * sits far from the corpus mean (high KL) is a domain outlier; a
    * near-zero source is redundant with the mix.
    *
    * KL(P_s ‖ P) = Σ_t p_s(t)·ln(p_s(t)/p(t)) with p_s = c_st/n_s and
    * p = c_t/n, computed as (c_st/n_s)·ln(c_st·n / (n_s·c_t)) — every term
    * of s appears in the corpus, so the log is always finite. Determinism:
    * the log argument is a ratio of exact integer products (< 2⁵³, so the
    * doubles are exact), each log quantizes to 6 decimals, the c_st-weighted
    * sum runs in decimal, and the result is floor'd integer MICRO-nats —
    * the same tie-free recipe as [[tokenEntropy]].
    *
    * Shape at scale: ONE token pass with the source label riding the
    * initial projection; a (source, term) hash agg (map-side combined);
    * corpus term totals derived from that same table; a plain term-keyed
    * join of two vocabulary-sized tables — NO broadcast hint, because a raw
    * token vocabulary is Heaps-law-unbounded at 100 TB (URLs, typos, code
    * identifiers push it to 10⁸–10⁹ types) and forcing it into the driver
    * is exactly the scale-killer [[tfidfTopTerms]]/[[unigramLogprob]] avoid;
    * AQE still broadcasts when the vocabulary is genuinely small. The
    * one-row corpus total and nSources-row source totals stay broadcast.
    * One source-keyed rollup; output is nSources rows at any corpus size.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val st = docs
      .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cst"))
    val srcTotals = st.groupBy("source").agg(sum(col("cst")).as("ns"))
    val termTotals = st.groupBy("term").agg(sum(col("cst")).as("ct"))
    val n = termTotals.agg(sum(col("ct")).as("n"))
    val docCounts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val terms = st
      .join(termTotals, "term")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(n))
      .withColumn("lr",
        round(log((col("cst") * col("n")).cast("double") /
          (col("ns") * col("ct")).cast("double")), 6).cast(DecimalType(18, 6)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_types"),
        min(col("ns")).as("n_tokens"), // constant within the group
        sum((col("cst") * col("lr")).cast(DecimalType(28, 6))).as("nats"))
    terms
      .join(docCounts, "source")
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("n_types"),
        floor((col("nats") * lit(1000000)).cast("long").cast("double") /
          col("n_tokens").cast("double")).cast("long").as("kl_unats"))
      .orderBy("source")
  }

  /** Multinomial Naive Bayes language classifier, trained ON the corpus's own
    * declared labels and applied back to every document — the
    * trained-classifier sibling of the [[langId]] stopword heuristic and the
    * counting-based analog of the fasttext-style quality/language classifiers
    * production pipelines run (CCNet et al.). Disagreement between the
    * declared label and the token-distribution prediction is a mislabel /
    * low-quality signal a pipeline can gate on.
    *
    * Model: class priors from per-lang doc counts; add-one-smoothed
    * multinomial token likelihoods P(t|c) = (count(t,c)+1)/(total_c+V);
    * score(d,c) = ln prior(c) + Σ_t∈d ln P(t|c); argmax with ties to the
    * lexicographically smallest class. Every ln is rounded to 6 decimals and
    * summed in decimal, so the argmax compares exact quantities cross-engine.
    *
    * Shape at scale: training is two hash aggregations over one corpus pass
    * (per-(lang,term) counts — the word-TYPE table, vocabulary-bounded like
    * [[bpeTrain]]'s; per-lang totals). The likelihood table stays SPARSE:
    * only OBSERVED (lang,term) rows are materialized, because the add-one-
    * smoothed likelihood of an unseen (term,class) is the per-class CONSTANT
    * ln(1/(ctot+V)) — so score(d,c) decomposes as
    * prior(c) + len(d)·ll0(c) + Σ_{observed} (ll(t,c) − ll0(c)), with the
    * per-class defaults an nClasses-row broadcast and the deltas a plain
    * term-keyed join (NO broadcast hint: a raw vocabulary is Heaps-law-
    * unbounded at 100 TB — 10⁸–10⁹ types — and a dense V×C grid forced into
    * the driver is a scale-killer; AQE still broadcasts small vocabularies).
    * The decomposition is EXACT: deltas subtract two 6-dp-quantized decimals
    * and len·ll0 is an integer-decimal product, so the decimal sum equals
    * the dense grid's token-wise sum digit for digit. Documents with no
    * tokens score prior + 0·ll0 = the prior-only argmax.
    */
  def naiveBayesLang(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: Column) => round(log(c), 6).cast(DecimalType(18, 6))
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val classes = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nDocs = classes.agg(sum(col("n_docs")).as("nd"))
    val tc = docs.select(col("lang"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("ctc"))
    val classTotals = tc.groupBy("lang").agg(sum(col("ctc")).as("ctot"))
    val vSize = tc.select("term").distinct().agg(count(lit(1)).as("v"))
    // per-class UNSEEN default ll0 = ln(1/(ctot+V)) — nClasses rows
    val dflt = classTotals.crossJoin(vSize)
      .select(col("lang"),
        dec(lit(1.0) / (col("ctot") + col("v")).cast("double")).as("ll0"))
    // SPARSE observed-likelihood deltas: ll − ll0, exact decimal subtraction
    // of two 6-dp-quantized values; one row per OBSERVED (lang, term) only
    val deltas = tc.join(classTotals, "lang").crossJoin(vSize)
      .join(dflt, "lang")
      .select(col("term"), col("lang"),
        (dec((col("ctc") + 1).cast("double") /
          (col("ctot") + col("v")).cast("double")) - col("ll0")).as("delta"))
    val priors = classes.crossJoin(nDocs)
      .select(col("lang"),
        dec(col("n_docs").cast("double") / col("nd").cast("double")).as("prior_ll"))
    // per-(doc, class) observed-delta sums: plain term-keyed join, AQE decides
    val deltaSums = tok.join(deltas, Seq("term"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("delta").cast(DecimalType(28, 6))).as("dsum"))
    // base score for every (doc, class): prior + len·ll0 (token-less docs
    // get len = 0, i.e. the prior-only argmax); nClasses-row broadcast
    val docLen = docs.select(col("doc_id"), size(Text.tokens(col("text"))).as("len0"))
      // null text → size() yields null (or legacy -1); greatest() maps both to 0
      .select(col("doc_id"), greatest(col("len0"), lit(0)).as("len"))
    val scored = docLen.crossJoin(broadcast(dflt.join(priors, "lang")))
      .join(deltaSums, Seq("doc_id", "lang"), "left")
      .withColumn("score",
        col("prior_ll") + (col("len") * col("ll0")).cast(DecimalType(28, 6)) +
          coalesce(col("dsum"), lit(0).cast(DecimalType(28, 6))))
    val best = scored.groupBy("doc_id")
      .agg(min_by(struct(col("lang"), col("score")),
        struct(-col("score"), col("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("pred_lang"), col("b.score").as("score"))
    docs.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(best, "doc_id")
      .select(
        col("doc_id"),
        col("pred_lang"),
        round(col("score").cast("double"), 6).as("score"),
        col("actual_lang"),
        (col("pred_lang") === col("actual_lang")).as("agree"))
      .orderBy("doc_id")
  }

  /** Chunk REASSEMBLY — the inverse of [[chunkDocuments]], run as a
    * round-trip audit before trusting chunked data downstream (an
    * off-by-one in overlap handling silently duplicates or drops tokens in
    * every training example; the reassembly equality catches it): chunk 0
    * contributes all its tokens, every later chunk drops its first
    * `overlap` tokens (exactly the span the previous chunk already
    * carries — the chunker guarantees every non-first chunk is longer than
    * the overlap), parts concatenate in chunk order, and the rebuilt token
    * stream is compared to the whitespace-normalized original.
    * `matches_original` must be TRUE for every document (suite-gated).
    *
    * Shape at scale: the chunker is the narrow codegen explode; reassembly
    * is ONE doc-keyed aggregation (collect_list of (idx, part), sorted
    * in-memory per doc — bounded by document size, the same class as the
    * chunker's per-doc arrays) plus a doc-keyed join back to the original.
    * Token-less docs have no chunks and drop, like the chunker.
    */
  def reassembleChunks(docs: DataFrame, chunkSize: Int = 64,
                       overlap: Int = 16): DataFrame = {
    val chunks = chunkCore(docs, chunkSize, overlap)
    val ctoks = Text.tokens(col("chunk_text"))
    val part = when(col("chunk_idx") === 0, col("chunk_text"))
      .otherwise(array_join(
        slice(ctoks, lit(overlap + 1), greatest(size(ctoks) - overlap, lit(0))), " "))
    val rebuilt = chunks
      .select(col("doc_id"), col("chunk_idx"), part.as("part"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        array_join(transform(
          sort_array(collect_list(struct(col("chunk_idx"), col("part")))),
          x => x.getField("part")), " ").as("rebuilt"))
    docs
      .select(col("doc_id"), array_join(Text.tokens(col("text")), " ").as("norm"))
      .join(rebuilt, "doc_id")
      .select(
        col("doc_id"),
        col("n_chunks"),
        size(Text.tokens(col("rebuilt"))).cast("long").as("n_tokens"),
        (col("rebuilt") === col("norm")).as("matches_original"))
      .orderBy("doc_id")
  }

  /** Per-SOURCE quality-decile histogram — the corpus-composition report a
    * mixture designer reads before setting [[graft.operators.Sampling]]
    * budgets (how much of each source sits in which quality band, in docs
    * AND tokens): composite quality in integer micro-units, decile =
    * q_u div 100000 (a perfect 1.0 folds into the top decile). Shape at
    * scale: one narrow quality pass + one map-side-combined
    * (source, decile) aggregation — ≤ nSources·10 output rows at any
    * corpus size.
    */
  def qualityHistogram(docs: DataFrame): DataFrame =
    qualityScore(docs)
      .select(col("doc_id"),
        round(col("quality_score") * 1e6).cast("long").as("q_u"),
        col("n_tokens").cast("long").as("n_tokens"))
      .select(col("doc_id"), expr("least(q_u DIV 100000, 9)").as("decile"),
        col("n_tokens"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source", "decile")

  /** Per-SOURCE mislabel-rate report over the [[naiveBayesLang]]
    * classifier — the aggregated quality gate a curator actually reads
    * (per-doc disagreement is noise; a SOURCE whose declared language
    * disagrees with its token distribution at 30% is a mislabeled dump, a
    * language-mixing crawler, or a broken extraction pipeline): per source,
    * docs / declared-vs-predicted disagreements / integer per-mille
    * mislabel rate.
    *
    * Shape at scale: all the heavy lifting is [[naiveBayesLang]]'s sparse
    * scoring (vocabulary joins AQE-decided); the report adds one
    * doc_id-keyed join of the source label and one map-side-combined
    * per-source aggregation — nSources output rows at any corpus size.
    */
  def mislabelRate(docs: DataFrame): DataFrame =
    naiveBayesLang(docs)
      .select(col("doc_id"), col("agree"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("agree"), 0L).otherwise(1L)).as("n_mislabeled"))
      .select(col("source"), col("n_docs"), col("n_mislabeled"),
        expr("n_mislabeled * 1000 DIV n_docs").as("mislabel_permille"))
      .orderBy("source")

  /** Canonical text normalization: lowercase, non-alphanumerics to spaces,
    * whitespace collapsed, trimmed. Pure regex/column ops (codegen'd, no UDF)
    * with exact DuckDB equivalents.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Near-exact dedup over NORMALIZED text — catches duplicates that differ
    * only in case/punctuation/whitespace, which byte-exact dedup misses.
    * Same scale shape as exact dedup: one hash-groupBy on a 60-bit hash of
    * the normalized text (hashes shuffle, never the text itself).
    */
  def normalizedDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Hashing.hash60(normalize(col("text"))).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      .select("canonical_id", "dup_count", "norm_hash")
      .orderBy("canonical_id")

  /** PII redaction sweep: replace email addresses and long digit runs
    * (phone-ish) with fixed placeholder tokens, reporting per-doc match
    * counts and a hash of the redacted text. Regexes use explicit character
    * classes only, so Java regex (Spark) and RE2 (DuckDB) agree exactly.
    * Pure regexp_count/regexp_replace — codegen'd, no UDF; at scale this is
    * a narrow map over the corpus.
    */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
  val phoneRe = "[0-9][0-9 ()+-]{5,}[0-9]"

  def redactPii(docs: DataFrame): DataFrame = {
    val emailRedacted = regexp_replace(col("text"), emailRe, "<EMAIL>")
    val redacted = regexp_replace(emailRedacted, phoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("int").as("n_emails"),
      // phones are counted on the email-redacted text — the text the phone
      // replacement actually runs on — so counts always equal replacements
      // (a digit run inside an email local part is an email, not a phone)
      regexp_count(emailRedacted, lit(phoneRe)).cast("int").as("n_phones"),
      Hashing.hash60(redacted).as("redacted_hash"))
      .orderBy("doc_id")
  }

  /** Rolling-hash fingerprint: minimum 60-bit hash over word 5-shingles
    * (winnowing's global-min special case). Documents shorter than 5 tokens
    * fall back to hashing the whole text.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val sh = Text.wordShingles(Text.tokens(col("text")), 5)
    docs.select(
      col("doc_id"),
      coalesce(
        array_min(transform(sh, s => Hashing.hash60(s))),
        Hashing.hash60(col("text"))).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Token-window document chunking: fixed `chunkSize`-token chunks striding
    * by `chunkSize - overlap`, so consecutive chunks share `overlap` tokens —
    * the context-length-bounded example prep every training pipeline runs
    * before tokenization proper. Every token lands in at least one chunk; a
    * document shorter than `chunkSize` yields exactly one chunk.
    *
    * Shape at scale: tokenize + `explode(sequence(...))` + `slice` is a
    * narrow, codegen'd pipeline — chunk count rides the row, no shuffle at
    * all until whatever consumes the chunks. Output rows ≈ input tokens /
    * (chunkSize - overlap), each carrying only its own slice of text.
    */
  /** Pointwise-mutual-information COLLOCATIONS: adjacent-token bigrams
    * scored by pmi = ln(P(ab) / (P(a)·P(b))) over corpus counts — the
    * classic collocation extractor (and a cheap multi-word-entity signal
    * for vocab construction). `minCount` prunes rare bigrams BEFORE the
    * vocabulary joins, so the joined side is the already-thresholded
    * collocation table, not the raw bigram space.
    *
    * Determinism: counts are exact integers; the pmi ratio is evaluated in
    * ONE fixed left-associated double expression (every operand cast to
    * double first, so neither engine pre-reduces in integer space), then
    * ln + round-6 — identical IEEE sequence cross-engine.
    *
    * Shape at scale: bigrams come from a codegen posexplode with adjacent
    * `element_at` pairing (no positional self-join of the token stream),
    * both count aggregations are map-side combined, totals are one-row
    * broadcasts, and the two vocabulary joins are term-keyed with NO forced
    * broadcast (vocabulary is Heaps-law unbounded — AQE decides, like
    * tfidfTopTerms).
    */
  def pmiBigrams(docs: DataFrame, minCount: Int = 5): DataFrame = {
    // posexplode + element_at instead of explode(zip_with(slice, slice)) —
    // same interpreted-HOF-to-codegen-generator rewrite as [[bigramLogprob]]
    // / [[dupNgramMass]]; row-identical bigram multiset
    val bi = docs.select(Text.tokens(col("text")).as("toks"))
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("toks")) - 2)
      .select(element_at(col("toks"), col("pos") + 1).as("term_a"),
        element_at(col("toks"), col("pos") + 2).as("term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_ab"))
    val uni = docs.select(explode(Text.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_t"))
    val totals = broadcast(uni.agg(sum(col("n_t")).as("t_total"))
      .crossJoin(bi.agg(sum(col("n_ab")).as("b_total")))) // 1 row
    bi.filter(col("n_ab") >= minCount)
      .join(uni.select(col("term").as("term_a"), col("n_t").as("n_a")), "term_a")
      .join(uni.select(col("term").as("term_b"), col("n_t").as("n_b")), "term_b")
      .crossJoin(totals)
      .withColumn("pmi", round(log(
        col("n_ab").cast("double") * col("t_total").cast("double") * col("t_total").cast("double") /
          (col("b_total").cast("double") * col("n_a").cast("double") * col("n_b").cast("double"))), 6))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
  }

  /** DUPLICATION-MASS diagnostic (the Lee et al. 2022 "Deduplicating
    * Training Data" corpus statistic): for each threshold T, the fraction
    * of the corpus's word-`k`-shingle OCCURRENCE mass carried by shingles
    * seen more than T times — the one-number answer to "how duplicated is
    * this crawl", read before deciding whether a dedup pass pays for
    * itself. Reported in exact integer ppm.
    *
    * Shape at scale: ONE shingle-count hash aggregation (map-side
    * combined), then one |thresholds|-row aggregate over the count table —
    * no join back to the corpus, no sort; output is |thresholds| rows at
    * any corpus size.
    */
  def dupNgramMass(docs: DataFrame, k: Int = 3,
                   thresholds: Seq[Int] = Seq(1, 5, 20)): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= 1),
      s"thresholds must be >= 1, got $thresholds")
    // posexplode + element_at instead of explode(transform(sequence(...))):
    // the HOF lambda evaluates interpreted (outside whole-stage codegen) and
    // also materializes the full shingle array per document before the
    // explode; this formulation keeps tokenize/generate/concat in ONE
    // codegen span and emits shingle rows directly — the same rewrite
    // Dedup.shingleTextPositional documents, applied to the occurrence
    // (multiset) pass. Row-identical: positions 0..size-k of the token
    // array, tokens pos+1..pos+k (element_at is 1-based). Measured at
    // sf0.1: 2.80 → 0.40 s (min over repeated warmed runs, idle box —
    // see OPTIMIZATION_r13.md).
    val toks = Text.tokens(col("text"))
    val counts = docs
      .select(toks.as("toks"))
      .select(col("toks"), posexplode(col("toks")).as(Seq("pos", "t")))
      .filter(col("pos") <= size(col("toks")) - k)
      .select(concat_ws(" ", (0 until k).map(i =>
        element_at(col("toks"), col("pos") + i + 1)): _*).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("cnt"))
    // every threshold's pair of conditional sums rides ONE aggregate over
    // the count table (not a |thresholds|-way fan-out join), then the
    // single row unstacks to |thresholds| output rows
    val aggs = sum(col("cnt")).as("total_mass") +: thresholds.flatMap(t => Seq(
      sum(when(col("cnt") > t, 1L).otherwise(0L)).as(s"__n_$t"),
      sum(when(col("cnt") > t, col("cnt")).otherwise(0L)).as(s"__m_$t")))
    val stackExpr = s"stack(${thresholds.size}, " +
      thresholds.map(t => s"$t, __n_$t, __m_$t").mkString(", ") +
      ") AS (threshold, n_over, mass_over)"
    counts.agg(aggs.head, aggs.tail: _*) // 1 row
      .select(expr(stackExpr), col("total_mass"))
      .select(col("threshold"), col("n_over"), col("mass_over"), col("total_mass"),
        expr("mass_over * 1000000 DIV total_mass").as("dup_mass_ppm"))
      // token-less-corpus guard: a global agg over an empty count table
      // still yields one row (null sums → |thresholds| all-null rows),
      // while the oracle's `counts CROSS JOIN thresholds` yields zero —
      // drop the null-total rows so both engines produce the same (empty)
      // shape. No effect on any corpus with at least one shingle.
      .where(col("total_mass").isNotNull)
      .orderBy("threshold")
  }

  /** Vocabulary COVERAGE CURVE: for each k in `ks`, the fraction of the
    * corpus token mass (exact integer ppm) covered by the top-k most
    * frequent terms — the curve that sizes a vocabulary (and flags
    * boilerplate when tiny k covers huge mass). When the corpus has fewer
    * than k types, the row reports the whole-vocabulary coverage with
    * `n_types` = V.
    *
    * Shape at scale: term counts are one map-side-combined aggregation;
    * the top-max(ks) selection is `TakeOrderedAndProject` (per-partition
    * heaps, never a global sort of the vocabulary); the ranking window
    * then runs over ≤ max(ks) rows — a bounded single partition by
    * construction, not a corpus-sized one.
    */
  def coverageCurve(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive, got $ks")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(Text.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val totals = broadcast(counts.agg(
      sum(col("cnt")).as("t_total"), count(lit(1)).as("v_types"))) // 1 row
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(ks.max)
    val w = Window.orderBy(col("cnt").desc, col("term")) // ≤ max(ks) rows
    val ranked = top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.crossJoin(totals)
      .join(broadcast(ks.toDF("k")), col("rank") === least(col("k"), col("v_types")))
      .select(col("k"), col("rank").as("n_types"),
        expr("cum * 1000000 DIV t_total").as("coverage_ppm"))
      .orderBy("k")
  }

  def chunkDocuments(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame =
    chunkCore(docs, chunkSize, overlap).orderBy("doc_id", "chunk_idx")

  /** Metadata-only chunk SCHEDULE: the (doc_id, chunk_idx, n_tokens) rows
    * of [[chunkDocuments]] derived from per-document token counts alone —
    * fixed-window chunk geometry is a pure function of the doc's token
    * count (same nchunks/per-chunk-size arithmetic as [[chunkCore]],
    * suite-asserted equal). A packing/manifest pipeline that already holds
    * an (id, n_tokens) table (the budget stage's own input) therefore
    * schedules chunks WITHOUT re-reading or re-tokenizing any text — at
    * corpus scale that removes a full text scan + tokenize pass from the
    * manifest (guide §8: decide with small rows). `counted` must carry
    * `doc_id` and `n_tokens` (the [[graft.functions.Text.tokens]] count of
    * the SAME text [[chunkDocuments]] would read).
    */
  def chunkSchedule(counted: DataFrame, chunkSize: Int = 64,
                    overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && chunkSize > overlap, "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    counted
      .select(col("doc_id"), col("n_tokens").cast("int").as("n"))
      .filter(col("n") > 0)
      .withColumn("nchunks",
        greatest(lit(1), ceil((col("n") - lit(overlap)).cast("double") / step).cast("int")))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkSize), col("n") - col("chunk_idx") * step).cast("int").as("n_tokens"))
  }

  /** Sort-free chunking core shared by [[chunkDocuments]], which sorts its
    * output, and [[reassembleChunks]], which needs no global sort.
    */
  private def chunkCore(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && chunkSize > overlap, "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      // smallest m with (m-1)*step + chunkSize >= n, at least 1
      .withColumn("nchunks",
        greatest(lit(1), ceil((col("n") - lit(overlap)).cast("double") / step).cast("int")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkSize), col("n") - col("chunk_idx") * step).cast("int").as("n_tokens"),
        array_join(slice(col("toks"), col("chunk_idx") * step + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }
}
