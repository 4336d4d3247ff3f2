package graft

/** DuckDB oracle SQL for [[ExtensionQueries]]. Same contract as [[OracleSql]].
  *
  * The MinHash/SimHash oracles recompute the *same* pipeline (same md5-derived
  * 60-bit hashes, same permutation constants, same banding), so candidate
  * generation and final output are bit-identical — the oracle validates the
  * cross-engine implementation, while exactness vs ground truth is covered by
  * the exact-Jaccard verification step inside the operator itself.
  *
  * TYPE DISCIPLINE (round-13 root cause of the six r12 hash-only reds):
  * every emitted integer column must be EXPLICITLY BIGINT. DuckDB's
  * SUM(BIGINT) returns HUGEINT (int128), and so does any arithmetic that
  * touches one (`x * 1000 // SUM(...)`, `nt - (SELECT SUM ...)`, a UNION
  * with one HUGEINT branch). Some DuckDB/pandas client versions render
  * HUGEINT as float ("476.0" vs "476"), which passes a value-equality
  * compare but fails the driver's stringify-then-hash compare — producing
  * exactly the rows-green/schema-green/hash-red signature CORRECTNESS_r12
  * showed on the only six queries whose final SELECT carried an un-cast
  * HUGEINT. tools/verify_local.py now fails any oracle emitting HUGEINT.
  */
object ExtensionOracleSql {

  /** DuckDB: 60-bit md5-derived hash (graft.functions.Hashing.hash60). */
  private def h60(e: String) = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Lowercased whitespace tokens. */
  private val toksOf = "list_filter(string_split(lower(text), ' '), t -> t <> '')"

  /** Word k-shingle list over a `toks` column. */
  private def shinglesOf(k: Int) =
    s"""CASE WHEN len(toks) >= $k
       | THEN list_transform(range(1, len(toks) - ${k - 2}),
       |        i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' '))
       | ELSE [] END""".stripMargin

  /** Shared CTE chain for the fuzzy-decontamination pair: mutated holdout
    * (~10% of token values rewritten, hash-selected), per-side shingle-hash
    * sets, MinHash signatures (64 perms), 32×2 banding, bipartite candidate
    * join, exact-Jaccard verification. Ends with CTE `j(doc_id, hold_id,
    * jaccard)` — consumers filter on the threshold.
    */
  private val fuzzyContaminationCtes: String =
    s"""WITH ho AS (
       |  SELECT doc_id AS hold_id,
       |    array_to_string(list_transform($toksOf,
       |      t -> CASE WHEN ${h60("t")} % 10 = 0 THEN 'xqz' ELSE t END), ' ') AS text
       |  FROM documents WHERE doc_id % 97 = 0),
       |tt AS (SELECT doc_id, $toksOf AS toks FROM documents),
       |ht AS (SELECT hold_id, $toksOf AS toks FROM ho),
       |tsh AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM tt),
       |hsh AS (SELECT hold_id, ${shinglesOf(3)} AS sh FROM ht),
       |ths AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
       |        FROM tsh WHERE len(sh) > 0),
       |hhs AS (SELECT hold_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
       |        FROM hsh WHERE len(sh) > 0),
       |tex AS (SELECT doc_id, unnest(hs) % 2147483647 AS hm FROM ths),
       |hex AS (SELECT hold_id, unnest(hs) % 2147483647 AS hm FROM hhs),
       |perms AS (SELECT unnest(range(0, 64)) AS i),
       |tmins AS (
       |  SELECT doc_id, i,
       |    MIN((CAST(1 + 7919 * i AS BIGINT) * hm + (104729 * i) % 2147483647) % 2147483647) AS m
       |  FROM tex CROSS JOIN perms GROUP BY doc_id, i),
       |hmins AS (
       |  SELECT hold_id, i,
       |    MIN((CAST(1 + 7919 * i AS BIGINT) * hm + (104729 * i) % 2147483647) % 2147483647) AS m
       |  FROM hex CROSS JOIN perms GROUP BY hold_id, i),
       |tbands AS (
       |  SELECT doc_id, i // 2 AS band_id, string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
       |  FROM tmins GROUP BY doc_id, i // 2),
       |hbands AS (
       |  SELECT hold_id, i // 2 AS band_id, string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
       |  FROM hmins GROUP BY hold_id, i // 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id, b.hold_id
       |  FROM tbands a JOIN hbands b ON a.band_id = b.band_id AND a.sig = b.sig),
       |j AS (
       |  SELECT cand.doc_id, cand.hold_id,
       |    round(CAST(len(list_intersect(ta.hs, hb.hs)) AS DOUBLE) /
       |          (len(ta.hs) + len(hb.hs) - len(list_intersect(ta.hs, hb.hs))), 6) AS jaccard
       |  FROM cand
       |  JOIN ths ta ON ta.doc_id = cand.doc_id
       |  JOIN hhs hb ON hb.hold_id = cand.hold_id)""".stripMargin

  /** Shared CTE chain for the semantic-decontamination pair: perturbed
    * holdout (every 41st vector, one vec_id-selected dimension zeroed),
    * 16-bit hyperplane signatures per side, bipartite 4×4-bit chunk join,
    * exact-cosine verification. Ends with CTE `j(vec_id, hold_id, sim)` —
    * consumers filter on the threshold.
    */
  private lazy val semanticContaminationCtes: String =
    s"""WITH ho AS (
       |  SELECT vec_id AS hold_id,
       |    list_concat(list_concat(
       |      list_slice(embedding, 1, k - 1),
       |      [CAST(0.0 AS FLOAT)]),
       |      list_slice(embedding, k + 1, len(embedding))) AS embedding
       |  FROM (SELECT vec_id, embedding,
       |          CAST(vec_id % len(embedding) AS INT) + 1 AS k
       |        FROM embeddings WHERE vec_id % 41 = 0)),
       |v AS (
       |  SELECT vec_id, embedding,
       |    ${(0 until 4).map(c => (4 * c until 4 * c + 4).map(bitExpr).mkString("(", " + ", s") AS chunk$c")).mkString(",\n    ")},
       |    ${nrm("embedding")} AS nrm
       |  FROM embeddings),
       |hv AS (
       |  SELECT hold_id, embedding,
       |    ${(0 until 4).map(c => (4 * c until 4 * c + 4).map(bitExpr).mkString("(", " + ", s") AS chunk$c")).mkString(",\n    ")},
       |    ${nrm("embedding")} AS nrm
       |  FROM ho),
       |ch AS (
       |  SELECT vec_id, c AS chunk_id,
       |    CASE c WHEN 0 THEN chunk0 WHEN 1 THEN chunk1 WHEN 2 THEN chunk2 ELSE chunk3 END AS chunk_val
       |  FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
       |hch AS (
       |  SELECT hold_id, c AS chunk_id,
       |    CASE c WHEN 0 THEN chunk0 WHEN 1 THEN chunk1 WHEN 2 THEN chunk2 ELSE chunk3 END AS chunk_val
       |  FROM hv CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id, b.hold_id
       |  FROM ch a JOIN hch b ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val),
       |j AS (
       |  SELECT cand.vec_id, cand.hold_id,
       |    round(${dot("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm), 6) AS sim
       |  FROM cand JOIN v va ON va.vec_id = cand.vec_id
       |            JOIN hv vb ON vb.hold_id = cand.hold_id)""".stripMargin

  /** The chained BPE merge-round CTEs (in lock-step with
    * graft.operators.TextAnalysis.bpeTrain): word-type table, per-round
    * adjacent-pair counts, top-pair pick, greedy left-to-right merge via
    * list_reduce's first-element-seeded fold. The merge join is a LEFT
    * JOIN ON TRUE, not a CROSS JOIN: when a round's top-pair pick t\$r is
    * EMPTY (the corpus supports fewer than nMerges merges), the NULL
    * sym_a/sym_b make every merge condition false and w\$r passes through
    * w\$(r-1) unchanged — exactly the Spark side's early-stop, which keeps
    * encoding with the last non-empty type table.
    */
  private def bpeCtes(nMerges: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT word, cnt, list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
         |  FROM (SELECT t AS word, COUNT(*) AS cnt
         |        FROM (SELECT unnest($toksOf) AS t FROM documents) GROUP BY t))""".stripMargin
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS (
         |  SELECT syms[i] AS sym_a, syms[i + 1] AS sym_b, SUM(cnt) AS freq
         |  FROM w${r - 1}, unnest(range(1, len(syms))) AS u(i)
         |  GROUP BY syms[i], syms[i + 1]),
         |t$r AS (SELECT sym_a, sym_b, freq FROM p$r
         |        ORDER BY freq DESC, sym_a, sym_b LIMIT 1),
         |w$r AS (
         |  SELECT word, cnt, string_split(list_reduce(syms, (acc, x) -> CASE
         |      WHEN (acc = t.sym_a OR right(acc, len(t.sym_a) + 1) = ' ' || t.sym_a)
         |           AND x = t.sym_b
         |      THEN left(acc, len(acc) - len(t.sym_a)) || t.sym_a || t.sym_b
         |      ELSE acc || ' ' || x END), ' ') AS syms
         |  FROM w${r - 1} LEFT JOIN t$r t ON TRUE)""".stripMargin
    }
    (w0 +: rounds).mkString("WITH ", ",\n", "")
  }

  /** Shared NB-classifier CTE chain (multinomial Naive Bayes on the corpus's
    * own labels — in lock-step with graft.operators.TextAnalysis
    * .naiveBayesLang; the ORACLE may materialize the dense V×C grid the
    * Spark side deliberately sparsifies — identical numbers): ends with
    * CTEs `best(doc_id, pred_lang, score)` and `pb(pb_lang, pb_score)`
    * (the prior-only fallback for token-less docs). Shared by
    * text_classifier_nb and text_mislabel_rate.
    */
  private lazy val nbCtes: String =
    s"""WITH tok AS (SELECT doc_id, unnest($toksOf) AS term FROM documents),
       |cls AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |tot AS (SELECT SUM(n_docs) AS nd FROM cls),
       |tl AS (SELECT d.lang, unnest($toksOf) AS term FROM documents d),
       |tc AS (SELECT lang, term, COUNT(*) AS ctc FROM tl GROUP BY lang, term),
       |ct AS (SELECT lang, SUM(ctc) AS ctot FROM tc GROUP BY lang),
       |vb AS (SELECT DISTINCT term FROM tc),
       |vs AS (SELECT COUNT(*) AS v FROM vb),
       |grid AS (
       |  SELECT vb.term, c.lang,
       |    CAST(round(ln((COALESCE(tc.ctc, 0) + 1) /
       |      CAST(ct.ctot + vs.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ll
       |  FROM vb CROSS JOIN cls c
       |  LEFT JOIN tc ON tc.lang = c.lang AND tc.term = vb.term
       |  JOIN ct ON ct.lang = c.lang CROSS JOIN vs),
       |pri AS (SELECT lang,
       |          CAST(round(ln(n_docs / CAST(nd AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior_ll
       |        FROM cls CROSS JOIN tot),
       |dc AS (SELECT tok.doc_id, grid.lang, SUM(grid.ll) AS tok_ll
       |       FROM tok JOIN grid USING (term) GROUP BY tok.doc_id, grid.lang),
       |sc AS (SELECT dc.doc_id, dc.lang, dc.tok_ll + pri.prior_ll AS score
       |       FROM dc JOIN pri USING (lang)),
       |best AS (SELECT doc_id, lang AS pred_lang, score FROM (
       |    SELECT doc_id, lang, score,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
       |    FROM sc) WHERE rn = 1),
       |pb AS (SELECT lang AS pb_lang, prior_ll AS pb_score FROM pri
       |       ORDER BY prior_ll DESC, lang LIMIT 1)""".stripMargin

  /** Composite-quality score in integer micro-units over `documents` — in
    * lock-step with graft.operators.TextAnalysis.qualityScore composed with
    * round(·×1e6) (exact: the round-6 double times 1e6 sits within 2⁻⁴⁰ of
    * an integer). Ends with CTE `q(doc_id, q_u, n_tokens)`. CTE names are
    * prefixed `q` to compose with the MinHash chain without collisions.
    */
  private lazy val qualityQuCtes: String =
    s"""qt AS (SELECT doc_id, $toksOf AS toks FROM documents),
       |qs AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    len(list_filter(toks, x -> list_contains(
       |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop
       |  FROM qt),
       |q AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(round((CASE WHEN n_tokens > 0 THEN round(
       |      least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
       |      (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6)
       |      ELSE 0.0 END) * 1000000) AS BIGINT) AS q_u
       |  FROM qs)""".stripMargin

  /** Lee-et-al exact-substring decontamination (TRUE-run semantics: exact
    * string matches, runs stitch along each (hold_id, pos − hpos) diagonal,
    * n_spans counts maximal runs per counterpart, n_hit_ngrams distinct
    * matched positions) — shared verbatim by decontaminate_exact and
    * decontaminate_stored (the stored-registry path must be bit-identical).
    */
  private lazy val decontaminateExactSql: String =
    s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
       |ht AS (SELECT doc_id AS hold_id, list_slice(toks, 6, 26) AS toks
       |       FROM t WHERE doc_id % 97 = 0),
       |hsh AS (SELECT hold_id, ${shinglesOf(13)} AS sh FROM ht),
       |hx AS (SELECT hold_id, generate_subscripts(sh, 1) - 1 AS hpos, unnest(sh) AS hg
       |       FROM hsh WHERE len(sh) > 0),
       |ts AS (SELECT doc_id, ${shinglesOf(13)} AS sh FROM t),
       |ex0 AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS g
       |        FROM ts WHERE len(sh) > 0),
       |m AS (SELECT DISTINCT e.doc_id, e.pos, hx.hold_id, hx.hpos
       |      FROM ex0 e JOIN hx ON e.g = hx.hg),
       |r AS (SELECT doc_id, pos, hold_id, pos - hpos AS diag,
       |        pos - row_number() OVER (
       |          PARTITION BY doc_id, hold_id, pos - hpos ORDER BY pos) AS grp
       |      FROM m),
       |runs AS (SELECT doc_id, hold_id, diag, grp, COUNT(*) AS run
       |         FROM r GROUP BY doc_id, hold_id, diag, grp),
       |spans AS (SELECT doc_id, COUNT(*) AS n_spans, MAX(run) + 12 AS longest
       |          FROM runs GROUP BY doc_id),
       |hits AS (SELECT doc_id, COUNT(DISTINCT pos) AS n_hits FROM m GROUP BY doc_id)
       |SELECT hits.doc_id, CAST(n_hits AS BIGINT) AS n_hit_ngrams,
       |  CAST(n_spans AS BIGINT) AS n_spans,
       |  CAST(longest AS BIGINT) AS longest_span
       |FROM hits JOIN spans USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The full-corpus MinHash-LSH pair pipeline (64 perms, 16 bands of 4),
    * ending at CTE `j(doc_a, doc_b, jaccard)` with doc_a < doc_b — shared
    * by dedup_minhash_lsh and dedup_incremental (which keeps only cross
    * new×stored pairs). In lock-step with graft.operators.Dedup's
    * bandedSignatures/shingleSets helpers.
    */
  private lazy val minhashPairsCtes: String =
    s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
       |shl AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
       |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
       |       FROM shl WHERE len(sh) > 0),
       |ex AS (SELECT doc_id, unnest(hs) % 2147483647 AS hm FROM hs),
       |perms AS (SELECT unnest(range(0, 64)) AS i),
       |mins AS (
       |  SELECT doc_id, i,
       |    MIN((CAST(1 + 7919 * i AS BIGINT) * hm + (104729 * i) % 2147483647) % 2147483647) AS m
       |  FROM ex CROSS JOIN perms GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band_id, string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
       |  FROM mins GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
       |          (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))), 6) AS jaccard
       |  FROM cand
       |  JOIN hs ha ON ha.doc_id = doc_a
       |  JOIN hs hb ON hb.doc_id = doc_b)""".stripMargin

  /** BPE encode over the round-10 type table — shared verbatim by
    * vocab_bpe_encode and vocab_bpe_encode_stored (the stored path must be
    * bit-identical to the one-shot path).
    */
  private lazy val bpeEncodeSql: String =
    s"""${bpeCtes(10)},
       |tok AS (SELECT doc_id, unnest($toksOf) AS t FROM documents)
       |SELECT tok.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(len(w.syms)) AS BIGINT) AS n_symbols,
       |  CAST(CASE WHEN SUM(len(w.word)) > 0
       |    THEN floor(CAST(SUM(len(w.syms)) * 1000 AS DOUBLE) /
       |               CAST(SUM(len(w.word)) AS DOUBLE))
       |    ELSE 0 END AS BIGINT) AS symbols_per_1000_chars
       |FROM tok JOIN w10 w ON tok.t = w.word
       |GROUP BY tok.doc_id
       |ORDER BY tok.doc_id""".stripMargin

  /** Shared langid CTE chain (in lock-step with
    * graft.operators.TextAnalysis.langId and graft.functions.Text
    * .stopwordProfiles): per-doc stopword-profile scores, argmax ties to
    * the lexicographically smallest language, token-less/profile-less docs
    * predict 'und'. Ends with CTE
    * `pred(doc_id, pred_lang, score, actual_lang)`.
    */
  private lazy val langidCtes: String =
    s"""WITH prof(lang, word) AS (VALUES
       |  ('en','the'),('en','a'),('en','and'),('en','of'),('en','to'),('en','in'),('en','is'),('en','for'),('en','on'),('en','with'),
       |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','nicht'),('de','mit'),('de','ein'),('de','zu'),('de','von'),
       |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','des'),('fr','un'),('fr','une'),('fr','du'),('fr','est'),('fr','dans'),
       |  ('es','el'),('es','los'),('es','las'),('es','de'),('es','y'),('es','en'),('es','que'),('es','un'),('es','es'),('es','por'),
       |  ('zh','的'),('zh','是'),('zh','在'),('zh','了'),('zh','和'),('zh','有'),('zh','我'),('zh','不'),('zh','人'),('zh','这')),
       |toks AS (SELECT doc_id, unnest($toksOf) AS t FROM documents),
       |lscores AS (
       |  SELECT doc_id, lang, COUNT(*) AS score
       |  FROM toks JOIN prof ON t = word GROUP BY doc_id, lang),
       |best AS (
       |  SELECT doc_id, lang AS pred_lang, score FROM lscores
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1),
       |pred AS (
       |  SELECT d.doc_id, COALESCE(b.pred_lang, 'und') AS pred_lang,
       |         COALESCE(b.score, 0) AS score, d.lang AS actual_lang
       |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id)""".stripMargin

  /** Shared CTE chain for the perceptual-hash family (in lock-step with
    * graft.operators.Multimodal.imagePhash): closed-form 8×8 pixel grid
    * (seed-mixed mod-prime channels, planted dup/near-dup seeds, the white
    * (0,0) perturbation), integer ITU-R 601 luminance, exact integer mean
    * test, 64-bit hash assembled with bit_or. Ends with CTE
    * `h(doc_id, phash)`. All arithmetic stays far inside BIGINT range —
    * DuckDB errors on overflow rather than wrapping, so the formula was
    * chosen to never overflow (prime modulus 16777213 < 2^24).
    */
  private val phashCtes: String =
    """WITH g AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 10 = 0 THEN d.doc_id + 5 ELSE d.doc_id END AS seed,
      |    xs.x, ys.y
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS x) xs
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
      |hv0 AS (
      |  SELECT doc_id, x, y, y * 8 + x AS i,
      |    ((seed * 64 + y * 8 + x + 1) % 16777213) AS v
      |  FROM g),
      |hv AS (SELECT doc_id, x, y, i, (v * v + v * 7919) % 16777213 AS hv FROM hv0),
      |px AS (
      |  SELECT doc_id, i,
      |    CASE WHEN doc_id % 20 = 0 AND x = 0 AND y = 0 THEN 255 ELSE hv % 256 END AS r,
      |    CASE WHEN doc_id % 20 = 0 AND x = 0 AND y = 0 THEN 255 ELSE (hv // 256) % 256 END AS cg,
      |    CASE WHEN doc_id % 20 = 0 AND x = 0 AND y = 0 THEN 255 ELSE (hv // 65536) % 256 END AS cb
      |  FROM hv),
      |lu AS (SELECT doc_id, i, (299 * r + 587 * cg + 114 * cb) // 1000 AS lum FROM px),
      |tot AS (SELECT doc_id, SUM(lum) AS s FROM lu GROUP BY doc_id),
      |h AS (
      |  SELECT lu.doc_id,
      |    bit_or(CASE WHEN lu.lum * 64 > t.s THEN
      |      CASE WHEN lu.i = 63 THEN (-9223372036854775807 - 1)
      |           ELSE (1::BIGINT << CAST(lu.i AS INT)) END
      |      ELSE 0 END) AS phash
      |  FROM lu JOIN tot t USING (doc_id) GROUP BY lu.doc_id)""".stripMargin

  private def dot(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def nrm(a: String) = s"sqrt(${dot(a, a)})"
  private def cos(a: String, b: String) = s"(${dot(a, b)} / (${nrm(a)} * ${nrm(b)}))"

  /** ±1 hyperplane literal for plane i as a DuckDB double list (must stay in
    * lock-step with graft.operators.Similarity.hyperplaneSign).
    */
  private def signList(i: Int): String =
    (0 until 64).map(d =>
      if (graft.operators.Similarity.hyperplaneSign(i, d) > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** Projection-sign bit for plane i, weighted by its in-chunk position. */
  private def bitExpr(i: Int): String =
    s"(CASE WHEN list_sum(list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * (${signList(i)})[d])) > 0 THEN 1 ELSE 0 END * ${1 << (i % 4)})"

  /** One deterministic Lloyd round: assign to nearest cent${n-1} (cosine,
    * rounded to 6, ties to lower id), then recompute means with exact
    * integer-quantized sums — in lock-step with the training kernel
    * graft.operators.Similarity.lloydFrame over whole vectors.
    */
  private def lloydIterCte(n: Int, src: String = "embeddings"): String =
    s"""asg$n AS (
       |  SELECT vec_id, embedding, centroid_id FROM (
       |    SELECT e.vec_id, e.embedding, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cos("e.embedding", "c.cvec")}, 6) DESC, c.centroid_id) AS rn
       |    FROM $src e CROSS JOIN cent${n - 1} c) WHERE rn = 1),
       |cent$n AS (
       |  SELECT centroid_id, list(cval ORDER BY idx) AS cvec FROM (
       |    SELECT centroid_id, idx, CAST(SUM(q) AS DOUBLE) / (1e9 * COUNT(*)) AS cval
       |    FROM (SELECT centroid_id, generate_subscripts(embedding, 1) AS idx,
       |            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e9) AS BIGINT) AS q
       |          FROM asg$n)
       |    GROUP BY centroid_id, idx) GROUP BY centroid_id)""".stripMargin

  /** Parameterized Lloyd-build CTE prefix: `iters` deterministic rounds
    * (nlist=4) plus the per-vector nearest-centroid assignment `best`.
    */
  private def lloydBestCtesN(iters: Int): String =
    s"""WITH cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 4),
       |${(1 to iters).map(n => lloydIterCte(n)).mkString(",\n")},
       |cent AS (SELECT * FROM cent$iters),
       |asn AS (
       |  SELECT e.vec_id, c.centroid_id,
       |    round(${cos("e.embedding", "c.cvec")}, 6) AS csim
       |  FROM embeddings e CROSS JOIN cent c),
       |best AS (
       |  SELECT vec_id, centroid_id FROM asn
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) = 1)""".stripMargin

  /** The canonical iters=4 chain — the index the IVF searches and
    * `dedup_semantic` are defined over.
    */
  private val lloydBestCtes: String = lloydBestCtesN(4)

  /** Per-subspace PQ Lloyd chain (in lock-step with the training kernel
    * graft.operators.Similarity.lloydFrame over the m slices): sub-sliced
    * vectors, seedless init from vec_id < k, `iters` assign/recompute rounds
    * with the same integer-quantized exact means as [[lloydIterCte]].
    */
  private def pqSubCtes(s: Int, sub: Int, k: Int, iters: Int): String = {
    val lo = s * sub + 1
    val hi = (s + 1) * sub
    // Norms are precomputed ONCE per vector (sn) and per centroid (the n2c
    // column of each c CTE) instead of recomputed inside every cosine: the
    // assign windows run over |corpus|×k rows and the inline-nrm form made
    // the sf0.1 oracle pathological (3 list-lambda dots per row × 24 assign
    // CTEs). dot/(sqrt(n2v)·sqrt(n2c)) is the IDENTICAL IEEE sequence to
    // the cos() macro — same doubles, same round-6 — just evaluated once.
    val head =
      s"""se$s AS (SELECT vec_id, embedding[$lo:$hi] AS sv FROM embeddings),
         |sn$s AS (SELECT vec_id, sv, ${dot("sv", "sv")} AS n2v FROM se$s)""".stripMargin
    val init =
      s"c${s}_0 AS (SELECT vec_id AS cid, sv AS cvec, n2v AS n2c FROM sn$s WHERE vec_id < $k)"
    val rounds = (1 to iters).map { n =>
      s"""a${s}_$n AS (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT e.vec_id, e.sv, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${dot("e.sv", "c.cvec")} / (sqrt(e.n2v) * sqrt(c.n2c)), 6)
         |          DESC, c.cid) AS rn
         |    FROM sn$s e CROSS JOIN c${s}_${n - 1} c) WHERE rn = 1),
         |c${s}_$n AS (
         |  SELECT cid, cvec, ${dot("cvec", "cvec")} AS n2c FROM (
         |    SELECT cid, list(cval ORDER BY idx) AS cvec FROM (
         |      SELECT cid, idx, CAST(SUM(q) AS DOUBLE) / (1e9 * COUNT(*)) AS cval
         |      FROM (SELECT cid, generate_subscripts(sv, 1) AS idx,
         |              CAST(floor(CAST(unnest(sv) AS DOUBLE) * 1e9) AS BIGINT) AS q
         |            FROM a${s}_$n)
         |      GROUP BY cid, idx) GROUP BY cid))""".stripMargin
    }
    (head +: init +: rounds).mkString(",\n")
  }

  /** Final per-subspace PQ assignment with the dot/norm components the
    * reconstruction cosine needs (graft.operators.Similarity.pqEncode).
    */
  private def pqEncCte(s: Int, iters: Int): String =
    s"""enc$s AS (
       |  SELECT vec_id, cid, d, n2c, n2x FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${dot("e.sv", "c.cvec")} AS d,
       |      c.n2c AS n2c,
       |      e.n2v AS n2x,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dot("e.sv", "c.cvec")} / (sqrt(e.n2v) * sqrt(c.n2c)), 6)
       |          DESC, c.cid) AS rn
       |    FROM sn$s e CROSS JOIN c${s}_$iters c) WHERE rn = 1)""".stripMargin

  /** Like [[pqEncCte]] but carrying the PROBE-side components for ADC
    * search (graft.operators.Similarity.pqTopK): probe×sub-centroid dot
    * (dp), probe×vector dot (dx), and both per-subspace norms. The final
    * SELECT touches ONLY these encp columns — referencing probe.pv's
    * full-vector list inside the final join made DuckDB's evaluation
    * pathological (minutes at 500 rows); per-subspace dots over the
    * materialized slices are the fast shape, and the Spark expression sums
    * the same per-subspace groupings so the IEEE sequences stay identical.
    */
  private def pqEncProbeCte(s: Int, sub: Int, iters: Int): String = {
    val lo = s * sub + 1
    val hi = (s + 1) * sub
    s"""pr$s AS (SELECT pv[$lo:$hi] AS psv FROM probe),
       |encp$s AS (
       |  SELECT vec_id, dp, n2c, dx, n2x, n2p FROM (
       |    SELECT e.vec_id,
       |      ${dot("p.psv", "c.cvec")} AS dp,
       |      c.n2c AS n2c,
       |      ${dot("e.sv", "p.psv")} AS dx,
       |      e.n2v AS n2x,
       |      ${dot("p.psv", "p.psv")} AS n2p,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dot("e.sv", "c.cvec")} / (sqrt(e.n2v) * sqrt(c.n2c)), 6)
       |          DESC, c.cid) AS rn
       |    FROM sn$s e CROSS JOIN c${s}_$iters c CROSS JOIN pr$s p) WHERE rn = 1)""".stripMargin
  }

  // canonical PQ sizing (must match ExtensionQueries' simsearch_pq*): 8
  // subspaces of 8 dims, 8 sub-centroids, 2 Lloyd rounds
  private val pqM = 8
  private val pqSub = 8
  private val pqK = 8
  private val pqIters = 2

  private val pqAllSubCtes: String =
    (0 until pqM).map(s => pqSubCtes(s, sub = pqSub, k = pqK, iters = pqIters))
      .mkString(",\n")

  /** The IVF search result with the canonical build parameters — shared by
    * `simsearch_ivf` (build + search in one query) and `simsearch_ivf_search`
    * (search over the STORED index): both must produce this exact result.
    */
  private val simsearchIvfSql: String =
    s"""$lloydBestCtes,
       |probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
       |pb AS (
       |  SELECT centroid_id FROM (
       |    SELECT c.centroid_id, round(${cos("c.cvec", "p.pv")}, 6) AS csim
       |    FROM cent c CROSS JOIN probe p)
       |  QUALIFY row_number() OVER (ORDER BY csim DESC, centroid_id) <= 3)
       |SELECT e.vec_id, round(${cos("e.embedding", "p.pv")}, 6) AS sim
       |FROM best
       |JOIN embeddings e ON e.vec_id = best.vec_id
       |JOIN pb ON pb.centroid_id = best.centroid_id
       |CROSS JOIN probe p
       |WHERE e.vec_id <> 0
       |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin

  /** Product-Quantization encode report: per-subspace Lloyd codebooks,
    * per-vector code + reconstruction cosine from the chosen sub-centroids'
    * dot/norm components combined in the same fixed left-to-right tree as
    * the Spark expression — in lock-step with
    * graft.operators.Similarity.pqEncode. Shared verbatim by simsearch_pq
    * and simsearch_pq_stored (the stored path must be bit-identical).
    */
  private lazy val simsearchPqSql: String =
    s"""WITH $pqAllSubCtes,
         |${(0 until pqM).map(s => pqEncCte(s, iters = pqIters)).mkString(",\n")}
         |SELECT e0.vec_id,
         |  ${(0 until pqM).map(s => s"CAST(e$s.cid AS VARCHAR)").mkString(" || '|' || ")} AS code,
         |  round((${(0 until pqM).map(s => s"e$s.d").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"e$s.n2x").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"e$s.n2c").mkString(" + ")})), 6) AS recon_cos
         |FROM enc0 e0
         |${(1 until pqM).map(s => s"JOIN enc$s e$s USING (vec_id)").mkString("\n")}
         |ORDER BY e0.vec_id""".stripMargin

  val all: Map[String, String] = Map(
    "simsearch_pq" -> simsearchPqSql,
    "simsearch_pq_stored" -> simsearchPqSql,

    // PQ asymmetric-distance (ADC) top-5: exact probe vs PQ-coded corpus,
    // exact cosine riding along as the ADC-error report — in lock-step with
    // graft.operators.Similarity.pqTopK
    "simsearch_pq_topk" ->
      s"""WITH $pqAllSubCtes,
         |probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |${(0 until pqM).map(s => pqEncProbeCte(s, sub = pqSub, iters = pqIters)).mkString(",\n")}
         |SELECT p0.vec_id,
         |  round((${(0 until pqM).map(s => s"p$s.dp").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"p$s.n2p").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"p$s.n2c").mkString(" + ")})), 6) AS approx_sim,
         |  round((${(0 until pqM).map(s => s"p$s.dx").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"p$s.n2x").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"p$s.n2p").mkString(" + ")})), 6) AS exact_sim
         |FROM encp0 p0
         |${(1 until pqM).map(s => s"JOIN encp$s p$s ON p$s.vec_id = p0.vec_id").mkString("\n")}
         |WHERE p0.vec_id <> 0
         |ORDER BY approx_sim DESC, p0.vec_id LIMIT 5""".stripMargin,

    "simsearch_ivf" -> simsearchIvfSql,
    "simsearch_ivf_search" -> simsearchIvfSql,

    // in lock-step with graft.operators.Similarity.ivfRecallReport — brute
    // vs IVF top-5 overlap per probe over the canonical iters=4 index; both
    // top-k orders are strict (round-6 sim DESC, vec_id), so the sets and
    // the recall are exact cross-engine
    "simsearch_recall" ->
      s"""$lloydBestCtes,
         |pr AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
         |       WHERE vec_id % 83 = 0),
         |pbk AS (
         |  SELECT probe_id, centroid_id FROM (
         |    SELECT p.probe_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY round(${cos("c.cvec", "p.pv")}, 6) DESC, c.centroid_id) AS rk
         |    FROM cent c CROSS JOIN pr p) WHERE rk <= 3),
         |ivfc AS (
         |  SELECT k.probe_id, b.vec_id, round(${cos("e.embedding", "p.pv")}, 6) AS sim
         |  FROM best b
         |  JOIN pbk k USING (centroid_id)
         |  JOIN embeddings e ON e.vec_id = b.vec_id
         |  JOIN pr p ON p.probe_id = k.probe_id
         |  WHERE b.vec_id <> k.probe_id),
         |ivftop AS (
         |  SELECT probe_id, vec_id FROM ivfc
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) <= 5),
         |br AS (
         |  SELECT p.probe_id, e.vec_id, round(${cos("e.embedding", "p.pv")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN pr p WHERE e.vec_id <> p.probe_id),
         |brtop AS (
         |  SELECT probe_id, vec_id FROM br
         |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) <= 5),
         |ov AS (SELECT probe_id, COUNT(*) AS n_overlap FROM ivftop
         |       JOIN brtop USING (probe_id, vec_id) GROUP BY probe_id),
         |tt AS (SELECT probe_id, COUNT(*) AS n_true FROM brtop GROUP BY probe_id)
         |SELECT tt.probe_id, tt.n_true, COALESCE(ov.n_overlap, 0) AS n_overlap,
         |  COALESCE(ov.n_overlap, 0) * 1000 // tt.n_true AS recall_permille
         |FROM tt LEFT JOIN ov USING (probe_id)
         |ORDER BY probe_id""".stripMargin,

    // symmetric int8 top-5: per-vector round-half-up quantization, cosine of
    // the quantized vectors (scales cancel; integer products exact), exact
    // cosine riding as the error report — in lock-step with
    // graft.operators.Similarity.int8TopK
    "simsearch_int8_topk" ->
      s"""WITH qv AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, v -> floor(CAST(v AS DOUBLE) *
         |      (127.0 / list_max(list_transform(embedding, w -> abs(CAST(w AS DOUBLE))))) + 0.5)) AS qc
         |  FROM embeddings
         |  WHERE list_max(list_transform(embedding, w -> abs(CAST(w AS DOUBLE)))) > 0),
         |probe AS (SELECT embedding AS pv, qc AS qp FROM qv WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  round(${dot("e.qc", "p.qp")} /
         |        (sqrt(${dot("e.qc", "e.qc")}) * sqrt(${dot("p.qp", "p.qp")})), 6) AS approx_sim,
         |  round(${cos("e.embedding", "p.pv")}, 6) AS exact_sim
         |FROM qv e CROSS JOIN probe p
         |WHERE e.vec_id <> 0
         |ORDER BY approx_sim DESC, e.vec_id LIMIT 5""".stripMargin,

    // IVFADC (IVF bucket prune × PQ asymmetric distance) — composition of a
    // Lloyd IVF index (nlist=4, iters=2 — the one-shot query trains BOTH
    // quantizers jointly at equal round counts) and the canonical PQ
    // codebooks (m=8, k=8, iters=2): ADC scores restricted to vectors whose
    // nearest centroid is among the probe's top-3 buckets — in lock-step
    // with graft.operators.Similarity.ivfPqTopK
    "simsearch_ivfpq" ->
      s"""${lloydBestCtesN(2)},
         |$pqAllSubCtes,
         |probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |pb AS (
         |  SELECT centroid_id FROM (
         |    SELECT c.centroid_id, round(${cos("c.cvec", "p.pv")}, 6) AS csim
         |    FROM cent c CROSS JOIN probe p)
         |  QUALIFY row_number() OVER (ORDER BY csim DESC, centroid_id) <= 3),
         |${(0 until pqM).map(s => pqEncProbeCte(s, sub = pqSub, iters = pqIters)).mkString(",\n")}
         |SELECT p0.vec_id,
         |  round((${(0 until pqM).map(s => s"p$s.dp").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"p$s.n2p").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"p$s.n2c").mkString(" + ")})), 6) AS approx_sim,
         |  round((${(0 until pqM).map(s => s"p$s.dx").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"p$s.n2x").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"p$s.n2p").mkString(" + ")})), 6) AS exact_sim
         |FROM encp0 p0
         |${(1 until pqM).map(s => s"JOIN encp$s p$s ON p$s.vec_id = p0.vec_id").mkString("\n")}
         |JOIN best b ON b.vec_id = p0.vec_id
         |JOIN pb ON pb.centroid_id = b.centroid_id
         |WHERE p0.vec_id <> 0
         |ORDER BY approx_sim DESC, p0.vec_id LIMIT 5""".stripMargin,

    // the stored-serving sibling: identical bucket prune and ADC ranking,
    // but the result carries ONLY (vec_id, approx_sim) — the serving plan
    // never reads corpus floats, so there is no exact_sim to report. The
    // stored code is the same argmin the encp CTEs derive, so approx_sim is
    // bit-identical to simsearch_ivfpq's — in lock-step with
    // graft.operators.Similarity.ivfPqSearchStored
    "simsearch_ivfpq_stored" ->
      s"""$lloydBestCtes,
         |$pqAllSubCtes,
         |probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
         |pb AS (
         |  SELECT centroid_id FROM (
         |    SELECT c.centroid_id, round(${cos("c.cvec", "p.pv")}, 6) AS csim
         |    FROM cent c CROSS JOIN probe p)
         |  QUALIFY row_number() OVER (ORDER BY csim DESC, centroid_id) <= 3),
         |${(0 until pqM).map(s => pqEncProbeCte(s, sub = pqSub, iters = pqIters)).mkString(",\n")}
         |SELECT p0.vec_id,
         |  round((${(0 until pqM).map(s => s"p$s.dp").mkString(" + ")}) /
         |        (sqrt(${(0 until pqM).map(s => s"p$s.n2p").mkString(" + ")}) *
         |         sqrt(${(0 until pqM).map(s => s"p$s.n2c").mkString(" + ")})), 6) AS approx_sim
         |FROM encp0 p0
         |${(1 until pqM).map(s => s"JOIN encp$s p$s ON p$s.vec_id = p0.vec_id").mkString("\n")}
         |JOIN best b ON b.vec_id = p0.vec_id
         |JOIN pb ON pb.centroid_id = b.centroid_id
         |WHERE p0.vec_id <> 0
         |ORDER BY approx_sim DESC, p0.vec_id LIMIT 5""".stripMargin,

    // SemDeDup over the canonical Lloyd index: within-cluster pairs only,
    // drop any vector dominated (cosine >= 0.45) by a lower id in its
    // cluster — in lock-step with graft.operators.Similarity.semanticDedup.
    "dedup_semantic" ->
      s"""$lloydBestCtes,
         |v AS (
         |  SELECT b.vec_id, b.centroid_id, e.embedding
         |  FROM best b JOIN embeddings e ON e.vec_id = b.vec_id),
         |p AS (
         |  SELECT a.vec_id AS vec_a, w.vec_id AS vec_b,
         |    round(${cos("a.embedding", "w.embedding")}, 6) AS sim
         |  FROM v a JOIN v w
         |    ON a.centroid_id = w.centroid_id AND a.vec_id < w.vec_id),
         |dom AS (SELECT DISTINCT vec_b FROM p WHERE sim >= 0.45)
         |SELECT v.vec_id, v.centroid_id FROM v
         |WHERE v.vec_id NOT IN (SELECT vec_b FROM dom)
         |ORDER BY v.vec_id""".stripMargin,

    "multimodal_imageio" ->
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h FROM documents),
         |px AS (
         |  SELECT doc_id, w, h, gx.x, gy.y
         |  FROM d
         |  CROSS JOIN range(0, 16) AS gx(x)
         |  CROSS JOIN range(0, 13) AS gy(y)
         |  WHERE gx.x < w AND gy.y < h)
         |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST(SUM((doc_id + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((doc_id*3 + x*11 + y) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((doc_id*5 + x + y*17) % 256) AS BIGINT) AS sum_b
         |FROM px GROUP BY doc_id, w, h
         |ORDER BY doc_id""".stripMargin,

    "sample_shuffle" ->
      s"""SELECT doc_id, source,
         |  ${h60("'shuffle:42:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
         |FROM documents
         |ORDER BY shuffle_key, doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,

    "dedup_normalized" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    ${h60("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")} AS norm_hash
         |  FROM documents)
         |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count, norm_hash
         |FROM n GROUP BY norm_hash ORDER BY canonical_id""".stripMargin,

    "dedup_edit_distance" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
         |  FROM documents),
         |p AS (SELECT doc_id, len(t) AS l, substr(t, 1, 32) AS pre FROM n),
         |c AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
         |  FROM p a JOIN p b ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 16)
         |SELECT doc_a, doc_b, dist FROM c WHERE dist <= 8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesOf(5)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, x -> ${h60("x")})) AS hs
         |       FROM s WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         |hold AS (SELECT DISTINCT h FROM ex WHERE doc_id % 97 = 0)
         |SELECT e.doc_id, COUNT(*) AS n_hits
         |FROM ex e JOIN hold ON e.h = hold.h
         |WHERE e.doc_id % 97 <> 0
         |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    "contamination_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesOf(5)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, x -> ${h60("x")})) AS hs
         |       FROM s WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         |hold AS (SELECT DISTINCT h FROM ex WHERE doc_id % 97 = 0)
         |SELECT e.doc_id, COUNT(*) AS n_shingles,
         |  CAST(COUNT(hold.h) AS BIGINT) AS n_hits,
         |  CAST(floor(COUNT(hold.h) * 1000.0 / COUNT(*)) AS INT) AS overlap_permille
         |FROM ex e LEFT JOIN hold ON e.h = hold.h
         |WHERE e.doc_id % 97 <> 0
         |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

    // TRUE-run semantics: candidates join on the hash (mirroring the engine's
    // fixed-width index) but matches require STRING equality, and runs stitch
    // along (pa - pb) diagonals — both docs must advance in lockstep
    "dedup_exact_substring" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesOf(13)} AS sh FROM t),
         |ex0 AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS g
         |        FROM s WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, pos, g, ${h60("g")} AS h FROM ex0),
         |dfc AS (SELECT h FROM (
         |          SELECT h, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY h)
         |        WHERE df <= 50),
         |idx AS (SELECT ex.doc_id, ex.pos, ex.g, ex.h FROM ex JOIN dfc USING (h)),
         |m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.pos AS pa, b.pos AS pb
         |      FROM idx a JOIN idx b
         |        ON a.h = b.h AND a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT doc_a, doc_b, pa, pa - pb AS diag,
         |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
         |      FROM m),
         |runs AS (SELECT doc_a, doc_b, diag, grp, COUNT(*) AS run
         |         FROM r GROUP BY doc_a, doc_b, diag, grp),
         |spans AS (SELECT doc_a, doc_b, COUNT(*) AS n_spans, MAX(run) + 12 AS longest
         |          FROM runs GROUP BY doc_a, doc_b),
         |hits AS (SELECT doc_a, doc_b, COUNT(DISTINCT pa) AS n_shared
         |         FROM m GROUP BY doc_a, doc_b)
         |SELECT hits.doc_a, hits.doc_b,
         |  CAST(n_shared AS BIGINT) AS n_shared_ngrams,
         |  CAST(n_spans AS BIGINT) AS n_spans,
         |  CAST(longest AS BIGINT) AS longest_span
         |FROM hits JOIN spans USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // TRUE-run semantics: matches are exact strings, runs stitch along each
    // (hold_id, pos - hpos) diagonal, n_spans counts maximal runs per
    // holdout counterpart, n_hit_ngrams counts distinct matched positions
    "decontaminate_exact" -> decontaminateExactSql,
    // the stored-registry path must be bit-identical to the one-shot path
    "decontaminate_stored" -> decontaminateExactSql,

    // decontaminate_exact's span geometry + threshold-20 gate + anti-join:
    // documents whose longest TRUE verbatim run reaches 20 tokens drop out
    "decontaminate_apply" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |ht AS (SELECT doc_id AS hold_id, list_slice(toks, 6, 26) AS toks
         |       FROM t WHERE doc_id % 97 = 0),
         |hsh AS (SELECT hold_id, ${shinglesOf(13)} AS sh FROM ht),
         |hx AS (SELECT hold_id, generate_subscripts(sh, 1) - 1 AS hpos, unnest(sh) AS hg
         |       FROM hsh WHERE len(sh) > 0),
         |ts AS (SELECT doc_id, ${shinglesOf(13)} AS sh FROM t),
         |ex0 AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS g
         |        FROM ts WHERE len(sh) > 0),
         |m AS (SELECT DISTINCT e.doc_id, e.pos, hx.hold_id, hx.hpos
         |      FROM ex0 e JOIN hx ON e.g = hx.hg),
         |r AS (SELECT doc_id, pos, hold_id, pos - hpos AS diag,
         |        pos - row_number() OVER (
         |          PARTITION BY doc_id, hold_id, pos - hpos ORDER BY pos) AS grp
         |      FROM m),
         |runs AS (SELECT doc_id, MAX(cnt) AS max_run FROM (
         |          SELECT doc_id, hold_id, diag, grp, COUNT(*) AS cnt
         |          FROM r GROUP BY doc_id, hold_id, diag, grp)
         |        GROUP BY doc_id),
         |dropped AS (SELECT doc_id FROM runs WHERE max_run + 12 >= 20)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,

    // FUZZY decontamination: MinHash-LSH between the corpus and a holdout
    // whose token VALUES are ~10% rewritten (hash-selected, so both engines
    // mutate identically) — paraphrase-style contamination that breaks the
    // verbatim 13-gram runs but keeps most of the 3-shingle set. Bipartite
    // banding (64 perms, 32 bands of 2 rows), exact-Jaccard verified, in
    // lock-step with graft.operators.Dedup.fuzzyContamination.
    "decontaminate_fuzzy" ->
      s"""$fuzzyContaminationCtes
         |SELECT doc_id, hold_id, jaccard FROM j WHERE jaccard >= 0.4
         |ORDER BY doc_id, hold_id""".stripMargin,

    // end-to-end fuzzy decontamination: flagged docs anti-joined out
    "decontaminate_fuzzy_apply" ->
      s"""$fuzzyContaminationCtes
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT DISTINCT doc_id FROM j WHERE jaccard >= 0.4)
         |ORDER BY d.doc_id""".stripMargin,

    // Lee-et-al span REWRITE: string-verified verbatim runs >= 20 tokens
    // shared with a lower-id doc are CUT from the higher-id copy; text is
    // rebuilt from surviving tokens (all docs pass through the same
    // tokenize-rejoin normalization) — in lock-step with
    // graft.operators.Dedup.substringTrimApply
    "dedup_substring_trim" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesOf(13)} AS sh FROM t),
         |ex0 AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS g
         |        FROM s WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, pos, g, ${h60("g")} AS h FROM ex0),
         |dfc AS (SELECT h FROM (
         |          SELECT h, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY h)
         |        WHERE df >= 2 AND df <= 50),
         |idx AS (SELECT ex.doc_id, ex.pos, ex.g, ex.h FROM ex JOIN dfc USING (h)),
         |m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.pos AS pa, b.pos AS pb
         |      FROM idx a JOIN idx b
         |        ON a.h = b.h AND a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT doc_b, doc_a, pb, pa - pb AS diag,
         |        pb - row_number() OVER (PARTITION BY doc_b, doc_a, pa - pb ORDER BY pb) AS grp
         |      FROM m),
         |runs AS (SELECT doc_b, MIN(pb) AS strt, COUNT(*) + 12 AS len
         |         FROM r GROUP BY doc_b, doc_a, diag, grp),
         |spans AS (SELECT doc_b, strt, len FROM runs WHERE len >= 20),
         |cover AS (SELECT DISTINCT doc_id, cut FROM (
         |           SELECT doc_b AS doc_id, unnest(range(strt, strt + len)) AS cut
         |           FROM spans)),
         |tk AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
         |       FROM t WHERE len(toks) > 0),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tok
         |         FROM tk LEFT JOIN cover c ON tk.doc_id = c.doc_id AND tk.pos = c.cut
         |         WHERE c.doc_id IS NULL),
         |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text,
         |          COUNT(*) AS n_kept
         |        FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, len(toks) AS n_toks FROM t)
         |SELECT tot.doc_id,
         |  COALESCE(reb.new_text, '') AS text,
         |  CAST(tot.n_toks - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tot LEFT JOIN reb USING (doc_id)
         |ORDER BY tot.doc_id""".stripMargin,

    // embedding-space contamination: bipartite hyperplane-LSH between the
    // corpus and a perturbed holdout (one vec_id-selected dimension zeroed),
    // exact-cosine verified >= 0.9 — in lock-step with
    // graft.operators.Similarity.semanticContamination
    "decontaminate_semantic" ->
      s"""$semanticContaminationCtes
         |SELECT vec_id, hold_id, sim FROM j WHERE sim >= 0.9
         |ORDER BY vec_id, hold_id""".stripMargin,

    // end-to-end semantic decontamination: flagged vectors anti-joined out
    "decontaminate_semantic_apply" ->
      s"""$semanticContaminationCtes
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT DISTINCT vec_id FROM j WHERE sim >= 0.9)
         |ORDER BY e.vec_id""".stripMargin,

    // BPE merge training (Sennrich et al. 2016): 10 merge rounds over the
    // word-type table, greedy left-to-right application per round — in
    // lock-step with graft.operators.TextAnalysis.bpeTrain
    "vocab_bpe" ->
      s"""${bpeCtes(10)}
         |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, sym_a, sym_b,
         |  CAST(freq AS BIGINT) AS freq
         |FROM (
         |  ${(1 to 10).map(r =>
             s"SELECT $r AS merge_rank, sym_a, sym_b, freq FROM t$r").mkString("\n  UNION ALL ")})
         |ORDER BY merge_rank""".stripMargin,

    // BPE corpus encoding: every token joins the trained type table (docs
    // with zero tokens are absent by the inner-join semantics) — in
    // lock-step with graft.operators.TextAnalysis.bpeEncode
    "vocab_bpe_encode" -> bpeEncodeSql,

    // the stored-vocabulary encode must reproduce the one-shot encode
    // EXACTLY (train-once/encode-many; lock-step with
    // graft.operators.TextAnalysis.bpeEncodeStored) — same oracle
    "vocab_bpe_encode_stored" -> bpeEncodeSql,

    // per-source tokenizer fertility (BPE symbols per 1000 words / chars)
    // under the same round-10 vocabulary — in lock-step with
    // graft.operators.TextAnalysis.bpeFertility
    "vocab_bpe_fertility" ->
      s"""${bpeCtes(10)},
         |tok AS (SELECT source, unnest($toksOf) AS t FROM documents)
         |SELECT tok.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(w.syms)) AS BIGINT) AS n_symbols,
         |  CAST(floor(CAST(SUM(len(w.syms)) * 1000 AS DOUBLE) /
         |             CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS symbols_per_1000_words,
         |  CAST(CASE WHEN SUM(len(w.word)) > 0
         |    THEN floor(CAST(SUM(len(w.syms)) * 1000 AS DOUBLE) /
         |               CAST(SUM(len(w.word)) AS DOUBLE))
         |    ELSE 0 END AS BIGINT) AS symbols_per_1000_chars
         |FROM tok JOIN w10 w ON tok.t = w.word
         |GROUP BY tok.source
         |ORDER BY tok.source""".stripMargin,

    // DSIR-style importance resampling (Xie et al. 2023): add-one-smoothed
    // unigram LMs of target (src0) vs raw (rest), per-doc log-weight in
    // exact micro-nats, top-100 selected with ties to the smaller doc_id —
    // in lock-step with graft.operators.Sampling.importanceResample
    "sample_importance" ->
      s"""WITH raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
         |tgt AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
         |tt AS (SELECT term, COUNT(*) AS ct FROM (
         |         SELECT unnest($toksOf) AS term FROM tgt) GROUP BY term),
         |rt AS (SELECT term, COUNT(*) AS cr FROM (
         |         SELECT unnest($toksOf) AS term FROM raw) GROUP BY term),
         |vb AS (SELECT term FROM tt UNION SELECT term FROM rt),
         |vs AS (SELECT COUNT(*) AS v FROM vb),
         |ntt AS (SELECT SUM(ct) AS nt FROM tt),
         |nrr AS (SELECT SUM(cr) AS nr FROM rt),
         |lr AS (SELECT vb.term,
         |        CAST(round(ln(((COALESCE(tt.ct, 0) + 1) * (nrr.nr + vs.v)) /
         |          CAST((COALESCE(rt.cr, 0) + 1) * (ntt.nt + vs.v) AS DOUBLE)), 6)
         |          AS DECIMAL(18,6)) AS lr
         |       FROM vb LEFT JOIN tt USING (term) LEFT JOIN rt USING (term)
         |       CROSS JOIN vs CROSS JOIN ntt CROSS JOIN nrr),
         |tok AS (SELECT doc_id, unnest($toksOf) AS term FROM raw),
         |sums AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |           SUM(CAST(lr AS DECIMAL(28,6))) AS w
         |         FROM tok JOIN lr USING (term) GROUP BY doc_id),
         |wt AS (SELECT r.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
         |         COALESCE(CAST(s.w * 1000000 AS BIGINT), 0) AS w_unats
         |       FROM raw r LEFT JOIN sums s USING (doc_id)),
         |rk AS (SELECT wt.*, row_number() OVER (ORDER BY w_unats DESC, doc_id) AS rn
         |       FROM wt)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, w_unats,
         |  rn <= 100 AS selected
         |FROM rk ORDER BY doc_id""".stripMargin,

    // per-doc 3-shingle novelty against the every-7th-doc reference slice —
    // in lock-step with graft.operators.Dedup.ngramNovelty
    "text_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents WHERE doc_id % 7 <> 0),
         |shl AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
         |ex AS (SELECT DISTINCT doc_id, ${h60("g")} AS h FROM (
         |         SELECT doc_id, unnest(sh) AS g FROM shl WHERE len(sh) > 0)),
         |rt AS (SELECT doc_id, $toksOf AS toks FROM documents WHERE doc_id % 7 = 0),
         |rshl AS (SELECT ${shinglesOf(3)} AS sh FROM rt),
         |ref AS (SELECT DISTINCT ${h60("g")} AS h FROM (
         |          SELECT unnest(sh) AS g FROM rshl WHERE len(sh) > 0)),
         |fl AS (SELECT ex.doc_id, COUNT(*) AS n_shingles,
         |         SUM(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS n_novel
         |       FROM ex LEFT JOIN ref ON ex.h = ref.h GROUP BY ex.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(fl.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(fl.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN COALESCE(fl.n_shingles, 0) > 0
         |    THEN round(CAST(fl.n_novel AS DOUBLE) / CAST(fl.n_shingles AS DOUBLE), 6)
         |    ELSE 0.0 END AS novelty
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
         |LEFT JOIN fl ON d.doc_id = fl.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // two-snapshot vocabulary drift (A = even doc ids, B = odd): smoothed
    // log frequency ratio over the union vocabulary, min-count 5, top-50 by
    // |drift| — in lock-step with graft.operators.TextAnalysis.vocabDrift
    "vocab_drift" ->
      s"""WITH ta AS (SELECT unnest($toksOf) AS term FROM documents WHERE doc_id % 2 = 0),
         |tb AS (SELECT unnest($toksOf) AS term FROM documents WHERE doc_id % 2 = 1),
         |ca AS (SELECT term, COUNT(*) AS ca FROM ta GROUP BY term),
         |cb AS (SELECT term, COUNT(*) AS cb FROM tb GROUP BY term),
         |m AS (SELECT COALESCE(ca.term, cb.term) AS term,
         |        COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
         |      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         |vn AS (SELECT COUNT(*) AS v, SUM(ca) AS na, SUM(cb) AS nb FROM m),
         |d AS (SELECT m.term, m.ca, m.cb,
         |        CAST(FLOOR(m.ca * 1000000 / CAST(vn.na AS DOUBLE)) AS BIGINT) AS freq_a_ppm,
         |        CAST(FLOOR(m.cb * 1000000 / CAST(vn.nb AS DOUBLE)) AS BIGINT) AS freq_b_ppm,
         |        CAST(round(ln(((m.ca + 1) * (vn.nb + vn.v)) /
         |          CAST((m.cb + 1) * (vn.na + vn.v) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS d
         |      FROM m CROSS JOIN vn
         |      WHERE m.ca >= 5 OR m.cb >= 5)
         |SELECT term, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
         |  freq_a_ppm, freq_b_ppm, CAST(d AS DOUBLE) AS drift
         |FROM d ORDER BY abs(d) DESC, term LIMIT 50""".stripMargin,

    // contrastive hard-negative mining: per probe (every 100th vector) the
    // 3 most-cosine-similar vectors with a DIFFERENT label, ties to the
    // lower neighbor id — in lock-step with
    // graft.operators.Similarity.hardNegatives
    "simsearch_hard_negatives" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pv, label AS plabel
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT p.probe_id, e.vec_id,
         |    round(${cos("e.embedding", "p.pv")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN probes p
         |  WHERE e.vec_id <> p.probe_id AND e.label <> p.plabel)
         |SELECT probe_id, CAST(rn AS INT) AS rank, vec_id AS negative_id, sim
         |FROM (SELECT pairs.*, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
         |      FROM pairs)
         |WHERE rn <= 3
         |ORDER BY probe_id, rank""".stripMargin,

    // cluster-balanced diversity sampling: Lloyd assignment (the
    // cluster_assign CTEs) + per-cluster top-50 salted-hash draw (the
    // sample_cap_per_group idiom) — in lock-step with
    // graft.operators.Similarity.clusterBalancedSample
    "cluster_balanced" ->
      s"""WITH cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 4),
         |${lloydIterCte(1)},
         |${lloydIterCte(2)},
         |cent AS (SELECT * FROM cent2),
         |asn AS (
         |  SELECT e.vec_id, c.centroid_id,
         |    round(${cos("e.embedding", "c.cvec")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (
         |  SELECT vec_id, centroid_id, csim FROM asn
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) = 1),
         |sel AS (
         |  SELECT vec_id, centroid_id, csim,
         |    row_number() OVER (PARTITION BY centroid_id
         |      ORDER BY (${h60("'cbal:' || CAST(vec_id AS VARCHAR)")} % 1125899906842624) DESC,
         |               vec_id) AS rk
         |  FROM best)
         |SELECT vec_id, centroid_id, csim, rk <= 50 AS kept
         |FROM sel ORDER BY vec_id""".stripMargin,

    // token-budget prefix truncation per source: deterministic hash order,
    // running token sum, keep while cum <= budget — in lock-step with
    // graft.operators.Sampling.tokenBudgetPerSource
    "sample_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len($toksOf) AS n_tokens,
         |    ${h60("'tokbudget:' || CAST(doc_id AS VARCHAR)")} % ${1L << 50} AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 800
         |ORDER BY doc_id""".stripMargin,

    // quality-ordered token-budget cap: global (quality DESC, hash, id)
    // prefix within a 20k-token budget; the simple one-window form here is
    // order-identical to the Spark side's bucketed (q_u, hash-bucket)
    // decomposition (within one q_u the hash-bucket is monotone in the
    // hash) — in lock-step with graft.operators.Sampling.qualityTokenBudget
    "sample_quality_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, $toksOf AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(round((CASE WHEN n_tokens > 0 THEN round(
         |      least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
         |      (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6)
         |      ELSE 0.0 END) * 1000000) AS BIGINT) AS q_u,
         |    ${h60("'qbudget:' || CAST(doc_id AS VARCHAR)")} % ${1L << 50} AS h
         |  FROM s),
         |c AS (
         |  SELECT doc_id, q_u, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY q_u DESC, h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM q)
         |SELECT doc_id, q_u, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 20000
         |ORDER BY doc_id""".stripMargin,

    // quality-aware dedup application: each MinHash-LSH component keeps its
    // highest-quality member (ties to the lower id) — in lock-step with
    // graft.operators.Dedup.applyDedupQuality
    "dedup_apply_quality" ->
      s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |$qualityQuCtes,
         |keepc AS (
         |  SELECT cluster_id, doc_id AS keep FROM (
         |    SELECT l.cluster_id, l.doc_id, q.q_u
         |    FROM labels l JOIN q USING (doc_id))
         |  QUALIFY row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY q_u DESC, doc_id) = 1),
         |dropped AS (
         |  SELECT l.doc_id FROM labels l JOIN keepc k USING (cluster_id)
         |  WHERE l.doc_id <> k.keep)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,

    // exact-dedup application: one copy (lowest id) per byte-identical text
    // — in lock-step with graft.operators.Dedup.applyExactDedup
    "dedup_exact_apply" ->
      """SELECT d.doc_id, d.source FROM documents d
        |JOIN (SELECT text, MIN(doc_id) AS k FROM documents GROUP BY text) c
        |  ON d.text = c.text AND d.doc_id = c.k
        |ORDER BY d.doc_id""".stripMargin,

    // THE WHOLE PIPELINE as one oracle: the stage oracles composed verbatim
    // (corpus_quality_apply -> dedup_apply_quality -> decontaminate_apply ->
    // sample_token_budget -> doc_pack) with each stage reading the previous
    // stage's survivor CTE instead of `documents` (the decontamination
    // HOLDOUT still reads the raw corpus — a benchmark registry is defined
    // against what was ingested, not against what survived), then the
    // seeded bin-level shuffle tail. In lock-step with
    // graft.operators.Pipeline.trainingManifest.
    "pipeline_e2e" ->
      s"""WITH RECURSIVE
         |gm AS (
         |  SELECT doc_id, n_chars,
         |    len($toksOf) AS n_words,
         |    COALESCE(list_sum(list_transform($toksOf, t -> len(t))), 0) AS sum_len,
         |    len(string_split(text, chr(10))) AS n_lines,
         |    len(regexp_extract_all(text, '(^|\\n)[-*] ')) AS n_bullet,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
         |  FROM documents),
         |gr AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0
         |      THEN round(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE), 6) ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END AS alpha_ratio,
         |    round(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS bullet_ratio
         |  FROM gm),
         |gpass AS (
         |  SELECT doc_id FROM gr
         |  WHERE n_words >= 5 AND n_words <= 100000 AND mean_word_len >= 2.0
         |    AND mean_word_len <= 12.0 AND bullet_ratio <= 0.9 AND alpha_ratio >= 0.6),
         |gqs AS (
         |  SELECT doc_id, CAST(len($toksOf) AS INT) AS n_tokens,
         |    len(list_filter($toksOf, x -> list_contains(
         |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop
         |  FROM documents),
         |gqpass AS (
         |  SELECT doc_id FROM gqs WHERE n_tokens > 0 AND round(
         |    least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
         |    (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6) >= 0.2),
         |gprof(lang, word) AS (VALUES
         |  ('en','the'),('en','a'),('en','and'),('en','of'),('en','to'),('en','in'),('en','is'),('en','for'),('en','on'),('en','with'),
         |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','nicht'),('de','mit'),('de','ein'),('de','zu'),('de','von'),
         |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','des'),('fr','un'),('fr','une'),('fr','du'),('fr','est'),('fr','dans'),
         |  ('es','el'),('es','los'),('es','las'),('es','de'),('es','y'),('es','en'),('es','que'),('es','un'),('es','es'),('es','por'),
         |  ('zh','的'),('zh','是'),('zh','在'),('zh','了'),('zh','和'),('zh','有'),('zh','我'),('zh','不'),('zh','人'),('zh','这')),
         |gltoks AS (SELECT doc_id, unnest($toksOf) AS tk FROM documents),
         |glscores AS (
         |  SELECT doc_id, lang, COUNT(*) AS score
         |  FROM gltoks JOIN gprof ON tk = word GROUP BY doc_id, lang),
         |glbest AS (
         |  SELECT doc_id, lang AS pred_lang FROM glscores
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1),
         |glok AS (
         |  SELECT d.doc_id FROM documents d LEFT JOIN glbest b ON d.doc_id = b.doc_id
         |  WHERE b.pred_lang IS NULL OR b.pred_lang = d.lang),
         |p1 AS (
         |  SELECT d.* FROM documents d
         |  JOIN gpass USING (doc_id) JOIN gqpass USING (doc_id)
         |  JOIN glok USING (doc_id)),
         |t AS (SELECT doc_id, $toksOf AS toks FROM p1),
         |shl AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
         |       FROM shl WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) % 2147483647 AS hm FROM hs),
         |perms AS (SELECT unnest(range(0, 64)) AS i),
         |mins AS (
         |  SELECT doc_id, i,
         |    MIN((CAST(1 + 7919 * i AS BIGINT) * hm + (104729 * i) % 2147483647) % 2147483647) AS m
         |  FROM ex CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band_id, string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
         |  FROM mins GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
         |          (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))), 6) AS jaccard
         |  FROM cand
         |  JOIN hs ha ON ha.doc_id = doc_a
         |  JOIN hs hb ON hb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |mqt AS (SELECT doc_id, $toksOf AS toks FROM p1),
         |mqs AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop
         |  FROM mqt),
         |mq AS (
         |  SELECT doc_id,
         |    CAST(round((CASE WHEN n_tokens > 0 THEN round(
         |      least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
         |      (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6)
         |      ELSE 0.0 END) * 1000000) AS BIGINT) AS q_u
         |  FROM mqs),
         |keepc AS (
         |  SELECT cluster_id, doc_id AS keep FROM (
         |    SELECT l.cluster_id, l.doc_id, mq.q_u
         |    FROM labels l JOIN mq USING (doc_id))
         |  QUALIFY row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY q_u DESC, doc_id) = 1),
         |dropped2 AS (
         |  SELECT l.doc_id FROM labels l JOIN keepc k USING (cluster_id)
         |  WHERE l.doc_id <> k.keep),
         |p2 AS (SELECT p1.* FROM p1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)),
         |xht AS (SELECT doc_id AS hold_id, list_slice(toks, 6, 26) AS toks
         |        FROM (SELECT doc_id, $toksOf AS toks FROM documents)
         |        WHERE doc_id % 97 = 0),
         |xhsh AS (SELECT hold_id, ${shinglesOf(13)} AS sh FROM xht),
         |xhx AS (SELECT hold_id, generate_subscripts(sh, 1) - 1 AS hpos, unnest(sh) AS hg
         |        FROM xhsh WHERE len(sh) > 0),
         |xtt AS (SELECT doc_id, $toksOf AS toks FROM p2),
         |xts AS (SELECT doc_id, ${shinglesOf(13)} AS sh FROM xtt),
         |xex0 AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS g
         |         FROM xts WHERE len(sh) > 0),
         |xm AS (SELECT DISTINCT e.doc_id, e.pos, hx.hold_id, hx.hpos
         |       FROM xex0 e JOIN xhx hx ON e.g = hx.hg),
         |xr AS (SELECT doc_id, pos, hold_id, pos - hpos AS diag,
         |         pos - row_number() OVER (
         |           PARTITION BY doc_id, hold_id, pos - hpos ORDER BY pos) AS grp
         |       FROM xm),
         |xruns AS (SELECT doc_id, MAX(cnt) AS max_run FROM (
         |           SELECT doc_id, hold_id, diag, grp, COUNT(*) AS cnt
         |           FROM xr GROUP BY doc_id, hold_id, diag, grp)
         |         GROUP BY doc_id),
         |xdrop AS (SELECT doc_id FROM xruns WHERE max_run + 12 >= 20),
         |p3 AS (SELECT p2.* FROM p2
         |       WHERE doc_id NOT IN (SELECT doc_id FROM xdrop)),
         |bt AS (
         |  SELECT doc_id, source, len($toksOf) AS n_tokens,
         |    ${h60("'tokbudget:' || CAST(doc_id AS VARCHAR)")} % ${1L << 50} AS h
         |  FROM p3),
         |bc AS (
         |  SELECT doc_id,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM bt),
         |p4 AS (SELECT p3.* FROM p3
         |       JOIN (SELECT doc_id FROM bc WHERE cum_tokens <= 800) USING (doc_id)),
         |ct AS (SELECT doc_id, $toksOf AS toks FROM p4),
         |cd AS (SELECT doc_id, len(toks) AS n FROM ct WHERE len(toks) > 0),
         |cc AS (
         |  SELECT doc_id, n,
         |    unnest(generate_series(0,
         |      GREATEST(1, CAST(ceil((n - 16) / 48.0) AS INT)) - 1)) AS i
         |  FROM cd),
         |ck AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(LEAST(64, n - i * 48) AS INT) AS n_tokens,
         |    ${h60("'pack:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS h
         |  FROM cc),
         |cs AS (
         |  SELECT doc_id, chunk_idx, n_tokens, h, CAST(h % 8 AS INT) AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id, chunk_idx) AS rn
         |  FROM ck),
         |cr AS (
         |  SELECT shard, rn, doc_id, chunk_idx, n_tokens,
         |    0 AS bin, n_tokens AS fill, 0 AS pack_pos
         |  FROM cs WHERE rn = 1
         |  UNION ALL
         |  SELECT s.shard, s.rn, s.doc_id, s.chunk_idx, s.n_tokens,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.bin ELSE r.bin + 1 END,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.fill + s.n_tokens ELSE s.n_tokens END,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.pack_pos + 1 ELSE 0 END
         |  FROM cr r JOIN cs s ON s.shard = r.shard AND s.rn = r.rn + 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, chunk_idx, n_tokens, shard,
         |  CAST(bin AS INT) AS bin, CAST(pack_pos AS INT) AS pack_pos,
         |  ${h60("'binshuffle:7:' || CAST(shard AS VARCHAR) || ':' || CAST(bin AS VARCHAR)")} AS shuffle_key
         |FROM cr
         |ORDER BY shuffle_key, shard, bin, pack_pos""".stripMargin,

    // chunker round-trip: drop each non-first chunk's 16-token overlap,
    // re-concatenate in chunk order, compare to the normalized original —
    // in lock-step with graft.operators.TextAnalysis.reassembleChunks
    "doc_chunk_reassemble" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (
         |  SELECT doc_id, toks, n,
         |    unnest(generate_series(0,
         |      GREATEST(1, CAST(ceil((n - 16) / 48.0) AS INT)) - 1)) AS i
         |  FROM d),
         |parts AS (
         |  SELECT doc_id, i,
         |    CASE WHEN i = 0 THEN array_to_string(toks[1:64], ' ')
         |         ELSE array_to_string(toks[i*48+17 : i*48+64], ' ') END AS part
         |  FROM c),
         |r AS (
         |  SELECT doc_id, COUNT(*) AS n_chunks,
         |    string_agg(part, ' ' ORDER BY i) AS rebuilt
         |  FROM parts GROUP BY doc_id)
         |SELECT r.doc_id, r.n_chunks,
         |  CAST(len(list_filter(string_split(r.rebuilt, ' '), x -> x <> '')) AS BIGINT)
         |    AS n_tokens,
         |  r.rebuilt = array_to_string(d.toks, ' ') AS matches_original
         |FROM r JOIN d USING (doc_id) ORDER BY r.doc_id""".stripMargin,

    // per-(source, quality-decile) composition report — in lock-step with
    // graft.operators.TextAnalysis.qualityHistogram
    "text_quality_histogram" ->
      s"""WITH $qualityQuCtes
         |SELECT d.source, least(q.q_u // 100000, 9) AS decile,
         |  COUNT(*) AS n_docs, CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens
         |FROM q JOIN documents d USING (doc_id)
         |GROUP BY d.source, least(q.q_u // 100000, 9)
         |ORDER BY source, decile""".stripMargin,

    // IVF staleness: per-bucket occupancy of the trained-on (even) snapshot
    // vs a new (odd) snapshot against the SAME centroids, integer-ppm
    // shares — in lock-step with graft.operators.Similarity.indexDrift
    "simsearch_index_drift" ->
      s"""WITH ea AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |eb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM ea WHERE vec_id < 8),
         |${lloydIterCte(1, "ea")},
         |${lloydIterCte(2, "ea")},
         |cent AS (SELECT * FROM cent2),
         |aa AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cos("e.embedding", "c.cvec")}, 6) DESC, c.centroid_id) AS rn
         |    FROM ea e CROSS JOIN cent c) WHERE rn = 1),
         |ab AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cos("e.embedding", "c.cvec")}, 6) DESC, c.centroid_id) AS rn
         |    FROM eb e CROSS JOIN cent c) WHERE rn = 1),
         |oa AS (SELECT centroid_id, COUNT(*) AS n_old FROM aa GROUP BY centroid_id),
         |ob AS (SELECT centroid_id, COUNT(*) AS n_new FROM ab GROUP BY centroid_id),
         |m AS (
         |  SELECT centroid_id,
         |    COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
         |  FROM oa FULL JOIN ob USING (centroid_id)),
         |tt AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM m)
         |SELECT m.centroid_id, m.n_old, m.n_new,
         |  CAST(CASE WHEN tt.t_old > 0 THEN m.n_old * 1000000 // tt.t_old ELSE 0 END
         |       AS BIGINT) AS ppm_old,
         |  CAST(CASE WHEN tt.t_new > 0 THEN m.n_new * 1000000 // tt.t_new ELSE 0 END
         |       AS BIGINT) AS ppm_new,
         |  CAST((CASE WHEN tt.t_new > 0 THEN m.n_new * 1000000 // tt.t_new ELSE 0 END) -
         |       (CASE WHEN tt.t_old > 0 THEN m.n_old * 1000000 // tt.t_old ELSE 0 END)
         |       AS BIGINT) AS shift_ppm
         |FROM m CROSS JOIN tt ORDER BY m.centroid_id""".stripMargin,

    // per-source duplicate-mass report over the MinHash-LSH component
    // structure (recursive reachability over the verified pairs, min-id
    // labels) — in lock-step with graft.operators.Dedup.clusterStatsBySource
    "dedup_cluster_stats" ->
      s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_clustered,
         |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL AND l.doc_id <> l.cluster_id
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicates,
         |  CAST(SUM(CASE WHEN l.doc_id IS NOT NULL AND l.doc_id <> l.cluster_id
         |      THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT) AS dup_permille
         |FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // MinHash estimation-error audit: per verified pair, the signature-
    // agreement estimate (matches of 64 perms, ppm) vs the exact Jaccard —
    // in lock-step with graft.operators.Dedup.minHashEstimateAudit
    "dedup_minhash_estimate" ->
      s"""$minhashPairsCtes,
         |vp AS (SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5),
         |est AS (
         |  SELECT vp.doc_a, vp.doc_b,
         |    CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END)
         |         AS BIGINT) AS sig_matches
         |  FROM vp
         |  JOIN mins ma ON ma.doc_id = vp.doc_a
         |  JOIN mins mb ON mb.doc_id = vp.doc_b AND mb.i = ma.i
         |  GROUP BY vp.doc_a, vp.doc_b)
         |SELECT vp.doc_a, vp.doc_b, vp.jaccard,
         |  est.sig_matches,
         |  CAST(est.sig_matches * 15625 AS BIGINT) AS est_ppm,
         |  CAST(abs(est.sig_matches * 15625 -
         |      CAST(round(vp.jaccard * 1000000) AS BIGINT)) AS BIGINT) AS err_ppm
         |FROM vp JOIN est USING (doc_a, doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // mixture planning: per-source token inventory -> integer per-mille
    // sampling rates against a 10k-token budget at 50/30/20 target weights —
    // in lock-step with graft.operators.Sampling.mixPlan
    "sample_mix_plan" ->
      s"""WITH w(source, weight_permille) AS (VALUES
         |  ('src0', 500), ('src1', 300), ('src2', 200)),
         |inv AS (SELECT source, COUNT(*) AS n_docs,
         |          COALESCE(SUM(len($toksOf)), 0) AS n_tokens
         |        FROM documents GROUP BY source),
         |p AS (SELECT inv.source, inv.n_docs, inv.n_tokens,
         |        COALESCE(w.weight_permille, 0) AS weight_permille
         |      FROM inv LEFT JOIN w ON inv.source = w.source),
         |r AS (SELECT source, n_docs, n_tokens, weight_permille,
         |        CAST(FLOOR(10000 * weight_permille / 1000) AS BIGINT) AS target_tokens
         |      FROM p),
         |q AS (SELECT *, CASE WHEN n_tokens > 0
         |        THEN LEAST(1000, CAST(FLOOR(target_tokens * 1000 / n_tokens) AS BIGINT))
         |        ELSE 0 END AS rate_permille
         |      FROM r)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(weight_permille AS BIGINT) AS weight_permille,
         |  target_tokens,
         |  CAST(rate_permille AS BIGINT) AS rate_permille,
         |  CAST(FLOOR(n_tokens * rate_permille / 1000) AS BIGINT) AS planned_tokens,
         |  rate_permille = 1000 AND
         |    CAST(FLOOR(n_tokens * rate_permille / 1000) AS BIGINT) < target_tokens AS capped
         |FROM q ORDER BY source""".stripMargin,

    // epoch up-sampling / repeat-factor mix: floor(w) copies + one more for
    // a hash-selected frac(w) fraction; absent sources default to one copy —
    // in lock-step with graft.operators.Sampling.upsampleMix
    "sample_upsample" ->
      s"""WITH w(source, whole, thr) AS (VALUES
         |  ('src0', 2, 5000), ('src1', 0, 5000), ('src2', 3, 0), ('src3', 0, 0)),
         |d AS (
         |  SELECT doc_id, documents.source,
         |    COALESCE(w.whole, 1) + CASE
         |      WHEN ${h60("'epoch:' || CAST(doc_id AS VARCHAR)")} % 10000 < COALESCE(w.thr, 0)
         |      THEN 1 ELSE 0 END AS n
         |  FROM documents LEFT JOIN w ON documents.source = w.source)
         |SELECT doc_id, source, CAST(copy_idx AS BIGINT) AS copy_idx FROM (
         |  SELECT doc_id, source, unnest(range(1, n + 1)) AS copy_idx
         |  FROM d WHERE n >= 1)
         |ORDER BY doc_id, copy_idx""".stripMargin,

    // cross-source leakage matrix: distinct cross-source doc pairs sharing a
    // df-capped 3-shingle hash, plus per-side touched-doc counts — in
    // lock-step with graft.operators.Dedup.sourceOverlap
    "source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source, $toksOf AS toks FROM documents),
         |shl AS (SELECT doc_id, source, ${shinglesOf(3)} AS sh FROM t),
         |ex AS (SELECT DISTINCT doc_id, source, ${h60("g")} AS h FROM (
         |         SELECT doc_id, source, unnest(sh) AS g FROM shl WHERE len(sh) > 0)),
         |dfc AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
         |idx AS (SELECT ex.doc_id, ex.source, ex.h FROM ex JOIN dfc USING (h)),
         |pairs AS (
         |  SELECT DISTINCT a.source AS source_a, b.source AS source_b,
         |    a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM idx a JOIN idx b ON a.h = b.h AND a.source < b.source)
         |SELECT source_a, source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_cross_pairs,
         |  CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_docs_a,
         |  CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_b
         |FROM pairs GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // end-to-end quality gate: Gopher structure rules AND composite score
    // >= 0.2 AND stopword-profile language-ID agreement with the declared
    // lang ('und' abstains -> kept) — in lock-step with
    // graft.operators.TextAnalysis.qualityFilterApply
    "corpus_quality_apply" ->
      s"""WITH gm AS (
         |  SELECT doc_id, n_chars,
         |    len($toksOf) AS n_words,
         |    COALESCE(list_sum(list_transform($toksOf, t -> len(t))), 0) AS sum_len,
         |    len(string_split(text, chr(10))) AS n_lines,
         |    len(regexp_extract_all(text, '(^|\\n)[-*] ')) AS n_bullet,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
         |  FROM documents),
         |gr AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0
         |      THEN round(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE), 6) ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END AS alpha_ratio,
         |    round(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS bullet_ratio
         |  FROM gm),
         |gpass AS (
         |  SELECT doc_id FROM gr
         |  WHERE n_words >= 5 AND n_words <= 100000 AND mean_word_len >= 2.0
         |    AND mean_word_len <= 12.0 AND bullet_ratio <= 0.9 AND alpha_ratio >= 0.6),
         |qs AS (
         |  SELECT doc_id, CAST(len($toksOf) AS INT) AS n_tokens,
         |    len(list_filter($toksOf, x -> list_contains(
         |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop
         |  FROM documents),
         |qpass AS (
         |  SELECT doc_id FROM qs WHERE n_tokens > 0 AND round(
         |    least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
         |    (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6) >= 0.2),
         |prof(lang, word) AS (VALUES
         |  ('en','the'),('en','a'),('en','and'),('en','of'),('en','to'),('en','in'),('en','is'),('en','for'),('en','on'),('en','with'),
         |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),('de','nicht'),('de','mit'),('de','ein'),('de','zu'),('de','von'),
         |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','des'),('fr','un'),('fr','une'),('fr','du'),('fr','est'),('fr','dans'),
         |  ('es','el'),('es','los'),('es','las'),('es','de'),('es','y'),('es','en'),('es','que'),('es','un'),('es','es'),('es','por'),
         |  ('zh','的'),('zh','是'),('zh','在'),('zh','了'),('zh','和'),('zh','有'),('zh','我'),('zh','不'),('zh','人'),('zh','这')),
         |ltoks AS (SELECT doc_id, unnest($toksOf) AS t FROM documents),
         |lscores AS (
         |  SELECT doc_id, lang, COUNT(*) AS score
         |  FROM ltoks JOIN prof ON t = word GROUP BY doc_id, lang),
         |lbest AS (
         |  SELECT doc_id, lang AS pred_lang FROM lscores
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1),
         |lok AS (
         |  SELECT d.doc_id FROM documents d LEFT JOIN lbest b ON d.doc_id = b.doc_id
         |  WHERE b.pred_lang IS NULL OR b.pred_lang = d.lang)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN gpass ON d.doc_id = gpass.doc_id
         |JOIN qpass ON d.doc_id = qpass.doc_id
         |JOIN lok ON d.doc_id = lok.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "vocab_encode" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         |               unnest(toks) AS term FROM t),
         |freq AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
         |vocab AS (SELECT term,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS id
         |  FROM freq ORDER BY cnt DESC, term LIMIT 256),
         |enc AS (SELECT tok.doc_id, tok.pos, COALESCE(vocab.id, 0) AS tid
         |        FROM tok LEFT JOIN vocab ON tok.term = vocab.term)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  string_agg(CAST(tid AS VARCHAR), '|' ORDER BY pos) AS ids
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sample_temperature" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         |m AS (SELECT MAX(n) AS max_n FROM c),
         |thr AS (SELECT source,
         |    CAST(floor(10000 * sqrt(CAST(n AS DOUBLE) / CAST(max_n AS DOUBLE))) AS BIGINT) AS thr
         |  FROM c, m)
         |SELECT d.doc_id, d.source, thr.thr AS thr
         |FROM documents d JOIN thr ON d.source = thr.source
         |WHERE ${h60("'temp:' || CAST(doc_id AS VARCHAR)")} % 10000 < thr.thr
         |ORDER BY doc_id""".stripMargin,

    "embedding_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings
        |  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
        |q AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  round(
        |    list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * (CAST(qv[i] AS DOUBLE) / scale))) /
        |    (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> (CAST(qv[i] AS DOUBLE) / scale) * (CAST(qv[i] AS DOUBLE) / scale))))), 6) AS recon_cosine
        |FROM q ORDER BY vec_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |sh AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
         |       FROM sh WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM hs),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb, COUNT(*) AS common
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |j AS (SELECT doc_a, doc_b,
         |        round(CAST(common AS DOUBLE) / (sza + szb - common), 6) AS jaccard
         |      FROM pairs)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$minhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    // INCREMENTAL dedup against a stored index: the same minhash pipeline
    // restricted to cross (new-batch × stored-corpus) pairs — a union-corpus
    // pair with matching band signatures is flagged by the bipartite join
    // iff exactly one side is a new-batch doc (doc_id % 10 = 0); same
    // exact-Jaccard gate. In lock-step with
    // graft.operators.Dedup.dedupIncremental over minhashIndexStore.
    "dedup_incremental" ->
      s"""$minhashPairsCtes
         |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
         |  CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS old_id,
         |  jaccard
         |FROM j
         |WHERE jaccard >= 0.5 AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
         |ORDER BY new_id, old_id""".stripMargin,

    // the admit step of incremental dedup: the new batch with flagged docs
    // anti-joined out — in lock-step with
    // graft.operators.Dedup.applyIncrementalDedup
    "dedup_incremental_apply" ->
      s"""$minhashPairsCtes
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id % 10 = 0 AND d.doc_id NOT IN (
         |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END FROM j
         |  WHERE jaccard >= 0.5 AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0)))
         |ORDER BY d.doc_id""".stripMargin,

    // end-to-end application of the MinHash-LSH pipeline above: collapse
    // pairs into components (recursive reachability), keep the minimum id
    // per cluster, anti-join the rest out of the corpus
    "dedup_apply" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |shl AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
         |       FROM shl WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) % 2147483647 AS hm FROM hs),
         |perms AS (SELECT unnest(range(0, 64)) AS i),
         |mins AS (
         |  SELECT doc_id, i,
         |    MIN((CAST(1 + 7919 * i AS BIGINT) * hm + (104729 * i) % 2147483647) % 2147483647) AS m
         |  FROM ex CROSS JOIN perms GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band_id, string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS sig
         |  FROM mins GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
         |          (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))), 6) AS jaccard
         |  FROM cand
         |  JOIN hs ha ON ha.doc_id = doc_a
         |  JOIN hs hb ON hb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |dropped AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksOf) AS tkn FROM documents),
         |th AS (SELECT doc_id, ${h60("tkn")} AS h FROM tok),
         |bitsj AS (SELECT unnest(range(0, 60)) AS j),
         |bits AS (
         |  SELECT doc_id, j,
         |    CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bv
         |  FROM th CROSS JOIN bitsj GROUP BY doc_id, j),
         |sh AS (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding" ->
      s"""WITH j AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${cos("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, sim FROM j WHERE sim >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    ${(0 until 4).map(c => (4 * c until 4 * c + 4).map(bitExpr).mkString("(", " + ", s") AS chunk$c")).mkString(",\n    ")},
         |    ${nrm("embedding")} AS nrm
         |  FROM embeddings),
         |ch AS (
         |  SELECT vec_id, c AS chunk_id,
         |    CASE c WHEN 0 THEN chunk0 WHEN 1 THEN chunk1 WHEN 2 THEN chunk2 ELSE chunk3 END AS chunk_val
         |  FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM ch a JOIN ch b
         |    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.vec_id < b.vec_id),
         |j AS (
         |  SELECT vec_a, vec_b,
         |    round(${dot("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm), 6) AS sim
         |  FROM cand JOIN v va ON va.vec_id = vec_a JOIN v vb ON vb.vec_id = vec_b)
         |SELECT vec_a, vec_b, sim FROM j WHERE sim >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,

    // asymmetric containment near-dup: |A∩B| / min(|A|,|B|) >= 0.8 over
    // word-3-shingle sets, df-capped index, jaccard alongside (catches
    // subset-duplication the symmetric measure under-scores; the oracle
    // verifies ALL shared-hash candidates — the Spark side's pruning bound
    // only skips work, never changes results) — in lock-step with
    // graft.operators.Dedup.containmentPairs
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM
         |       (SELECT doc_id, $toksOf AS toks FROM documents)),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
         |       FROM t WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         |dfc AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= 50),
         |idx AS (SELECT ex.doc_id, ex.h FROM ex JOIN dfc USING (h)),
         |pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
         |       GROUP BY a.doc_id, b.doc_id),
         |sz AS (SELECT doc_id, len(hs) AS sz, hs FROM hs),
         |v AS (SELECT pc.doc_a, pc.doc_b,
         |        len(list_intersect(sa.hs, sb.hs)) AS common,
         |        sa.sz AS sza, sb.sz AS szb
         |      FROM pc JOIN sz sa ON sa.doc_id = pc.doc_a
         |              JOIN sz sb ON sb.doc_id = pc.doc_b)
         |SELECT doc_a, doc_b,
         |  round(common / CAST(LEAST(sza, szb) AS DOUBLE), 6) AS containment,
         |  round(common / CAST(sza + szb - common AS DOUBLE), 6) AS jaccard,
         |  CASE WHEN sza <= szb THEN 'a_in_b' ELSE 'b_in_a' END AS direction
         |FROM v
         |WHERE round(common / CAST(LEAST(sza, szb) AS DOUBLE), 6) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_capped" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |shl AS (SELECT doc_id, ${shinglesOf(3)} AS sh FROM t),
         |hs AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) AS hs
         |       FROM shl WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         |rare AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= 50),
         |idx AS (SELECT doc_id, ex.h FROM ex JOIN rare ON ex.h = rare.h),
         |stats AS (
         |  SELECT e.doc_id, e.sz, e.sz - COALESCE(r.szr, 0) AS dropped
         |  FROM (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id) e
         |  LEFT JOIN (SELECT doc_id, COUNT(*) AS szr FROM idx GROUP BY doc_id) r
         |    ON e.doc_id = r.doc_id),
         |pc AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS cr
         |  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |bounded AS (
         |  SELECT doc_a, doc_b FROM pc
         |  JOIN stats sa ON sa.doc_id = doc_a
         |  JOIN stats sb ON sb.doc_id = doc_b
         |  WHERE CAST(cr + least(sa.dropped, sb.dropped) AS DOUBLE) /
         |        CAST(sa.sz + sb.sz - (cr + least(sa.dropped, sb.dropped)) AS DOUBLE) >= 0.5),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
         |          (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))), 6) AS jaccard
         |  FROM bounded
         |  JOIN hs ha ON ha.doc_id = doc_a
         |  JOIN hs hb ON hb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_clusters_allpairs" ->
      s"""WITH RECURSIVE j AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${cos("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |p AS (SELECT vec_a, vec_b FROM j WHERE sim >= 0.45),
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM p
         |  UNION ALL SELECT vec_b, vec_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    ${(0 until 4).map(c => (4 * c until 4 * c + 4).map(bitExpr).mkString("(", " + ", s") AS chunk$c")).mkString(",\n    ")},
         |    ${nrm("embedding")} AS nrm
         |  FROM embeddings),
         |ch AS (
         |  SELECT vec_id, c AS chunk_id,
         |    CASE c WHEN 0 THEN chunk0 WHEN 1 THEN chunk1 WHEN 2 THEN chunk2 ELSE chunk3 END AS chunk_val
         |  FROM v CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM ch a JOIN ch b
         |    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.vec_id < b.vec_id),
         |jj AS (
         |  SELECT vec_a, vec_b,
         |    round(${dot("va.embedding", "vb.embedding")} / (va.nrm * vb.nrm), 6) AS sim
         |  FROM cand JOIN v va ON va.vec_id = vec_a JOIN v vb ON vb.vec_id = vec_b),
         |p AS (SELECT vec_a, vec_b FROM jj WHERE sim >= 0.45),
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM p
         |  UNION ALL SELECT vec_b, vec_a FROM p),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,

    "cluster_assign" ->
      s"""WITH cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 4),
         |${lloydIterCte(1)},
         |${lloydIterCte(2)},
         |cent AS (SELECT * FROM cent2),
         |asn AS (
         |  SELECT e.vec_id, c.centroid_id,
         |    round(${cos("e.embedding", "c.cvec")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (
         |  SELECT vec_id, centroid_id, csim FROM asn
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) = 1)
         |SELECT centroid_id, COUNT(*) AS n_vectors,
         |  round(CAST(SUM(CAST(csim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_csim
         |FROM best GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,

    "knn_join" ->
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT p.probe_id, e.vec_id,
         |    round(${cos("e.embedding", "p.pv")}, 6) AS sim
         |  FROM embeddings e CROSS JOIN probes p
         |  WHERE e.vec_id <> p.probe_id)
         |SELECT probe_id, CAST(rn AS INT) AS rank, vec_id AS neighbor_id, sim
         |FROM (SELECT pairs.*, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
         |      FROM pairs)
         |WHERE rn <= 3
         |ORDER BY probe_id, rank""".stripMargin,

    "text_gopher" ->
      s"""WITH m AS (
         |  SELECT doc_id, n_chars,
         |    len($toksOf) AS n_words,
         |    COALESCE(list_sum(list_transform($toksOf, t -> len(t))), 0) AS sum_len,
         |    len(string_split(text, chr(10))) AS n_lines,
         |    len(regexp_extract_all(text, '(^|\\n)[-*] ')) AS n_bullet,
         |    len(regexp_extract_all(text, '\\.\\.\\.(\\n|$$)')) AS n_ellipsis,
         |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0
         |      THEN round(CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE), 6) ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END AS alpha_ratio,
         |    round(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS bullet_ratio,
         |    round(CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS ellipsis_ratio
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, alpha_ratio, bullet_ratio, ellipsis_ratio,
         |  (n_words >= 5 AND n_words <= 100000 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
         |   AND bullet_ratio <= 0.9 AND alpha_ratio >= 0.6) AS quality_pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksOf) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df
         |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    round(CAST(tf.tf AS DOUBLE) *
         |          round(ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT doc_id, CAST(rn AS INT) AS rank, term, tfidf
         |FROM (SELECT scored.*, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
         |      FROM scored)
         |WHERE rn <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // bigram-LM perplexity filter: MLE conditional from the corpus's own
    // bigram table (left-context denominator, so P(·|w1) sums to 1), per-doc
    // decimal-summed mean — in lock-step with
    // graft.operators.TextAnalysis.bigramLogprob
    "text_bigram_nll" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bg
         |  FROM t, unnest(range(1, len(toks))) AS u(i)),
         |c12 AS (SELECT bg, COUNT(*) AS cnt12 FROM bg GROUP BY bg),
         |c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM bg GROUP BY w1),
         |sc AS (
         |  SELECT doc_id,
         |    round(ln(CAST(cnt1 AS DOUBLE) / CAST(cnt12 AS DOUBLE)), 6) AS nll
         |  FROM bg JOIN c12 USING (bg) JOIN c1 USING (w1))
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // label-coherence audit of the canonical Lloyd index (nlist=4, iters=2,
    // the cluster_assign build): majority label (ties to the smaller label),
    // integer per-mille purity, label entropy in floor'd micro-nats — in
    // lock-step with graft.operators.Similarity.clusterLabelPurity
    "cluster_purity" ->
      s"""WITH cent0 AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 4),
         |${lloydIterCte(1)},
         |${lloydIterCte(2)},
         |cent AS (SELECT * FROM cent2),
         |asn AS (
         |  SELECT e.vec_id, c.centroid_id,
         |    round(${cos("e.embedding", "c.cvec")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |best AS (
         |  SELECT vec_id, centroid_id FROM asn
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) = 1),
         |cl AS (
         |  SELECT b.centroid_id, e.label, COUNT(*) AS c
         |  FROM best b JOIN embeddings e USING (vec_id)
         |  GROUP BY b.centroid_id, e.label),
         |tot AS (SELECT centroid_id, SUM(c) AS n FROM cl GROUP BY centroid_id),
         |maj AS (
         |  SELECT centroid_id, label AS majority_label, c AS majority_c FROM cl
         |  QUALIFY row_number() OVER (PARTITION BY centroid_id
         |    ORDER BY c DESC, label) = 1),
         |agg AS (
         |  SELECT cl.centroid_id,
         |    MIN(tot.n) AS n_vectors,
         |    COUNT(*) AS n_labels,
         |    CAST(FLOOR(CAST(CAST(SUM(cl.c *
         |        CAST(round(ln(CAST(tot.n AS DOUBLE) / CAST(cl.c AS DOUBLE)), 6)
         |             AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) /
         |      CAST(MIN(tot.n) AS DOUBLE)) AS BIGINT) AS entropy_unats
         |  FROM cl JOIN tot USING (centroid_id)
         |  GROUP BY cl.centroid_id)
         |SELECT a.centroid_id, CAST(a.n_vectors AS BIGINT) AS n_vectors,
         |  a.n_labels, m.majority_label,
         |  CAST(m.majority_c * 1000 // a.n_vectors AS BIGINT) AS purity_pm,
         |  a.entropy_unats
         |FROM agg a JOIN maj m USING (centroid_id)
         |ORDER BY a.centroid_id""".stripMargin,

    // Matryoshka truncation audit: per (vector, width) the prefix-energy
    // fraction in floor'd ppm and the retained cosine — in lock-step with
    // graft.operators.Similarity.truncationAudit
    "simsearch_truncation" ->
      s"""WITH w AS (SELECT unnest([8, 16, 32, 64]) AS trunc_dim),
         |f AS (SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2full
         |      FROM embeddings),
         |p AS (
         |  SELECT f.vec_id, w.trunc_dim, f.n2full,
         |    list_sum(list_transform(range(1, w.trunc_dim + 1),
         |      i -> CAST(f.embedding[i] AS DOUBLE) * CAST(f.embedding[i] AS DOUBLE))) AS pre
         |  FROM f CROSS JOIN w
         |  WHERE f.n2full > 0)
         |SELECT vec_id, CAST(trunc_dim AS INT) AS trunc_dim,
         |  CAST(FLOOR(pre * 1000000.0 / n2full) AS BIGINT) AS energy_ppm,
         |  round(sqrt(pre) / sqrt(n2full), 6) AS retained_cos
         |FROM p ORDER BY vec_id, trunc_dim""".stripMargin,

    "text_unigram_nll" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksOf) AS term FROM documents),
         |freq AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         |tot AS (SELECT SUM(cnt) AS total FROM freq),
         |sc AS (
         |  SELECT doc_id,
         |    round(ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) AS nll
         |  FROM toks JOIN freq USING (term) CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // per-doc Shannon entropy over the doc's OWN token counts: one log per
    // distinct (doc, term), 6-dp-quantized, decimal-summed, reported as
    // floor'd integer MICRO-bits (a final round-6 double would tie at
    // quotients like k/8 where Java and DuckDB round semantics differ) —
    // in lock-step with graft.operators.TextAnalysis.tokenEntropy
    "text_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksOf) AS term FROM documents),
         |pt AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
         |st AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_types,
         |         SUM(c * CAST(round(ln(c) / ln(2), 6) AS DECIMAL(18,6))) AS bits
         |       FROM pt GROUP BY doc_id),
         |e AS (SELECT doc_id, n_tokens, n_types,
         |        CAST(FLOOR(CAST(CAST(
         |            (CAST(round(ln(n_tokens) / ln(2), 6) AS DECIMAL(18,6))
         |               * CAST(n_tokens AS BIGINT)
         |             - bits) * 1000000 AS BIGINT) AS DOUBLE) / n_tokens) AS BIGINT)
         |          AS entropy_ubits
         |      FROM st WHERE n_tokens > 0)
         |SELECT d.doc_id,
         |  CAST(COALESCE(e.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(e.n_types, 0) AS BIGINT) AS n_types,
         |  COALESCE(e.entropy_ubits, 0) AS entropy_ubits,
         |  CASE WHEN COALESCE(e.n_types, 0) > 1
         |    THEN CAST(FLOOR(CAST(e.entropy_ubits * 1000000 AS DOUBLE) /
         |      CAST(CAST(round(ln(e.n_types) / ln(2), 6) AS DECIMAL(18,6))
         |           * 1000000 AS BIGINT)) AS BIGINT)
         |    ELSE 0 END AS norm_entropy_ppm
         |FROM documents d LEFT JOIN e USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // per-source KL divergence from the corpus unigram distribution in
    // floor'd integer MICRO-nats (mixture-drift report) — in lock-step with
    // graft.operators.TextAnalysis.sourceDivergence
    "text_source_divergence" ->
      s"""WITH tok AS (SELECT source, unnest($toksOf) AS term FROM documents),
         |st AS (SELECT source, term, COUNT(*) AS cst FROM tok GROUP BY source, term),
         |sn AS (SELECT source, SUM(cst) AS ns FROM st GROUP BY source),
         |tt AS (SELECT term, SUM(cst) AS ct FROM st GROUP BY term),
         |nn AS (SELECT SUM(ct) AS n FROM tt),
         |dc AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |terms AS (
         |  SELECT st.source, COUNT(*) AS n_types, MIN(sn.ns) AS n_tokens,
         |    SUM(st.cst * CAST(round(ln((st.cst * nn.n) /
         |          CAST(sn.ns * tt.ct AS DOUBLE)), 6) AS DECIMAL(18,6))) AS nats
         |  FROM st JOIN tt USING (term) JOIN sn USING (source) CROSS JOIN nn
         |  GROUP BY st.source)
         |SELECT t.source, CAST(dc.n_docs AS BIGINT) AS n_docs,
         |  CAST(t.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(t.n_types AS BIGINT) AS n_types,
         |  CAST(FLOOR(CAST(CAST(t.nats * 1000000 AS BIGINT) AS DOUBLE) / t.n_tokens)
         |    AS BIGINT) AS kl_unats
         |FROM terms t JOIN dc USING (source)
         |ORDER BY t.source""".stripMargin,

    // multinomial Naive Bayes language classifier trained on the corpus's own
    // labels: add-one-smoothed vocab×class likelihood grid, 6-dp-quantized
    // log terms decimal-summed, argmax ties to the smallest class; token-less
    // docs fall back to the prior-only argmax — in lock-step with
    // graft.operators.TextAnalysis.naiveBayesLang
    "text_classifier_nb" ->
      s"""$nbCtes
         |SELECT d.doc_id,
         |  COALESCE(b.pred_lang, pb.pb_lang) AS pred_lang,
         |  round(CAST(COALESCE(b.score, pb.pb_score) AS DOUBLE), 6) AS score,
         |  d.lang AS actual_lang,
         |  COALESCE(b.pred_lang, pb.pb_lang) = d.lang AS agree
         |FROM documents d LEFT JOIN best b USING (doc_id) CROSS JOIN pb
         |ORDER BY d.doc_id""".stripMargin,

    // per-source declared-vs-predicted disagreement over the same NB chain
    // — in lock-step with graft.operators.TextAnalysis.mislabelRate
    "text_mislabel_rate" ->
      s"""$nbCtes,
         |nbdoc AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(b.pred_lang, pb.pb_lang) = d.lang AS agree
         |  FROM documents d LEFT JOIN best b USING (doc_id) CROSS JOIN pb)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN agree THEN 0 ELSE 1 END) AS BIGINT) AS n_mislabeled,
         |  CAST(SUM(CASE WHEN agree THEN 0 ELSE 1 END) * 1000 // COUNT(*)
         |       AS BIGINT) AS mislabel_permille
         |FROM nbdoc GROUP BY source ORDER BY source""".stripMargin,

    "text_langid" ->
      s"""$langidCtes
         |SELECT doc_id, pred_lang, score, actual_lang FROM pred
         |ORDER BY doc_id""".stripMargin,

    // in lock-step with graft.operators.TextAnalysis.langConfusion — shares
    // the langid CTE chain, rolls it up to declared × predicted
    "text_lang_confusion" ->
      s"""$langidCtes,
         |cm AS (
         |  SELECT actual_lang, pred_lang, COUNT(*) AS n_docs
         |  FROM pred GROUP BY actual_lang, pred_lang),
         |tot AS (SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS t
         |        FROM cm GROUP BY actual_lang)
         |SELECT cm.actual_lang, cm.pred_lang, cm.n_docs,
         |  cm.n_docs * 1000 // tot.t AS share_permille
         |FROM cm JOIN tot USING (actual_lang)
         |ORDER BY actual_lang, pred_lang""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, $toksOf AS toks,
         |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_chars, CAST(len(toks) AS INT) AS n_tokens,
         |    list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','a','and','of','to','in','is','for','on','with'], x))) AS n_stop,
         |    n_alpha
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens > 0 THEN round(CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN n_tokens > 0 THEN round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE), 6) ELSE 0.0 END AS alpha_ratio,
         |  CASE WHEN n_tokens > 0 THEN round(
         |    least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) *
         |    (1.0 - least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0.5)), 6) ELSE 0.0 END AS quality_score
         |FROM s ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($toksOf) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, text, ${shinglesOf(5)} AS sh FROM t)
         |SELECT doc_id,
         |  COALESCE(
         |    list_min(list_transform(sh, s2 -> ${h60("s2")})),
         |    ${h60("text")}) AS fingerprint
         |FROM s ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesOf(2)} AS sh FROM t),
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
         |per AS (SELECT doc_id, g, COUNT(*) AS c FROM ex GROUP BY 1, 2),
         |st AS (SELECT doc_id, SUM(c) AS n2, COUNT(*) AS nd, MAX(c) AS tc FROM per GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(CAST(n2 AS BIGINT), 0) AS n_2grams,
         |  COALESCE(CAST(nd AS BIGINT), 0) AS n_distinct_2grams,
         |  CASE WHEN COALESCE(n2, 0) > 0
         |    THEN round(1.0 - CAST(nd AS DOUBLE) / CAST(n2 AS DOUBLE), 6) ELSE 0.0 END AS dup_2gram_frac,
         |  COALESCE(CAST(tc AS BIGINT), 0) AS top_2gram_cnt
         |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "text_redact" -> {
      // regexes referenced from the operator so both engines stay in lockstep
      val em = graft.operators.TextAnalysis.emailRe
      val ph = graft.operators.TextAnalysis.phoneRe
      s"""WITH er AS (
         |  SELECT doc_id, text, regexp_replace(text, '$em', '<EMAIL>', 'g') AS email_redacted
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(email_redacted, '$ph')) AS INT) AS n_phones,
         |  ${h60(s"regexp_replace(email_redacted, '$ph', '<PHONE>', 'g')")} AS redacted_hash
         |FROM er ORDER BY doc_id""".stripMargin
    },

    // mixed-modality features: image rows (doc_id % 3 <> 0) are procedural
    // PNGs — the oracle recomputes the exact per-channel pixel sums in closed
    // form (a fake decode cannot reproduce them); text rows are the
    // documented audio/video stand-in (stub features over raw bytes)
    "multimodal_features" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, text,
        |    8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |    SUM((doc_id + x*7 + y*13) % 256) AS sr,
        |    SUM((doc_id*3 + x*11 + y) % 256) AS sg,
        |    SUM((doc_id*5 + x + y*17) % 256) AS sb
        |  FROM d
        |  CROSS JOIN range(0, 16) AS gx(x)
        |  CROSS JOIN range(0, 13) AS gy(y)
        |  WHERE gx.x < w AND gy.y < h AND doc_id % 3 <> 0
        |  GROUP BY doc_id, w, h)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 'text' ELSE 'image' END AS modality,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 'stubbed:no-installed-codec'
        |       ELSE 'decoded:png' END AS codec_status,
        |  CASE WHEN d.doc_id % 3 = 0 THEN
        |    array_to_string([CAST(octet_length(encode(d.text)) AS BIGINT),
        |      CAST(d.n_chars AS BIGINT), CAST(d.doc_id % 7 AS BIGINT)], '|')
        |  ELSE
        |    array_to_string([px.w, px.h,
        |      CAST(px.sr AS BIGINT), CAST(px.sg AS BIGINT), CAST(px.sb AS BIGINT)], '|')
        |  END AS mm_feat
        |FROM d LEFT JOIN px ON d.doc_id = px.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // constant-color fixture: a correct resampler maps constant -> constant,
    // so resized sums are channel * targetW * targetH (32x32)
    "multimodal_resize" ->
      """SELECT doc_id, CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
        |  CAST(((doc_id*7 + 3) % 256) * 1024 AS BIGINT) AS sum_r,
        |  CAST(((doc_id*11 + 5) % 256) * 1024 AS BIGINT) AS sum_g,
        |  CAST(((doc_id*13 + 7) % 256) * 1024 AS BIGINT) AS sum_b
        |FROM documents ORDER BY doc_id""".stripMargin,

    // last-touch attribution via DuckDB's native backward ASOF JOIN, touch
    // dedup per (user, ts) to the greatest payload (AsOfJoin's LatestPerKey
    // rule), DECIMAL(18,2)-exact revenue — in lock-step with
    // graft.operators.EventAnalytics.attribution
    "events_attribution" ->
      """WITH p AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, ts AS touch_ts, event_type AS touch_type FROM events
        |  WHERE event_type IN ('view', 'click')
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY event_type DESC) = 1),
        |m AS (
        |  SELECT p.value, t.touch_type, p.ts, t.touch_ts
        |  FROM p ASOF JOIN tch t
        |    ON p.user_id = t.user_id AND p.ts >= t.touch_ts),
        |mt AS (SELECT * FROM m
        |       WHERE epoch_us(ts) - epoch_us(touch_ts) <= 604800000000),
        |att AS (
        |  SELECT touch_type, COUNT(*) AS n_conversions,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM mt GROUP BY touch_type),
        |tot AS (SELECT COUNT(*) AS nt, SUM(CAST(value AS DECIMAL(18,2))) AS vt FROM p),
        |una AS (
        |  SELECT 'unattributed' AS touch_type,
        |    CAST(tot.nt - COALESCE((SELECT SUM(n_conversions) FROM att), 0)
        |         AS BIGINT) AS n_conversions,
        |    COALESCE(tot.vt, CAST(0 AS DECIMAL(18,2))) -
        |      COALESCE((SELECT SUM(v) FROM att), CAST(0 AS DECIMAL(18,2))) AS v
        |  FROM tot)
        |SELECT touch_type, CAST(n_conversions AS BIGINT) AS n_conversions,
        |  CAST(v AS DOUBLE) AS value_total
        |FROM (SELECT * FROM att UNION ALL SELECT * FROM una)
        |ORDER BY touch_type""".stripMargin,

    // epoch-aware global shuffle: sample_upsample's copies ordered by a
    // seeded hash of (doc, copy) — in lock-step with
    // graft.operators.Sampling.epochShuffle
    "sample_epoch_shuffle" ->
      s"""WITH w(source, whole, thr) AS (VALUES
         |  ('src0', 2, 5000), ('src1', 0, 5000), ('src2', 3, 0), ('src3', 0, 0)),
         |d AS (
         |  SELECT doc_id, documents.source,
         |    COALESCE(w.whole, 1) + CASE
         |      WHEN ${h60("'epoch:' || CAST(doc_id AS VARCHAR)")} % 10000 < COALESCE(w.thr, 0)
         |      THEN 1 ELSE 0 END AS n
         |  FROM documents LEFT JOIN w ON documents.source = w.source),
         |c AS (
         |  SELECT doc_id, source, CAST(copy_idx AS BIGINT) AS copy_idx FROM (
         |    SELECT doc_id, source, unnest(range(1, n + 1)) AS copy_idx
         |    FROM d WHERE n >= 1))
         |SELECT doc_id, source, copy_idx,
         |  ${h60("'eshuffle:7:' || CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR)")} AS shuffle_key
         |FROM c ORDER BY shuffle_key, doc_id, copy_idx""".stripMargin,

    // ordered 3-step funnel with a 7-day per-step gap bound, first-touch
    // step times — in lock-step with graft.operators.EventAnalytics.funnel
    "events_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS ts1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.ts1
        |    AND epoch_us(e.ts) - epoch_us(t1.ts1) <= 604800000000
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
        |    AND epoch_us(e.ts) - epoch_us(t2.ts2) <= 604800000000
        |  GROUP BY e.user_id),
        |c AS (SELECT (SELECT COUNT(*) FROM t1) AS n1,
        |             (SELECT COUNT(*) FROM t2) AS n2,
        |             (SELECT COUNT(*) FROM t3) AS n3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INT) AS step, 'view' AS event_type, n1 AS n_users,
        |    CASE WHEN n1 > 0 THEN n1 * 1000 // n1 ELSE 0 END AS conv_permille FROM c
        |  UNION ALL SELECT CAST(2 AS INT), 'click', n2,
        |    CASE WHEN n1 > 0 THEN n2 * 1000 // n1 ELSE 0 END FROM c
        |  UNION ALL SELECT CAST(3 AS INT), 'purchase', n3,
        |    CASE WHEN n1 > 0 THEN n3 * 1000 // n1 ELSE 0 END FROM c)
        |ORDER BY step""".stripMargin,

    // weekly signup-cohort retention matrix, Monday-aligned weeks, integer
    // per-mille — in lock-step with graft.operators.EventAnalytics.retention
    "events_retention" ->
      """WITH su AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |cs AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM su GROUP BY cohort_week),
        |act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |        FROM events),
        |r AS (
        |  SELECT su.cohort_week,
        |    CAST(date_diff('day', su.cohort_week, act.week) // 7 AS INT) AS week_offset,
        |    COUNT(DISTINCT su.user_id) AS n_active
        |  FROM su JOIN act USING (user_id)
        |  WHERE act.week >= su.cohort_week
        |  GROUP BY su.cohort_week, date_diff('day', su.cohort_week, act.week) // 7)
        |SELECT r.cohort_week, r.week_offset, r.n_active,
        |  r.n_active * 1000 // cs.cohort_size AS retention_permille
        |FROM r JOIN cs USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.transitionMatrix
    "events_transition" ->
      """WITH st AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_steps
        |  FROM st WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type),
        |tot AS (SELECT prev_type, CAST(SUM(n_steps) AS BIGINT) AS out_total
        |        FROM cnt GROUP BY prev_type)
        |SELECT c.prev_type, c.next_type, c.n_steps,
        |  c.n_steps * 1000 // t.out_total AS prob_permille
        |FROM cnt c JOIN tot t USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.rollingActive
    "events_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
        |contrib AS (
        |  SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |      CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ud),
        |roll AS (
        |  SELECT c.day, COUNT(*) AS active_7d
        |  FROM contrib c JOIN (SELECT day FROM dau) d USING (day)
        |  GROUP BY c.day)
        |SELECT dau.day, dau.dau, roll.active_7d
        |FROM dau JOIN roll USING (day)
        |ORDER BY day""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.valueAnomalies —
    // the z-test runs in exact integer centi-units (HUGEINT here, exact
    // DECIMAL(38,0) on the Spark side), so no float variance epsilon
    "events_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS q FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n, SUM(q) AS s,
        |    SUM(q * q) AS qq
        |  FROM ev GROUP BY event_type),
        |fl AS (
        |  SELECT ev.event_type,
        |    CASE WHEN (ev.q * m.n - m.s) * (ev.q * m.n - m.s) * 100 >
        |              400 * (m.n * m.qq - m.s * m.s)
        |      THEN 1 ELSE 0 END AS is_outlier
        |  FROM ev JOIN m USING (event_type))
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(is_outlier) AS BIGINT) AS n_outliers,
        |  CAST(SUM(is_outlier) AS BIGINT) * 1000 // COUNT(*) AS outlier_permille
        |FROM fl GROUP BY event_type ORDER BY event_type""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.cooccurrenceLift —
    // pure integer ppm, so no float epsilon cross-engine
    "events_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
        |pt AS (SELECT t, COUNT(*) AS n FROM ut GROUP BY t),
        |nu AS (SELECT COUNT(DISTINCT u) AS n_users FROM ut),
        |bo AS (
        |  SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |  GROUP BY a.t, b.t)
        |SELECT bo.type_a, bo.type_b, bo.n_both,
        |  CAST(CAST(bo.n_both AS HUGEINT) * nu.n_users * 1000000
        |       // (CAST(pa.n AS HUGEINT) * pb.n) AS BIGINT) AS lift_ppm
        |FROM bo
        |JOIN pt pa ON pa.t = bo.type_a
        |JOIN pt pb ON pb.t = bo.type_b
        |CROSS JOIN nu
        |ORDER BY type_a, type_b""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.valueHistogram —
    // the order-of-magnitude bucket is a string-length integer (a float
    // log10 would tie at exact powers of ten)
    "events_value_histogram" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(length(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)) - 1 AS INT) AS bucket
        |  FROM events),
        |c AS (SELECT event_type, bucket, COUNT(*) AS n_events
        |      FROM b GROUP BY event_type, bucket),
        |t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tt
        |      FROM c GROUP BY event_type)
        |SELECT c.event_type, c.bucket, c.n_events,
        |  c.n_events * 1000 // t.tt AS share_permille
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, bucket""".stripMargin,

    // in lock-step with graft.operators.EventAnalytics.churnProfile
    "events_churn" ->
      """WITH lw AS (
        |  SELECT user_id, CAST(date_trunc('week', MAX(ts)) AS DATE) AS last_week
        |  FROM events GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS n_users FROM lw)
        |SELECT lw.last_week, COUNT(*) AS n_last_active,
        |  COUNT(*) * 1000 // t.n_users AS share_permille
        |FROM lw CROSS JOIN t GROUP BY lw.last_week, t.n_users
        |ORDER BY last_week""".stripMargin,

    // in lock-step with graft.operators.TextAnalysis.dupNgramMass
    "text_dup_ngram_mass" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |s AS (SELECT unnest(${shinglesOf(3)}) AS sh FROM t),
         |c AS (SELECT sh, COUNT(*) AS cnt FROM s GROUP BY sh),
         |th AS (SELECT unnest([1, 5, 20]) AS threshold)
         |SELECT CAST(th.threshold AS INT) AS threshold,
         |  CAST(SUM(CASE WHEN c.cnt > th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
         |  CAST(SUM(CASE WHEN c.cnt > th.threshold THEN c.cnt ELSE 0 END) AS BIGINT) AS mass_over,
         |  CAST(SUM(c.cnt) AS BIGINT) AS total_mass,
         |  CAST(SUM(CASE WHEN c.cnt > th.threshold THEN c.cnt ELSE 0 END) * 1000000
         |       // SUM(c.cnt) AS BIGINT) AS dup_mass_ppm
         |FROM c CROSS JOIN th GROUP BY th.threshold ORDER BY threshold""".stripMargin,

    // in lock-step with graft.operators.Similarity.dimStats — mean/variance
    // from exact integer-quantized moments (the Lloyd discipline)
    "embedding_dim_stats" ->
      """WITH x AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS c
        |  FROM embeddings),
        |q AS (SELECT dim, c, CAST(floor(c * 1e9) AS HUGEINT) AS q FROM x)
        |SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n, MIN(c) AS vmin, MAX(c) AS vmax,
        |  CAST(SUM(q) AS DOUBLE) / (1e9 * COUNT(*)) AS mean,
        |  CAST(COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS DOUBLE) /
        |    (1e18 * CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)) AS variance
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    // in lock-step with graft.operators.TextAnalysis.pmiBigrams — every
    // operand cast to DOUBLE before the one left-associated ratio, ln,
    // round-6 (identical IEEE sequence to the Spark column expression)
    "text_pmi" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |bg AS (
         |  SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS term_a,
         |         unnest(list_slice(toks, 2, len(toks))) AS term_b
         |  FROM t WHERE len(toks) >= 2),
         |bc AS (SELECT term_a, term_b, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
         |uni AS (SELECT unnest(toks) AS term FROM t),
         |uc AS (SELECT term, COUNT(*) AS n_t FROM uni GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS t_total FROM uc),
         |btot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS b_total FROM bc)
         |SELECT bc.term_a, bc.term_b, bc.n_ab,
         |  round(ln(CAST(bc.n_ab AS DOUBLE) * CAST(t.t_total AS DOUBLE) * CAST(t.t_total AS DOUBLE) /
         |    (CAST(b.b_total AS DOUBLE) * CAST(ua.n_t AS DOUBLE) * CAST(ub.n_t AS DOUBLE))), 6) AS pmi
         |FROM bc
         |JOIN uc ua ON ua.term = bc.term_a
         |JOIN uc ub ON ub.term = bc.term_b
         |CROSS JOIN tot t CROSS JOIN btot b
         |WHERE bc.n_ab >= 5
         |ORDER BY pmi DESC, term_a, term_b""".stripMargin,

    // in lock-step with graft.operators.TextAnalysis.coverageCurve
    "text_coverage_curve" ->
      s"""WITH toks AS (SELECT unnest($toksOf) AS term FROM documents),
         |c AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t_total, COUNT(*) AS v_types FROM c),
         |r AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank,
         |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ROWS UNBOUNDED PRECEDING)
         |         AS BIGINT) AS cum
         |  FROM c QUALIFY rank <= 1000),
         |ks AS (SELECT unnest([10, 100, 1000]) AS k)
         |SELECT ks.k, CAST(r.rank AS INT) AS n_types,
         |  r.cum * 1000000 // t.t_total AS coverage_ppm
         |FROM ks CROSS JOIN tot t JOIN r ON r.rank = least(ks.k, t.v_types)
         |ORDER BY k""".stripMargin,

    // in lock-step with graft.operators.Similarity.labelMargin — label
    // centroids via the same exact integer-quantized means as lloydIterCte
    "embedding_label_margin" ->
      s"""WITH cent AS (
         |  SELECT label, list(cval ORDER BY idx) AS cvec FROM (
         |    SELECT label, idx, CAST(SUM(q) AS DOUBLE) / (1e9 * COUNT(*)) AS cval
         |    FROM (SELECT label, generate_subscripts(embedding, 1) AS idx,
         |            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e9) AS BIGINT) AS q
         |          FROM embeddings)
         |    GROUP BY label, idx) GROUP BY label),
         |sc AS (
         |  SELECT e.vec_id, e.label, c.label AS clabel,
         |    round(${cos("e.embedding", "c.cvec")}, 6) AS csim
         |  FROM embeddings e CROSS JOIN cent c),
         |own AS (SELECT vec_id, label, csim AS own_sim FROM sc WHERE label = clabel),
         |oth AS (
         |  SELECT vec_id, clabel AS best_other_label, csim AS best_other_sim FROM sc
         |  WHERE label <> clabel
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) = 1)
         |SELECT o.vec_id, o.label, o.own_sim, t.best_other_label, t.best_other_sim,
         |  round(o.own_sim - t.best_other_sim, 6) AS margin
         |FROM own o JOIN oth t USING (vec_id)
         |ORDER BY vec_id""".stripMargin,

    "grouped_topk" ->
      """SELECT c_mktsegment, CAST(rk AS INT) AS rank, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, rank""".stripMargin,

    "skew_salted_join" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "asof_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |b AS (
        |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1)
        |SELECT e.event_id, e.user_id, e.ts, b.o_orderkey, b.o_totalprice
        |FROM ev e ASOF JOIN b ON e.user_id = b.user_id AND e.ts >= b.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "asof_tolerance" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(ts AS TIMESTAMP) - INTERVAL 28 YEAR AS ts, user_id FROM events),
        |b AS (
        |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |m AS (
        |  SELECT e.event_id, e.user_id, e.ts, b.o_orderdate, b.o_orderkey, b.o_totalprice
        |  FROM ev e ASOF JOIN b ON e.user_id = b.user_id AND e.ts >= b.o_orderdate)
        |SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM m
        |WHERE epoch_us(ts) - epoch_us(CAST(o_orderdate AS TIMESTAMP)) <= 2592000000000
        |ORDER BY event_id""".stripMargin,

    // nearest-match as-of (pandas merge_asof direction="nearest"): backward
    // and forward best per probe via DuckDB's native ASOF LEFT JOIN in each
    // direction, then the smaller integer-µs gap wins with ties to backward
    // — in lock-step with graft.operators.AsOfJoin.asOfNearest
    "asof_nearest" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(ts AS TIMESTAMP) - INTERVAL 28 YEAR AS ts, user_id FROM events),
        |b AS (
        |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1),
        |bk AS (
        |  SELECT e.event_id, e.user_id, e.ts,
        |    b.o_orderdate AS b_date, b.o_orderkey AS b_key, b.o_totalprice AS b_price
        |  FROM ev e ASOF LEFT JOIN b ON e.user_id = b.user_id AND e.ts >= b.o_orderdate),
        |fw AS (
        |  SELECT e.event_id,
        |    b.o_orderdate AS f_date, b.o_orderkey AS f_key, b.o_totalprice AS f_price
        |  FROM ev e ASOF LEFT JOIN b ON e.user_id = b.user_id AND e.ts <= b.o_orderdate),
        |j AS (
        |  SELECT bk.*, fw.f_date, fw.f_key, fw.f_price,
        |    epoch_us(bk.ts) - epoch_us(CAST(bk.b_date AS TIMESTAMP)) AS bgap,
        |    epoch_us(CAST(fw.f_date AS TIMESTAMP)) - epoch_us(bk.ts) AS fgap,
        |    (bk.b_date IS NOT NULL AND (fw.f_date IS NULL OR
        |       epoch_us(bk.ts) - epoch_us(CAST(bk.b_date AS TIMESTAMP)) <=
        |       epoch_us(CAST(fw.f_date AS TIMESTAMP)) - epoch_us(bk.ts))) AS ub
        |  FROM bk JOIN fw USING (event_id)
        |  WHERE bk.b_date IS NOT NULL OR fw.f_date IS NOT NULL)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN ub THEN b_key ELSE f_key END AS o_orderkey,
        |  CASE WHEN ub THEN b_price ELSE f_price END AS o_totalprice,
        |  CASE WHEN ub THEN 'backward' ELSE 'forward' END AS matched_dir,
        |  CASE WHEN ub THEN bgap ELSE fgap END AS gap_us
        |FROM j ORDER BY event_id""".stripMargin,

    "asof_forward" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(ts AS TIMESTAMP) - INTERVAL 23 YEAR AS ts, user_id FROM events),
        |b AS (
        |  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1)
        |SELECT event_id, user_id, ts, o_orderkey, o_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, e.ts, b.o_orderkey, b.o_totalprice
        |  FROM ev e JOIN b ON e.user_id = b.user_id
        |    AND CAST(b.o_orderdate AS TIMESTAMP) >= e.ts
        |  QUALIFY row_number() OVER (PARTITION BY e.event_id ORDER BY b.o_orderdate) = 1)
        |ORDER BY event_id""".stripMargin,

    "sample_mix" ->
      s"""SELECT doc_id, source,
         |  ${h60("'mix:order:' || CAST(doc_id AS VARCHAR)")} % 10000 AS mix_order
         |FROM documents
         |WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000 WHEN 'src2' THEN 2500 ELSE -1 END
         |ORDER BY mix_order, doc_id""".stripMargin,

    "sample_cap_per_group" ->
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY (${h60("'quota:' || CAST(doc_id AS VARCHAR)")} % 1125899906842624) DESC,
         |               doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 50
         |ORDER BY source, doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60("'strata:' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'fr' THEN 1000 ELSE -1 END
         |ORDER BY doc_id""".stripMargin,

    "sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 10000 AS b
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // doc_pack / doc_pack_stats: the chunk CTEs mirror doc_chunk, then the
    // recursive CTE replays EXACTLY the engine's sharded next-fit walk —
    // rn advances per shard, a chunk joins the open bin iff it fits.
    "doc_pack" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (
         |  SELECT doc_id, n,
         |    unnest(generate_series(0,
         |      GREATEST(1, CAST(ceil((n - 16) / 48.0) AS INT)) - 1)) AS i
         |  FROM d),
         |k AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(LEAST(64, n - i * 48) AS INT) AS n_tokens,
         |    ${h60("'pack:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS h
         |  FROM c),
         |s AS (
         |  SELECT doc_id, chunk_idx, n_tokens, h, CAST(h % 8 AS INT) AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id, chunk_idx) AS rn
         |  FROM k),
         |r AS (
         |  SELECT shard, rn, doc_id, chunk_idx, n_tokens,
         |    0 AS bin, n_tokens AS fill, 0 AS pack_pos
         |  FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.shard, s.rn, s.doc_id, s.chunk_idx, s.n_tokens,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.bin ELSE r.bin + 1 END,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.fill + s.n_tokens ELSE s.n_tokens END,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.pack_pos + 1 ELSE 0 END
         |  FROM r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, chunk_idx, n_tokens, shard,
         |  CAST(bin AS INT) AS bin, CAST(pack_pos AS INT) AS pack_pos
         |FROM r ORDER BY shard, bin, pack_pos""".stripMargin,

    "doc_pack_stats" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (
         |  SELECT doc_id, n,
         |    unnest(generate_series(0,
         |      GREATEST(1, CAST(ceil((n - 16) / 48.0) AS INT)) - 1)) AS i
         |  FROM d),
         |k AS (
         |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(LEAST(64, n - i * 48) AS INT) AS n_tokens,
         |    ${h60("'pack:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS h
         |  FROM c),
         |s AS (
         |  SELECT doc_id, chunk_idx, n_tokens, h, CAST(h % 8 AS INT) AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id, chunk_idx) AS rn
         |  FROM k),
         |r AS (
         |  SELECT shard, rn, n_tokens, 0 AS bin, n_tokens AS fill
         |  FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.shard, s.rn, s.n_tokens,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.bin ELSE r.bin + 1 END,
         |    CASE WHEN r.fill + s.n_tokens <= 512 THEN r.fill + s.n_tokens ELSE s.n_tokens END
         |  FROM r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
         |SELECT shard, CAST(bin AS INT) AS bin,
         |  CAST(COUNT(*) AS INT) AS n_chunks,
         |  CAST(SUM(n_tokens) AS INT) AS fill,
         |  CAST(floor(SUM(n_tokens) * 1000.0 / 512) AS INT) AS util_permille
         |FROM r GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    "doc_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksOf AS toks FROM documents),
         |d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (
         |  SELECT doc_id, toks, n,
         |    unnest(generate_series(0,
         |      GREATEST(1, CAST(ceil((n - 16) / 48.0) AS INT)) - 1)) AS i
         |  FROM d)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(LEAST(64, n - i * 48) AS INT) AS n_tokens,
         |  array_to_string(toks[i*48+1 : i*48+64], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "bloom_prefilter_join" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "interval_bucket_join" ->
      """WITH iv AS (
        |  SELECT CAST(i AS INT) AS iv_id, i*25000.0 - 2500.0 AS lo, (i+1)*25000.0 + 2500.0 AS hi
        |  FROM generate_series(0, 23) AS t(i))
        |SELECT iv_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN iv ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin,

    // multi-page TIFF "video": 2-5 solid pages per doc, stride-2 sampled;
    // per-frame sums are closed-form constant-color * geometry
    "multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
        |    unnest(range(0, 2 + doc_id % 4, 2)) AS fi
        |  FROM documents)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(((doc_id*7 + fi*31 + 3) % 256) * w * h AS BIGINT) AS sum_r,
        |  CAST(((doc_id*11 + fi*37 + 5) % 256) * w * h AS BIGINT) AS sum_g,
        |  CAST(((doc_id*13 + fi*41 + 7) % 256) * w * h AS BIGINT) AS sum_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // in lock-step with graft.operators.Multimodal.imagePhash — the hash is
    // recomputed in CLOSED FORM from the fixture's pixel formula (the engine
    // must really decode the PNG to reproduce it); bit 63 is the min-long
    // literal because DuckDB ERRORS on 1<<63 instead of wrapping
    "multimodal_phash" ->
      s"""$phashCtes
         |SELECT doc_id, phash FROM h ORDER BY doc_id""".stripMargin,

    // in lock-step with graft.operators.Multimodal.phashPairs: same 4×16-bit
    // banding (arithmetic shift + mask reads the same bits in both engines),
    // exact bit_count(xor) verify
    "multimodal_phash_pairs" ->
      s"""$phashCtes,
         |ch AS (
         |  SELECT doc_id, phash, cs.c AS chunk_id,
         |    (phash >> CAST(cs.c * 16 AS INT)) & 65535 AS chunk_val
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS c) cs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.phash AS ha, b.phash AS hb
         |  FROM ch a JOIN ch b ON a.chunk_id = b.chunk_id
         |    AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // full recompute over the whole changelog — the delta-maintained
    // aggregate must land on exactly this
    "view_maintain" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |latest AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT event_type, COUNT(*) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM latest WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
