package graft

import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Text}
import graft.operators.{Dedup, IvfPqParams, LatestPerKey, LloydParams, Multimodal, Surface,
  TextAnalysis}
import graft.sources.Tables

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("LatestPerKey keeps the max-ordered row per key") {
    val df = Seq(
      ("k1", 1L, "a"), ("k1", 3L, "c"), ("k1", 2L, "b"),
      ("k2", 10L, "x")).toDF("key", "seq", "v")
    val got = LatestPerKey(df, Seq("key"), Seq("seq"))
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(("k1", 3L, "c"), ("k2", 10L, "x")))
  }

  test("LatestPerKey supports composite keys and composite ordering") {
    val df = Seq(
      ("k1", "x", 1L, 1L, "old"), ("k1", "x", 1L, 2L, "new"),
      ("k1", "y", 9L, 0L, "only")).toDF("k", "sub", "ord1", "ord2", "v")
    val got = LatestPerKey(df, Seq("k", "sub"), Seq("ord1", "ord2"))
      .orderBy("k", "sub").collect().map(_.getString(4)).toSeq
    assert(got == Seq("new", "only"))
  }

  test("dedup operators are safe on empty and trivial inputs") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minHashLshPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simHashPairs(empty, "doc_id", "text").count() == 0)
    // single short doc: no shingles, no pairs, no crash
    val one = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardCappedPairs(one, "doc_id", "text").count() == 0)
    // exact-substring family: empty/short corpora and empty holdouts
    assert(Dedup.exactSubstringPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.exactSubstringPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.exactSubstringContamination(one, empty, "doc_id", "text").count() == 0)
    assert(Dedup.exactSubstringContamination(empty, one, "doc_id", "text").count() == 0)
    // deterministic shuffle of nothing is nothing (and keeps the schema)
    val sh = graft.operators.Sampling.deterministicShuffle(empty, "doc_id", seed = 1L)
    assert(sh.count() == 0 && sh.columns.toSeq == Seq("doc_id", "text", "shuffle_key"))
  }

  test("hash60 matches the documented DuckDB formula on a known value") {
    // md5("abc") = 900150983cd24fb0d6963f7d28e17f72; first 15 hex chars as long
    val got = Seq("abc").toDF("s").select(Hashing.hash60(col("s"))).head.getLong(0)
    assert(got == java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("Md5Prefix60 expression equals the conv(md5) composition on random strings") {
    val rnd = new scala.util.Random(3)
    val strs = (1 to 500).map(_ => rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString)
    val both = strs.toDF("s").select(
      Hashing.hash60(col("s")).as("fast"),
      Hashing.hash60Composed(col("s")).as("composed")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("wordShingles: k-grams, short docs empty") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Text.wordShingles(Text.tokens(col("text")), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("codegen DotProduct is bit-identical to the fold formulation") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      graft.functions.Vectors.dot(col("a"), col("b")).as("codegen"),
      graft.functions.Vectors.foldDot(col("a"), col("b")).as("fold")).collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("simhash pigeonhole candidates are exact: equals brute-force cross join") {
    val rnd = new scala.util.Random(13)
    val vocab = (1 to 40).map(i => s"w$i")
    def doc(n: Int) = (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // random docs + mutated near-copies to guarantee small-distance pairs
    val base = (0 until 25).map(i => (i.toLong, doc(30)))
    val mutated = base.take(8).map { case (i, t) =>
      (100L + i, t.split(" ").updated(3, "mutant").mkString(" "))
    }
    val docs = (base ++ mutated).toDF("doc_id", "text")
    val viaChunks = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force from the same fingerprints
    val fps = docs
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .withColumn("h", graft.functions.Hashing.hash60(col("t")))
      .groupBy("doc_id")
      .agg(graft.plans.SimHashAggregate.simhash(col("h"), 60).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, fa) <- fps; (idb, fb) <- fps if ida < idb
      d = java.lang.Long.bitCount(fa ^ fb) if d <= 3
    } yield (ida, idb, d)).toSet
    assert(viaChunks == brute)
    assert(brute.nonEmpty, "mutated docs should produce close pairs")
  }

  test("ngram and minhash dedup agree on the planted near-dups (sf0.001)") {
    val docs = Tables.table(spark, sf0001, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixtures should contain planted near-duplicates")
    // LSH candidates are verified with exact Jaccard, so lsh ⊆ exact;
    // with 16 bands of 4 rows at J≈0.98 recall should be total.
    assert(lsh == exact)
  }

  test("simhash pairs are symmetric-free and within distance") {
    val docs = Tables.table(spark, sf0001, "documents")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getInt(2) <= 3))
  }

  test("imageioResize: constant-color sums at target geometry, from real decodes") {
    val docs = Tables.table(spark, sf0001, "documents").limit(12)
    val rows = Multimodal.imageioResize(spark, docs, 32, 32).collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (cr, cg, cb) = Multimodal.solidColor(id)
      assert(r.getInt(1) == 32 && r.getInt(2) == 32)
      assert(r.getLong(3) == cr.toLong * 1024, s"sum_r mismatch for doc $id")
      assert(r.getLong(4) == cg.toLong * 1024)
      assert(r.getLong(5) == cb.toLong * 1024)
    }
  }

  test("imageioFrames: TIFF pages stride-sampled, per-frame sums closed-form") {
    val docs = Tables.table(spark, sf0001, "documents").limit(12)
    val rows = Multimodal.imageioFrames(spark, docs, stride = 2).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, frames) =>
      val w = 8 + (id % 5).toInt
      val h = 6 + (id % 4).toInt
      val nFrames = 2 + (id % 4).toInt
      val expectIdx = (0 until nFrames by 2).toSeq
      assert(frames.map(_.getInt(1)).toSeq.sorted == expectIdx)
      frames.foreach { r =>
        val fi = r.getInt(1)
        val (cr, cg, cb) = Multimodal.solidColor(id, fi)
        assert(r.getInt(2) == w && r.getInt(3) == h)
        assert(r.getLong(4) == cr.toLong * w * h, s"sum_r mismatch doc $id frame $fi")
        assert(r.getLong(5) == cg.toLong * w * h)
        assert(r.getLong(6) == cb.toLong * w * h)
      }
    }
  }

  test("mixedFeatures: PNG rows decode real pixels, stand-in rows take the stub path") {
    val docs = Tables.table(spark, sf0001, "documents").limit(12)
    val rows = Multimodal.mixedFeatures(spark, docs).collect()
    assert(rows.length == 12)
    assert(rows.exists(_.getString(1) == "text") && rows.exists(_.getString(1) == "image"))
    rows.foreach { r =>
      val id = r.getLong(0)
      val feat = r.getString(3).split('|').map(_.toLong)
      if (id % 3 == 0) {
        assert(r.getString(1) == "text" && feat.length == 3)
        // capability probe: the stub reason comes from the LIVE ImageIO
        // registry (no installed reader claims text bytes), not a label
        assert(r.getString(2) == "stubbed:no-installed-codec")
        assert(feat(2) == id % 7)
      } else {
        assert(r.getString(1) == "image" && feat.length == 5)
        assert(r.getString(2) == "decoded:png")
        val w = 8 + (id % 8).toInt
        val h = 8 + (id % 5).toInt
        // closed-form pattern sums — only a REAL decode reproduces these
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          sr += (id + x * 7L + y * 13L) % 256
          sg += (id * 3L + x * 11L + y) % 256
          sb += (id * 5L + x + y * 17L) % 256
        }
        assert(feat.toSeq == Seq(w.toLong, h.toLong, sr, sg, sb), s"pixel sums mismatch doc $id")
      }
    }
  }

  test("applyDedup: non-canonical cluster members removed, unpaired docs pass through") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"), (10L, "s2"), (20L, "s2"))
      .toDF("doc_id", "source")
    // {1,2,3} chain into one cluster (canonical 1); 10 and 20 are unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.applyDedup(corpus, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L), s"survivors wrong: $kept")
    // empty pair list: identity
    assert(Dedup.applyDedup(corpus, Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
      "doc_id").count() == 5)
  }

  test("applyDecontamination: span-threshold gate drops quotes, tolerates short overlap") {
    import spark.implicits._
    import graft.operators.Dedup
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val quote20 = (1 to 20).map(i => s"z$i").mkString(" ")
    val quote14 = (1 to 14).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, s"${filler("a", 3)} $quote20 ${filler("b", 3)}"),  // 20-token quote: dropped
      (2L, s"${filler("c", 3)} $quote14 ${filler("d", 3)}"),  // 14 < 20: survives
      (3L, filler("e", 30))).toDF("doc_id", "text")           // clean: survives
    val holdout = Seq((100L, s"$quote20 x1 x2 $quote14")).toDF("doc_id", "text")
    val kept = Dedup.applyDecontamination(train, holdout, "doc_id", "text",
        n = 13, minSpanTokens = 20)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"survivors wrong: $kept")
    // at the canonical 13-token rule, doc 2 drops too
    val strict = Dedup.applyDecontamination(train, holdout, "doc_id", "text",
        n = 13, minSpanTokens = 13)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(3L), s"strict survivors wrong: $strict")
  }

  test("MixedCodec sniffs payloads: PNG routes to ImageIO, anything else to the stub") {
    import graft.operators.Multimodal.{ImageIoCodec, MediaRow, MixedCodec, StubCodec}
    val png = ImageIoCodec.encodePng(ImageIoCodec.solidImage(4, 3, 10, 20, 30))
    val raw = "not an image".getBytes("UTF-8")
    // features: PNG -> 5-wide pixel features; raw -> 3-wide stub features
    assert(MixedCodec.features(MediaRow(1L, png, 0L)).feat.toSeq ==
      Seq(4.0, 3.0, 120.0, 240.0, 360.0))
    assert(MixedCodec.features(MediaRow(1L, raw, 5L)).feat.toSeq ==
      StubCodec.features(MediaRow(1L, raw, 5L)).feat.toSeq)
  }

  test("langId: argmax scoring, deterministic ties, und fallback") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the cat and the dog of the house", "en"), // en stopwords dominate
      (2L, "der hund und die katze ist da", "de"),    // de stopwords dominate
      (3L, "qqq www eee rrr", "xx"),                  // no stopwords at all
      (4L, "the der", "xx")                           // 1-1 tie -> 'de' < 'en'
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(spark, docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L)._1 == "en" && got(1L)._2 == 5)
    assert(got(2L)._1 == "de" && got(2L)._2 == 4) // der, und, die, ist
    assert(got(3L) == ("und", 0L))
    assert(got(4L)._1 == "de") // lexicographically smallest on equal score
  }

  test("as-of join: latest build row at or before each probe, inner semantics") {
    import graft.operators.AsOfJoin
    val build = Seq((1L, 10L, "a"), (1L, 20L, "b"), (3L, 5L, "z"))
      .toDF("k", "bt", "v")
    val probe = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 15L),
      (103L, 1L, 25L), (104L, 2L, 50L)).toDF("id", "k", "pt")
    val got = AsOfJoin.asOf(probe, build, "k", "pt", "bt")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    // probe@5 has no earlier build (dropped); @10 matches the equal-time "a";
    // @15 still "a"; @25 the later "b"; key 2 has no builds (dropped)
    assert(got == Map(101L -> "a", 102L -> "a", 103L -> "b"))
  }

  test("sampling: deterministic, stable under growth, splits partition the corpus") {
    import graft.operators.Sampling
    val docs = Tables.table(spark, sf0001, "documents")
    def assigned(df: org.apache.spark.sql.DataFrame) = Sampling.split(df, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = assigned(docs)
    assert(s1 == assigned(docs), "same corpus, same split")
    // assignment is per-key: splitting a subset yields the same assignment
    val subset = assigned(docs.filter(col("doc_id") < 250))
    assert(subset == s1.filter(_._1 < 250), "row assignment independent of corpus contents")
    // splits are a partition
    val splits = s1.groupBy(_._2).map { case (k, v) => k -> v.size }
    assert(splits.keySet.subsetOf(Set("train", "valid", "test")))
    assert(splits.values.sum == docs.count())
  }

  test("IVF with Lloyd k-means: recall vs brute force; centroids are real means") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, "/root/testdata/sf0.01", "embeddings")
    val k = 5
    // recall@5 across several probes: the nprobe=2 bucket scan must recover
    // most of the exact top-k (ANN quality gate, not an exactness gate)
    val probes = Seq(0L, 7L, 42L, 99L, 123L)
    val recalls = probes.map { p =>
      val exact = Similarity.bruteForceTopK(emb, p, k).collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfTopK(emb, p, k).collect().map(_.getLong(0)).toSet
      exact.intersect(ivf).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 over ${probes.size} probes: $mean%.2f (${recalls.mkString(", ")})")
    assert(mean >= 0.5, s"mean recall $mean below 0.5: $recalls")
    // Lloyd actually moved the centroids: means are not data vectors
    val cents = Similarity.lloydCentroids(emb, nlist = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.nonEmpty && cents.size <= 8)
    val dataVecs = emb.filter(col("vec_id") < 8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble)).toSet
    assert(cents.values.forall(c => !dataVecs.contains(c)), "centroids still raw data vectors")
  }

  test("normalizedDedup: case/punctuation/whitespace variants collapse; distinct texts don't") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val got = TextAnalysis.normalizedDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L))
  }

  test("contaminationReport: planted benchmark overlap found, clean docs absent") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains the bench 5-gram
      (2L, "completely unrelated training text with many words here")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "quick brown fox jumps over everything")).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, bench, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L)) // exactly one shared 5-shingle, doc 2 clean
  }

  test("fuzzyContamination: mutated near-copy flagged with verified Jaccard, unrelated doc clean") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu red green blue gold"
    val train = Seq(
      (1L, a),
      (2L, "completely different words about cooking pasta sauce tomatoes " +
        "basil garlic olive oil heat pan stir serve dinner guests table wine"))
      .toDF("doc_id", "text")
    // the holdout "paraphrases" doc 1: two token substitutions break the
    // verbatim runs but leave most of the 3-shingle set intact
    val holdout = Seq(
      (100L, a.replace("echo", "exx").replace("tango", "txx")))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyContamination(train, holdout, "doc_id", "text",
        k = 3, numPerm = 64, bands = 32, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 100L)),
      s"expected exactly the planted pair, got ${got.toSeq}")
    assert(got.head._3 >= 0.4 && got.head._3 < 1.0,
      s"verified Jaccard should be high but below 1 after mutation, got ${got.head._3}")
  }

  test("fuzzyContamination: sub-threshold overlap is verified away, not flagged") {
    // shares a single 3-shingle with the holdout (banding may or may not
    // collide — exact verification must keep it out either way)
    val train = Seq(
      (1L, "shared prefix here then totally divergent content follows with " +
        "many unrelated tokens downstream of the common opening words"))
      .toDF("doc_id", "text")
    val holdout = Seq(
      (100L, "shared prefix here but afterwards everything differs entirely " +
        "across the remaining stretch of benchmark prompt material"))
      .toDF("doc_id", "text")
    assert(Dedup.fuzzyContamination(train, holdout, "doc_id", "text",
      k = 3, numPerm = 64, bands = 32, threshold = 0.4).count() == 0)
  }

  test("applyFuzzyDecontamination: flagged doc dropped, sub-threshold docs survive") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val train = Seq(
      (1L, a),
      (2L, "completely different words about cooking pasta sauce tomatoes " +
        "basil garlic olive oil heat pan stir serve dinner guests"))
      .toDF("doc_id", "text")
    val holdout = Seq((100L, a.replace("echo", "exx"))).toDF("doc_id", "text")
    val survivors = Dedup.applyFuzzyDecontamination(train, holdout, "doc_id", "text",
        k = 3, numPerm = 64, bands = 32, threshold = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(2L), s"doc 1 must drop, doc 2 must survive: $survivors")
  }

  test("substringTrimApply: >= minSpan verbatim run cut from the HIGHER-id copy only") {
    // doc 1 is canonical; doc 2 quotes doc 1's 24-token span verbatim inside
    // unique surrounding content; doc 3 shares only a 15-token run (< 20)
    val span = (1 to 24).map(i => s"q$i").mkString(" ")
    val shortSpan = (1 to 15).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, s"$span alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"intro unique words here $span outro trailing content tail"),
      (3L, s"totally other opening text $shortSpan closing remarks end"))
      .toDF("doc_id", "text")
    val got = Dedup.substringTrimApply(train, "doc_id", "text",
        n = 13, minSpan = 20, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val byId = got.map(t => t._1 -> t).toMap
    // canonical copy untouched (normalized rejoin only)
    assert(byId(1L)._3 == 0L && byId(1L)._2.startsWith("q1 q2"))
    // higher-id copy: exactly the 24 quoted tokens removed, rest survives in order
    assert(byId(2L)._3 == 24L, s"doc 2 should lose the 24-token span: ${byId(2L)}")
    assert(byId(2L)._2 == "intro unique words here outro trailing content tail")
    // sub-threshold overlap survives whole
    assert(byId(3L)._3 == 0L && byId(3L)._2.contains("q1"))
  }

  test("substringTrimApply: overlapping spans from different partners cut each position once") {
    // doc 3 quotes doc 1's tokens 0..23 AND doc 2's tokens which overlap the
    // same region shifted by 4 — covered positions union, no double count
    val a = (1 to 28).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (1L, (1 to 24).map(i => s"w$i").mkString(" ")),
      (2L, (5 to 28).map(i => s"w$i").mkString(" ")),
      (3L, s"$a unique tail of document three here"))
      .toDF("doc_id", "text")
    val got = Dedup.substringTrimApply(train, "doc_id", "text",
        n = 13, minSpan = 20, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val byId = got.map(t => t._1 -> t).toMap
    // doc 3's w1..w28 region is fully covered by the union of both quotes
    assert(byId(3L)._3 == 28L, s"doc 3 should lose all 28 covered tokens: ${byId(3L)}")
    assert(byId(3L)._2 == "unique tail of document three here")
    // doc 2 vs doc 1 share w5..w24 (20 tokens >= minSpan): doc 2 trims those
    assert(byId(2L)._3 == 20L, s"doc 2 should lose the 20-token overlap: ${byId(2L)}")
    assert(byId(1L)._3 == 0L)
  }

  test("semanticContamination: perturbed near-copy flagged, orthogonal vector clean") {
    import graft.operators.Similarity
    // 8-dim: vec 1 ~ holdout 100 (one dim zeroed, cosine ~ 0.997);
    // vec 2 orthogonal to everything
    val v1 = Array(1.0f, 2.0f, 3.0f, 4.0f, 0.3f, 1.5f, 2.5f, 0.7f)
    val hold = v1.clone(); hold(4) = 0.0f
    val v2 = Array(-4.0f, 3.0f, -2.0f, 1.0f, -1.0f, 0.5f, -0.5f, 2.0f)
    val train = Seq((1L, v1.toSeq), (2L, v2.toSeq)).toDF("vec_id", "embedding")
    val holdout = Seq((100L, hold.toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(train, holdout, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 100L)),
      s"expected exactly the planted pair, got $got")
    assert(got.head._3 > 0.99 && got.head._3 < 1.0)
    val survivors = Similarity.applySemanticDecontamination(train, holdout, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(2L), s"vec 1 must drop, vec 2 must survive: $survivors")
  }

  test("round-11 stored-index operators are safe on empty and trivial inputs") {
    import graft.operators.{Dedup, TextAnalysis}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val oneDoc = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // empty stored corpus: the index persists as empty (schema-bearing)
    // tables and flagging anything against it returns nothing
    val dir1 = tempDir("graft-mh-e1")
    Dedup.minhashIndexStore(emptyDocs, dir1, "doc_id", "text")
    assert(Dedup.dedupIncremental(spark, dir1, oneDoc, "doc_id", "text").count() == 0)
    // empty ingest batch against a real store
    val dir2 = tempDir("graft-mh-e2")
    Dedup.minhashIndexStore(oneDoc, dir2, "doc_id", "text")
    assert(Dedup.dedupIncremental(spark, dir2, emptyDocs, "doc_id", "text").count() == 0)
    // BPE store on an empty corpus: zero merges, empty type table, and the
    // stored encode of ANY corpus is empty (no vocabulary to join)
    val dir3 = tempDir("graft-bpe-e")
    TextAnalysis.bpeStore(emptyDocs, dir3)
    assert(spark.read.parquet(s"$dir3/merges").count() == 0)
    assert(TextAnalysis.bpeEncodeStored(spark, dir3, oneDoc).count() == 0)
    // empty input through the bucketed token budget keeps schema, no rows
    val tb = graft.operators.Sampling.tokenBudgetPerSource(
      emptyDocs.withColumn("source", lit("s")), "doc_id", "source", "text", 10L)
    assert(tb.count() == 0 &&
      tb.columns.toSeq == Seq("doc_id", "source", "n_tokens", "cum_tokens"))
  }

  test("dedupIncremental: equals union-corpus cross pairs; append extends the store") {
    val d = Tables.table(spark, sf0001, "documents")
    val stored = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    val dir = tempDir("graft-mh")
    Dedup.minhashIndexStore(stored, dir, "doc_id", "text", k = 3, numPerm = 64, bands = 16)
    val inc = Dedup.dedupIncremental(spark, dir, batch, "doc_id", "text",
        k = 3, numPerm = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: the full union-corpus pair run restricted to cross pairs,
    // re-keyed (new, old) — incremental must see exactly what a from-scratch
    // rerun over history + batch would see
    val union = Dedup.minHashLshPairs(d, "doc_id", "text", k = 3, numPerm = 64,
        bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, jac) => if (a % 10 == 0) (a, b, jac) else (b, a, jac) }.toSet
    assert(inc == union, s"incremental=$inc union=$union")
    assert(inc.nonEmpty, "fixture produced no cross pairs — the equality is vacuous")
  }

  test("hyperplane-LSH entry points fail loudly on a ragged embedding corpus") {
    import graft.operators.Similarity
    // widths 4 and 2: the first-row-derived hyperplanes would silently
    // mis-project the short vector — the guard must throw instead
    val ragged = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val holdout = Seq((9L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.embeddingLshPairs(ragged, threshold = 0.5)
    }
    assert(e1.getMessage.contains("ragged"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semanticContamination(ragged, holdout)
    }
    assert(e2.getMessage.contains("ragged"), e2.getMessage)
  }

  test("bpeTrain: exact merge table on a hand-computed corpus, greedy no-overlap") {
    // corpus: "ab ab ab aaa" -> types: ab(cnt 3), aaa(cnt 1)
    // round 1 pairs: (a,b) 3; (a,a) 2 -> merge (a,b,3); ab -> "ab", aaa unchanged
    // round 2 pairs: (a,a) 2 -> merge (a,a,2); aaa -> "aa a" (greedy: no overlap reuse)
    // round 3 pairs: (aa,a) 1 -> merge (aa,a,1) -> all words single-symbol
    val docs = Seq((1L, "ab ab ab aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a", "b", 3L), (2L, "a", "a", 2L), (3L, "aa", "a", 1L)),
      s"unexpected merge table: $got")
  }

  test("bpeMergeFold == reference greedy merge on 500 random symbol sequences") {
    // the SQL fold (first-element-seeded, suffix-boundary-checked) must equal
    // a plain Scala greedy left-to-right merge for ANY symbol sequence and
    // pair — including multi-char symbols that are prefixes/suffixes of each
    // other (the string-boundary hazard the right()/left() clauses guard)
    val alphabet = Vector("a", "b", "ab", "ba", "aa")
    val rnd = new scala.util.Random(42)
    val seqs = (1 to 500).map(_ =>
      (1 to (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(alphabet.size))).toList)
    def ref(syms: List[String], pa: String, pb: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == pa && x == pb) acc.init :+ (pa + pb)
        else acc :+ x
      }
    for ((pa, pb) <- Seq(("a", "b"), ("a", "a"), ("ab", "a"), ("b", "ab"), ("aa", "ba"))) {
      val df = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "syms")
      val got = df.select(col("id"), split(TextAnalysis.bpeMergeFold(pa, pb), " ").as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      for ((s, i) <- seqs.zipWithIndex) {
        val expected = ref(s, pa, pb)
        assert(got(i.toLong) == expected,
          s"pair ($pa,$pb) on $s: got ${got(i.toLong)}, expected $expected")
      }
    }
  }

  test("bpeEncode: symbol counts follow the learned merges exactly") {
    val docs = Seq((1L, "ab ab ab aaa")).toDF("doc_id", "text")
    // after 1 merge (a,b): ab -> 1 symbol, aaa -> 3 symbols
    val one = TextAnalysis.bpeEncode(docs, nMerges = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(one == Seq((1L, 4L, 6L, 666L)), s"nMerges=1: $one") // floor(6000/9)
    // after full training (3 merges fire): both words collapse to 1 symbol
    val full = TextAnalysis.bpeEncode(docs, nMerges = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(full == Seq((1L, 4L, 4L, 444L)), s"nMerges=5: $full") // floor(4000/9)
  }

  test("bpeStore/bpeEncodeStored: stored encode == one-shot, plan has no training rounds") {
    val d = Tables.table(spark, sf0001, "documents")
    val dir = tempDir("graft-bpe")
    TextAnalysis.bpeStore(d, dir, nMerges = 10)
    // the persisted merge list IS bpeTrain's output
    val merges = spark.read.parquet(s"$dir/merges").orderBy("merge_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val trained = TextAnalysis.bpeTrain(d, nMerges = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == trained, "stored merge list must equal bpeTrain's")
    // encode-from-store is bit-identical to the one-shot train+encode
    val stored = TextAnalysis.bpeEncodeStored(spark, dir, d)
    val oneShot = TextAnalysis.bpeEncode(d, nMerges = 10)
    assert(stored.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(stored).count() == 0,
      "stored encode diverged from the one-shot encode")
    // train-once/encode-many: the stored plan reads the parquet store and
    // contains NONE of the checkpointed merge rounds (which surface as
    // ExistingRDD scans in the one-shot plan)
    val storedPlan = stored.queryExecution.executedPlan.toString
    assert(!storedPlan.contains("Scan ExistingRDD"),
      s"training rounds leaked into the stored-encode plan:\n$storedPlan")
    assert(oneShot.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"),
      "sanity: the one-shot plan should carry the checkpointed type table")
  }

  test("bpeTrain: tie-break is lexicographic and merges chain across rounds") {
    // "cd cd ce ce": round 1 pairs (c,d) 2 and (c,e) 2 tie -> (c,d) wins;
    // round 2: (c,e) 2
    val docs = Seq((1L, "cd cd ce ce")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, nMerges = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(("c", "d", 2L), ("c", "e", 2L)), s"got $got")
  }

  test("upsampleMix: floor/ceil copies by weight, zero drops, absent source keeps one") {
    import graft.operators.Sampling
    val docs = (1L to 40L).map(i =>
      (i, s"s${i % 4}", s"text $i")).toDF("doc_id", "source", "text")
    val got = Sampling.upsampleMix(docs, "doc_id", "source",
        Map("s0" -> 2.5, "s1" -> 0.5, "s2" -> 3.0, "s3" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    for (i <- 1L to 40L) {
      val copies = byDoc.getOrElse(i, Nil)
      (i % 4) match {
        case 0 => assert(copies == (1L to copies.length) &&
          (copies.length == 2 || copies.length == 3), s"s0 doc $i: $copies")
        case 1 => assert(copies.length <= 1, s"s1 doc $i: $copies")
        case 2 => assert(copies == Seq(1L, 2L, 3L), s"s2 doc $i: $copies") // exact 3.0
        case 3 => assert(copies.isEmpty, s"s3 doc $i must drop: $copies")
      }
    }
    // a source absent from the weight map keeps exactly one copy
    val one = Sampling.upsampleMix(docs, "doc_id", "source", Map("s0" -> 2.0))
      .filter(col("source") =!= "s0").groupBy("doc_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(one == Set(1L))
    // determinism
    val again = Sampling.upsampleMix(docs, "doc_id", "source",
        Map("s0" -> 2.5, "s1" -> 0.5, "s2" -> 3.0, "s3" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == got.toSeq)
  }

  test("tokenBudgetPerSource: hash-ordered prefix kept per source, budget binds on tokens") {
    import graft.operators.Sampling
    // 3 docs per source, 10 tokens each, budget 20 -> exactly 2 kept per
    // source (whichever two hash first), cum_tokens 10 then 20
    def txt(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, "sA", txt("a")), (2L, "sA", txt("b")), (3L, "sA", txt("c")),
      (4L, "sB", txt("d")), (5L, "sB", txt("e")), (6L, "sB", txt("f")))
      .toDF("doc_id", "source", "text")
    val got = Sampling.tokenBudgetPerSource(docs, "doc_id", "source", "text", budget = 20L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 4, s"two docs per source expected: ${got.toSeq}")
    val bySrc = got.groupBy(_._2)
    for ((src, rows) <- bySrc) {
      assert(rows.map(_._4).sorted.toSeq == Seq(10L, 20L),
        s"$src cumulative sums: ${rows.toSeq}")
      assert(rows.forall(_._3 == 10L))
    }
    // determinism: same input, same selection
    val again = Sampling.tokenBudgetPerSource(docs, "doc_id", "source", "text", budget = 20L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
  }

  test("tokenBudgetPerSource: bucketed result is invariant in nBuckets") {
    import graft.operators.Sampling
    // 3 sources, variable token counts; nBuckets swept across degenerate
    // (1 = the old one-window-per-source semantics), non-power-of-two,
    // default, and over-provisioned values — the kept set and cum_tokens
    // must be bit-identical regardless of bucketing
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("s"), col("id") % 3).as("source"),
      expr("array_join(transform(sequence(0, CAST(pmod(id, 7) AS INT)), " +
        "j -> concat('t', id, '_', j)), ' ')").as("text"))
    def run(nb: Int) = Sampling.tokenBudgetPerSource(docs, "doc_id", "source",
        "text", budget = 200L, nBuckets = nb)
      .collect().toSeq.map(_.toSeq)
    val reference = run(1) // one bucket == the plain per-source running sum
    assert(reference.nonEmpty)
    for (nb <- Seq(3, 7, 64, 1000))
      assert(run(nb) == reference, s"nBuckets=$nb diverged from the single-bucket semantics")
  }

  test("sourceOverlap: cross-source pairs counted once, same-source pairs excluded") {
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon"),
      (5L, "s1", "alpha beta gamma other tail words"), // same trigram, source s1
      (2L, "s2", "zz alpha beta gamma yy qq rr"),
      (3L, "s2", "totally different content here words"),
      (4L, "s3", "unrelated text again for three more"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs, "doc_id", "text", "source", k = 3, maxDf = 50)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // docs 1 and 5 (both s1) each share "alpha beta gamma" with doc 2 (s2):
    // two cross pairs, two distinct a-side docs, one b-side doc. The s1-s1
    // pair (1,5) is excluded; s3 shares nothing.
    assert(got == Seq(("s1", "s2", 2L, 2L, 1L)), s"got $got")
  }

  test("qualityFilterApply: every gate vetoes independently, 'und' abstains") {
    def doc(id: Long, text: String, lang: String) =
      (id, text, lang, "src0", text.length.toLong)
    val good = ("the cat sat quietly on the big mat today " * 8).trim
    val undText = ("zorp blik quux flim glorp snib trundle vekt " * 8).trim
    val german = ("der hund und die katze ist nicht mit der maus zu haus " * 7).trim
    val docs = Seq(
      doc(1L, good, "en"),                       // passes all three gates
      doc(2L, "tiny text", "en"),                // Gopher: n_words < 5
      doc(3L, "the cat sat on the mat today", "en"), // quality_score < 0.2
      doc(4L, german, "en"),                     // lang-ID disagrees (de != en)
      doc(5L, german, "de"),                     // lang-ID agrees -> kept
      doc(6L, undText, "xx"))                    // no profile hits: 'und' abstains -> kept
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = TextAnalysis.qualityFilterApply(spark, docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 6L), s"expected {1,5,6}, got $kept")
  }

  test("ImageIoCodec: features read real pixels (PNG round-trip matches closed form)") {
    import graft.operators.Multimodal.{ImageIoCodec, MediaRow}
    for (id <- Seq(0L, 17L, 255L, 9999L)) {
      val (w, h) = (8 + (id % 8).toInt, 8 + (id % 5).toInt)
      val png = ImageIoCodec.encodePng(ImageIoCodec.patternImage(id, w, h))
      val f = ImageIoCodec.features(MediaRow(id, png, 0L))
      // closed-form sums the decode must reproduce from genuine pixels
      val grid = for { y <- 0 until h; x <- 0 until w } yield (x, y)
      val sr = grid.map { case (x, y) => (id + x * 7L + y * 13L) % 256 }.sum
      val sg = grid.map { case (x, y) => (id * 3L + x * 11L + y) % 256 }.sum
      val sb = grid.map { case (x, y) => (id * 5L + x + y * 17L) % 256 }.sum
      assert(f.feat.toSeq == Seq(w.toDouble, h.toDouble, sr.toDouble, sg.toDouble, sb.toDouble),
        s"id=$id: decoded ${f.feat.toSeq}, expected ($w, $h, $sr, $sg, $sb)")
    }
  }

  test("ImageIoCodec: resize renders real pixels at the target geometry") {
    import java.awt.image.BufferedImage
    import graft.operators.Multimodal.ImageIoCodec
    // a solid-color image must stay exactly that color under ANY resampling
    val solid = new BufferedImage(10, 6, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 10) solid.setRGB(x, y, 0x3366cc)
    val r = ImageIoCodec.resize(1L, ImageIoCodec.encodePng(solid), 10, 6, 4, 3)
    assert(r.width == 4 && r.height == 3)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 4 && back.getHeight == 3)
    for (y <- 0 until 3; x <- 0 until 4)
      assert((back.getRGB(x, y) & 0xffffff) == 0x3366cc,
        f"pixel ($x,$y) = ${back.getRGB(x, y) & 0xffffff}%06x, expected 3366cc")
  }

  test("ImageIoCodec: frames decodes a multi-page TIFF with stride sampling") {
    import java.awt.image.BufferedImage
    import graft.operators.Multimodal.{ImageIoCodec, MediaRow}
    // 5 solid-gray pages with distinct levels: frame means are exact
    val levels = Seq(10, 60, 110, 160, 210)
    val pages = levels.map { v =>
      val img = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      img
    }
    val tiff = ImageIoCodec.encodeTiffPages(pages)
    val got = ImageIoCodec.frames(MediaRow(7L, tiff, 0L), frameBytes = 0, stride = 2).toSeq
    assert(got.map(_.frame_idx) == Seq(0, 2, 4))
    assert(got.map(_.frame_mean) == Seq(10.0, 110.0, 210.0),
      s"frame means ${got.map(_.frame_mean)}")
    // re-encoded frames are themselves decodable PNGs at the page geometry
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(got.head.frame))
    assert(back.getWidth == 6 && back.getHeight == 4)
  }

  test("ivf stored-index search equals the build-and-search result") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = tempDir("ivf-store")
    Similarity.ivfStore(emb, dir, nlist = 4, iters = 4)
    val stored = Similarity.ivfSearchStored(spark, dir, emb, probeId = 0L, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = Similarity.ivfTopK(emb, probeId = 0L, k = 5, nlist = 4, nprobe = 3, iters = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == oneShot, s"stored $stored != one-shot $oneShot")
    // a second probe against the same stored index must not rebuild anything
    val probe7 = Similarity.ivfSearchStored(spark, dir, emb, probeId = 7L, k = 3, nprobe = 3)
      .collect()
    assert(probe7.length == 3)
  }

  test("semanticDedup: within-cluster domination only; cross-cluster near-dups exempt") {
    import graft.operators.Similarity
    // iters=0 pins the centroids to the two lowest-id vectors — (1,0,0,0)
    // and (0,1,0,0) — so every assignment and cosine below is hand-checkable.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),   // centroid A
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),   // centroid B
      (2L, Seq(0.95, 0.05, 0.0, 0.0)), // A; cos(0,2)=0.9986 -> dominated by 0
      (3L, Seq(0.6, 0.55, 0.0, 0.0)),  // A (cos to A 0.7372 > to B 0.6757)
      (4L, Seq(0.55, 0.6, 0.0, 0.0)),  // B, mirror of 3
      (5L, Seq(0.0, 0.9, 0.1, 0.0))    // B; cos(1,5)=0.9939 -> dominated by 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, nlist = 2, iters = 0, threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // 2 and 5 drop (dominated by a lower id in their own cluster); 3 and 4
    // BOTH survive even though cos(3,4)=0.9962 >= 0.8 — they sit in
    // different clusters, the pair SemDeDup never scores. That exemption is
    // the operator's defining scale trade: pair work bounded by cluster
    // size, at the cost of boundary-straddling near-dups.
    assert(got == Seq(0L -> 0L, 1L -> 1L, 3L -> 0L, 4L -> 1L), s"got $got")
    // the global (quadratic) near-dup baseline DOES pair (3,4) — proving the
    // exemption above is cluster scoping, not a cosine miss
    val global = Similarity.embeddingNearDupPairs(emb, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(global.contains((3L, 4L)), s"global pairs $global should include (3,4)")
  }

  test("deterministicShuffle: a reproducible permutation, stable across partitionings") {
    import graft.operators.Sampling
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source")
    def order(df: org.apache.spark.sql.DataFrame, seed: Long): Seq[Long] =
      Sampling.deterministicShuffle(df, "doc_id", seed).collect().map(_.getLong(0)).toSeq
    val o1 = order(docs, 42L)
    assert(o1 == order(docs.repartition(7), 42L), "order must not depend on partitioning")
    assert(o1.sorted != o1, "shuffle must actually permute")
    assert(o1 != order(docs, 43L), "different seeds must give different permutations")
    assert(o1.toSet == docs.collect().map(_.getLong(0)).toSet, "must be a permutation")
  }

  test("pack-then-shuffle composes: a reproducible shuffled training-example order") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Packing, Sampling, TextAnalysis}
    val chunks = TextAnalysis.chunkDocuments(
      Tables.table(spark, "/root/testdata/sf0.001", "documents"), chunkSize = 64, overlap = 16)
    val bins = Packing.binStats(spark, chunks, budget = 512, numShards = 8)
      .withColumn("bin_key", col("shard").cast("long") * 1000000L + col("bin"))
    def order(df: org.apache.spark.sql.DataFrame) =
      Sampling.deterministicShuffle(df, "bin_key", seed = 7L)
        .collect().map(_.getAs[Long]("bin_key")).toSeq
    val o1 = order(bins)
    assert(o1 == order(bins.repartition(5)), "shuffled bin order must be partition-stable")
    assert(o1.toSet == bins.collect().map(_.getAs[Long]("bin_key")).toSet, "must be a permutation")
    assert(o1 != o1.sorted, "must actually permute the bin walk order")
  }

  test("exactSubstringPairs: shared verbatim runs between docs; df-cap drops boilerplate") {
    import spark.implicits._
    import graft.operators.Dedup
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val quote30 = (1 to 30).map(i => s"s$i").mkString(" ")
    val boiler = (1 to 13).map(i => s"bp$i").mkString(" ")  // appears in MANY docs
    val docs = Seq(
      (1L, s"${filler("a", 4)} $quote30 ${filler("b", 4)}"),
      (2L, s"${filler("c", 6)} $quote30 ${filler("d", 2)}"),  // shares the 30-token run with doc 1
      (3L, filler("e", 40))) ++                               // clean
      (10L to 20L).map(i => (i, s"${filler(s"u$i", 3)} $boiler ${filler(s"v$i", 3)}"))
    val got = Dedup.exactSubstringPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", n = 13, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // ONLY the (1,2) pair: the boilerplate 13-gram sits in 11 docs > maxDf=5,
    // so its O(d^2) pair fan-out is pruned from the index entirely
    assert(got.keySet == Set((1L, 2L)), s"pairs wrong: $got")
    // 30-token shared run = 18 consecutive matched 13-grams, one span
    assert(got((1L, 2L)) == ((18L, 1L, 30L)), s"span geometry: ${got((1L, 2L))}")
  }

  test("exactSubstringPairs law: agrees with a local reference model on random corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    val n = 13
    // local model of the operator's declared TRUE-run semantics: a match is
    // an equal (pa, pb) n-gram pair; runs are maximal lockstep chains along
    // a (pa - pb) diagonal; n_shared counts distinct matched a-positions
    def localPairs(docs: Seq[(Long, Vector[String])]): Map[(Long, Long), (Long, Long, Long)] = {
      def grams(t: Vector[String]) =
        if (t.size < n) Vector.empty else t.sliding(n).map(_.mkString(" ")).toVector
      (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        ga = grams(ta); gb = grams(tb)
        mset = (for {
          (g, pa) <- ga.zipWithIndex; (h, pb) <- gb.zipWithIndex if g == h
        } yield (pa, pb)).toSet
        if mset.nonEmpty
      } yield {
        val runs = mset.toSeq.collect {
          case (pa, pb) if !mset.contains((pa - 1, pb - 1)) => // run head
            Iterator.from(0).takeWhile(i => mset.contains((pa + i, pb + i))).size
        }
        (ia, ib) -> (mset.map(_._1).size.toLong, runs.size.toLong, (runs.max + n - 1).toLong)
      }).toMap
    }
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      // small vocab + copied segments => natural shared runs and collisions
      val vocab = (1 to 40).map(i => s"w$i")
      val base = Vector.fill(60)(vocab(rnd.nextInt(vocab.size)))
      val docs = (1L to 8L).map { id =>
        val own = Vector.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        // half the docs splice in a segment of the shared base text
        val t = if (id % 2 == 0) {
          val from = rnd.nextInt(30); val len = 10 + rnd.nextInt(25)
          own.take(10) ++ base.slice(from, from + len) ++ own.drop(10)
        } else own
        (id, t)
      }
      val got = Dedup.exactSubstringPairs(
          docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          "doc_id", "text", n = n, maxDf = 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val want = localPairs(docs)
      assert(got == want, s"seed $seed: operator $got != reference model $want")
    }
  }

  test("exactSubstringContamination law: agrees with a local reference model on random corpora") {
    import spark.implicits._
    import graft.operators.Dedup
    val n = 5
    // local model of the declared geometry: per train doc, n_hit_ngrams =
    // distinct matched train positions across ALL holdout counterparts;
    // runs are maximal lockstep chains along each (hold_id, pos - hpos)
    // diagonal; n_spans counts runs over every counterpart; longest_span =
    // max run + n - 1 tokens
    def localContam(train: Seq[(Long, Vector[String])],
                    hold: Seq[(Long, Vector[String])]): Map[Long, (Long, Long, Long)] = {
      def grams(t: Vector[String]) =
        if (t.size < n) Vector.empty else t.sliding(n).map(_.mkString(" ")).toVector
      train.flatMap { case (id, t) =>
        val ga = grams(t)
        val mset = (for {
          (hid, ht) <- hold
          gh = grams(ht)
          (g, pos) <- ga.zipWithIndex
          (h, hpos) <- gh.zipWithIndex if g == h
        } yield (hid, pos, hpos)).toSet
        if (mset.isEmpty) None
        else {
          val runs = mset.toSeq.collect {
            case (hid, pos, hpos) if !mset.contains((hid, pos - 1, hpos - 1)) =>
              Iterator.from(0).takeWhile(i => mset.contains((hid, pos + i, hpos + i))).size
          }
          Some(id -> ((mset.map(_._2).size.toLong, runs.size.toLong, (runs.max + n - 1).toLong)))
        }
      }.toMap
    }
    for (seed <- Seq(5, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (1 to 30).map(i => s"w$i")
      val base = Vector.fill(50)(vocab(rnd.nextInt(vocab.size)))
      def doc(minLen: Int, splice: Boolean) = {
        val own = Vector.fill(minLen + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        if (splice) {
          val from = rnd.nextInt(25); val len = 6 + rnd.nextInt(20)
          own.take(5) ++ base.slice(from, from + len) ++ own.drop(5)
        } else own
      }
      val train = (1L to 8L).map(id => (id, doc(15, id % 2 == 0)))
      val hold = (100L to 102L).map(id => (id, doc(10, id != 101L)))
      val got = Dedup.exactSubstringContamination(
          train.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          hold.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
          "doc_id", "text", n = n)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val want = localContam(train, hold)
      assert(got == want, s"seed $seed: operator $got != reference model $want")
    }
  }

  test("exactSubstringContamination: planted >= 13-token verbatim runs are always caught") {
    import spark.implicits._
    import graft.operators.Dedup
    // unique filler tokens so only the planted quotes can match
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val quote13 = (1 to 13).map(i => s"q$i").mkString(" ")   // exactly the threshold
    val quote20 = (1 to 20).map(i => s"z$i").mkString(" ")   // a longer span
    val quote12 = (1 to 12).map(i => s"q$i").mkString(" ")   // one token short
    val train = Seq(
      (1L, s"${filler("a", 5)} $quote13 ${filler("b", 5)}"),         // 13-token span: caught
      (2L, s"${filler("c", 5)} $quote12 ${filler("d", 5)}"),         // 12 tokens: NOT caught
      (3L, s"${filler("e", 3)} $quote20 ${filler("f", 3)}"),         // 20-token span
      (4L, s"$quote13 ${filler("g", 10)} $quote13"),                 // two disjoint spans
      (5L, filler("h", 30))).toDF("doc_id", "text")                  // clean
    val holdout = Seq(
      (100L, s"${filler("x", 4)} $quote13 ${filler("y", 4)}"),
      (101L, s"$quote20 ${filler("w", 6)}")).toDF("doc_id", "text")
    val got = Dedup.exactSubstringContamination(train, holdout, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 3L, 4L), s"flagged set wrong: $got")
    assert(got(1L) == ((1L, 1L, 13L)), s"doc 1: ${got(1L)}") // 1 matched 13-gram = 13-token span
    assert(got(3L) == ((8L, 1L, 20L)), s"doc 3: ${got(3L)}") // 8 consecutive 13-grams = 20 tokens
    assert(got(4L) == ((2L, 2L, 13L)), s"doc 4: ${got(4L)}") // two disjoint minimal spans
  }

  test("exact-substring spans stitch only in LOCKSTEP: scattered counterparts stay separate") {
    import spark.implicits._
    import graft.operators.Dedup
    // the over-stitching counterexample: train doc 1's three consecutive
    // 5-gram positions all occur in the holdout, but at SCATTERED holdout
    // positions (hpos 0, 7, 14) — three separate single-gram matches, NOT
    // one 7-token verbatim run. Position-only stitching glued them.
    val train = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7"),
      (2L, "f1 f2 b1 b2 b3 b4 b5 b6 f3 f4"), // genuine 6-token quote: one true run
      (3L, "c1 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text")
    val holdout = Seq(
      (100L, "a1 a2 a3 a4 a5 x1 x2 a2 a3 a4 a5 a6 y1 y2 a3 a4 a5 a6 a7"),
      (101L, "h1 h2 b1 b2 b3 b4 b5 b6 h3 h4")).toDF("doc_id", "text")
    val got = Dedup.exactSubstringContamination(train, holdout, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: 3 matched positions, 3 separate diagonal runs, longest = 5 tokens
    assert(got(1L) == ((3L, 3L, 5L)), s"scattered counterparts over-stitched: ${got(1L)}")
    // doc 2: 2 matched positions in lockstep = ONE 6-token run
    assert(got(2L) == ((2L, 1L, 6L)), s"true run broken: ${got(2L)}")
    assert(!got.contains(3L))

    // same rule pairwise: docs 1<->holdout-100 content as a doc pair
    val pairDocs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7"),
      (2L, "a1 a2 a3 a4 a5 x1 x2 a2 a3 a4 a5 a6 y1 y2 a3 a4 a5 a6 a7")).toDF("doc_id", "text")
    val pairs = Dedup.exactSubstringPairs(pairDocs, "doc_id", "text", n = 5, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(pairs((1L, 2L)) == ((3L, 3L, 5L)),
      s"pairwise scattered counterparts over-stitched: ${pairs((1L, 2L))}")
  }

  test("quantizeInt8: range bounded, amax element hits ±127, reconstruction tight") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, "/root/testdata/sf0.01", "embeddings")
    val rows = Similarity.quantizeInt8(emb).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (qmin, qmax, cos) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(qmin >= -127 && qmax <= 127, s"int8 range violated: $qmin..$qmax")
      assert(math.max(math.abs(qmin), math.abs(qmax)) == 127, "scale must saturate the max component")
      assert(cos > 0.999, s"reconstruction cosine too low: $cos")
    }
  }

  test("quantizeInt8: null array elements yield a NULL report, not garbage reads") {
    import spark.implicits._
    // containsNull = true WITH an actual null slot: whole report is null
    val withNull = Seq(
      (1L, Seq(Option(0.5), None, Option(1.0))),
      (2L, Seq(Option(0.25), Option(-1.0)))).toDF("vec_id", "embedding")
      .select(col("vec_id"), graft.plans.QuantizeInt8Report.expr(col("embedding")).as("rep"))
      .orderBy("vec_id").collect()
    assert(withNull(0).isNullAt(1), "null element must poison the whole report")
    assert(!withNull(1).isNullAt(1), "null-free row on a containsNull schema must compute")
    val rep = withNull(1).getStruct(1)
    assert(rep.getDouble(0) == 1.0 && rep.getLong(1) == -127L && rep.getLong(2) == 32L)
  }

  test("quantizeInt8 fused expression is bit-identical to the lambda reference") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, "/root/testdata/sf0.01", "embeddings")
    val fused = Similarity.quantizeInt8(emb).collect()
    val ref = Similarity.quantizeInt8Reference(emb).collect()
    assert(fused.length == ref.length)
    // bit-for-bit, not approximate: same op order in both formulations
    fused.zip(ref).foreach { case (f, r) =>
      assert(f.getLong(0) == r.getLong(0))
      assert(f.getDouble(1) == r.getDouble(1) && f.getDouble(4) == r.getDouble(4),
        s"vec ${f.getLong(0)}: fused (${f.getDouble(1)}, ${f.getDouble(4)}) " +
          s"!= reference (${r.getDouble(1)}, ${r.getDouble(4)})")
      assert(f.getLong(2) == r.getLong(2) && f.getLong(3) == r.getLong(3))
    }
  }

  test("redactPii: planted email/phone found and replaced, clean text untouched") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or +44 20 7946 0958 thanks"),
      (2L, "no pii here, just text with a year 2024 in it")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == Map(1L -> ((1, 1)), 2L -> ((0, 0))))
    // the redacted hash of the clean doc equals the hash of its raw text
    val rawHash = docs.filter($"doc_id" === 2L)
      .select(Hashing.hash60($"text")).head.getLong(0)
    val redHash = TextAnalysis.redactPii(docs).filter($"doc_id" === 2L)
      .select($"redacted_hash").head.getLong(0)
    assert(rawHash == redHash)
  }

  test("repetitionStats: repeated 2-grams counted, short docs zeroed") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a b a b a b"), // 2-grams: ab ba ab ba ab -> 5 total, 2 distinct, top=3
      (2L, "all words here are different ones"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got(1L) == ((5L, 2L, 0.6, 3L)))
    assert(got(2L) == ((5L, 5L, 0.0, 1L)))
    assert(got(3L) == ((0L, 0L, 0.0, 0L)))
  }

  test("q31 approx_count_distinct within HLL error of exact counts") {
    // q31 emits (priority, exact_cust, within_10pct): the boolean is the
    // Spark-side |approx − exact| ≤ 10% gate the oracle asserts TRUE, and
    // exact_cust must agree with the independent q9 exact distinct count.
    val rows = Queries.q31ApproxDistinct(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = Queries.q9Distinct(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    rows.foreach { case (k, (e, within)) =>
      assert(e == exact(k), s"$k: exact_cust $e vs q9 ${exact(k)}")
      assert(within, s"$k: HLL estimate drifted >10% from exact $e")
    }
  }

  test("csv source: changelog roundtrip through the csv format") {
    val dir = tempDir("csv-src")
    Tables.shareHoldersChangelog(spark, sf0001).limit(100)
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == 100)
    assert(back.columns.sorted.toSeq ==
      Seq("client", "exchange", "key", "seq", "ticker", "tombstone"))
    assert(back.schema("seq").dataType == org.apache.spark.sql.types.IntegerType ||
      back.schema("seq").dataType == org.apache.spark.sql.types.LongType)
  }

  test("json source: changelog roundtrip through the json format") {
    val dir = tempDir("json-src")
    Tables.shareHoldersChangelog(spark, sf0001).limit(100)
      .write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 100)
    assert(back.columns.sorted.toSeq ==
      Seq("client", "exchange", "key", "seq", "ticker", "tombstone"))
  }

  test("connected components: chains collapse to min id, components stay isolated") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (diameter 3 => needs multiple propagation rounds),
    // separate pair 10-11, clique 20-21, 20-22, 21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L)).toDF("a", "b")
    val got = graft.operators.ConnectedComponents.components(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // empty pair list => empty result, no crash
    assert(graft.operators.ConnectedComponents.components(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").isEmpty)
  }

  test("connected components agree with a local union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // seeded: deterministic test
    for (_ <- 1 to 3) {
      val n = 40
      val pairs = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference: classic union-find
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.toSeq.map(x => x -> find(x)).toMap // toSeq: find mutates the map
      val got = graft.operators.ConnectedComponents
        .components(pairs.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"pairs=$pairs")
    }
  }

  test("orc source: changelog roundtrip preserves types exactly") {
    val dir = tempDir("orc-src")
    val orig = Tables.shareHoldersChangelog(spark, sf0001).limit(100)
    orig.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 100)
    // orc is self-describing: names+types come back exact (unlike csv's
    // inference); nullability widens on read, as for any file source
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      orig.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("rate source smoke: streaming micro-batch from the rate format") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
      .writeStream.format("memory").queryName("rate_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    q.awaitTermination(30000)
    assert(spark.table("rate_smoke").columns.toSeq == Seq("timestamp", "value"))
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q42 approx percentiles within 2% of the exact q35 values") {
    // q42 emits exact percentiles + within_2pct (the Spark-side GK-vs-exact
    // gate the oracle asserts TRUE); the exact columns must equal q35's.
    val rows = Queries.q42ApproxPercentile(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)), r.getBoolean(4)))).toMap
    val exact = Queries.q35Percentiles(spark, sf0001).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet === exact.keySet)
    for (k <- exact.keySet) {
      assert(rows(k)._1 == exact(k), s"$k: exact cols ${rows(k)._1} vs q35 ${exact(k)}")
      assert(rows(k)._2, s"$k: GK estimate drifted >2% from exact")
    }
  }

  test("bloom prefilter join equals the plain join (no false negatives survive)") {
    import org.apache.spark.sql.functions._
    val orders = sources.Tables.table(spark, sf0001, "orders")
      .select("o_custkey", "o_orderkey")
    val dim = sources.Tables.table(spark, sf0001, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val pre = operators.BloomPrefilter.prefilteredInnerJoin(orders, dim, "o_custkey")
      .select("o_orderkey", "c_nationkey")
    val plain = orders.join(dim, "o_custkey").select("o_orderkey", "c_nationkey")
    assert(pre.exceptAll(plain).isEmpty && plain.exceptAll(pre).isEmpty)
    assert(pre.count() > 0)
  }

  test("capPerGroup: hot group capped, small group intact, matches window form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = ((1 to 100).map(i => (i.toLong, "hot")) ++ (101 to 130).map(i => (i.toLong, "cold")))
      .toDF("doc_id", "source")
    val out = operators.Sampling.capPerGroup(docs, "doc_id", "source", maxPerGroup = 50)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("hot" -> 50L, "cold" -> 30L))
    // the bounded-aggregator selection must equal the window-sort reference
    val h = pmod(graft.functions.Hashing.hash60(
      concat(lit("quota:"), col("doc_id").cast("string"))), lit(1L << 50))
    val ref = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(h.desc, col("doc_id"))))
      .filter(col("rk") <= 50).select("source", "doc_id")
    assert(out.exceptAll(ref).isEmpty && ref.exceptAll(out).isEmpty)
  }

  test("interval bucket join equals BNLJ on seeded random intervals and points") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val iv = (0 until 40).map { i =>
      val lo = rnd.nextDouble() * 1000
      (i, lo, lo + rnd.nextDouble() * 120) // lengths 0..120, width below/above
    }.toDF("iv_id", "lo", "hi")
    val pts = (0 until 2000).map(_ => rnd.nextDouble() * 1100).toDF("p")
    for (width <- Seq(25.0, 80.0, 300.0)) {
      val bucketed = operators.IntervalJoin
        .pointInInterval(pts, "p", iv, "lo", "hi", width).select("p", "iv_id")
      val bnlj = pts.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
        .select("p", "iv_id")
      assert(bucketed.exceptAll(bnlj).isEmpty && bnlj.exceptAll(bucketed).isEmpty,
        s"mismatch at width=$width")
    }
  }

  test("doc chunking: full coverage, exact overlap, short docs one chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 tokens -> 2 chunks
      (2L, "only three tokens"),                        // < chunkSize -> 1 chunk
      (3L, (1 to 64).map(i => s"x$i").mkString(" ")))   // exactly chunkSize -> 1
      .toDF("doc_id", "text")
    val out = operators.TextAnalysis.chunkDocuments(docs, chunkSize = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.count(_._1 == 1L) === 2 && out.count(_._1 == 2L) === 1 &&
      out.count(_._1 == 3L) === 1)
    val Array(c0, c1) = out.filter(_._1 == 1L).sortBy(_._2).map(_._4.split(" ").toSeq)
    assert(c0.size === 64 && c1.size === 52, "chunk sizes")
    assert(c0.drop(48) === c1.take(16), "consecutive chunks share exactly `overlap` tokens")
    assert((c0 ++ c1).distinct.size === 100, "every token covered")
    assert(out.filter(_._1 == 2L).head._3 === 3)
  }

  test("doc chunking invariants hold for every token count 1..200") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (size, overlap) = (64, 16)
    val step = size - overlap
    val docs = (1 to 200).map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val per = operators.TextAnalysis.chunkDocuments(docs, size, overlap)
      .groupBy("doc_id").agg(
        (max("chunk_idx") + 1).as("m"),
        sum("n_tokens").as("tok_sum"),
        min("n_tokens").as("min_tok"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    assert(per.size === 200)
    for (n <- 1 to 200) {
      val (m, tokSum, minTok) = per(n.toLong)
      val expectM = math.max(1, math.ceil((n - overlap).toDouble / step).toInt)
      assert(m === expectM, s"n=$n chunk count")
      // chunks cover all n tokens, re-counting each overlap region once
      assert(tokSum === n + (m - 1) * overlap, s"n=$n coverage")
      assert(minTok >= 1, s"n=$n empty chunk")
    }
  }

  test("chunkSchedule == chunkDocuments metadata for every token count 0..200") {
    // the metadata-only chunker (round-14 pipeline tail) must reproduce
    // chunkDocuments' (doc_id, chunk_idx, n_tokens) rows exactly from the
    // per-doc token count alone — including the n=0 drop and the exact-fit
    // boundary cases the 1..200 sweep covers
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (0 to 200).map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fromText = operators.TextAnalysis.chunkDocuments(docs, 64, 16)
      .select("doc_id", "chunk_idx", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    val counted = docs.select(col("doc_id"),
      size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val fromCounts = operators.TextAnalysis.chunkSchedule(counted, 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(fromCounts.toSeq == fromText.toSeq)
    assert(fromText.nonEmpty && !fromText.exists(_._1 == 0L),
      "n=0 doc must drop from both paths")
  }

  test("bloom prefilter dispatches string keys (probe matches builder repr)") {
    import spark.implicits._
    val dim = Seq("a", "b", "c").toDF("k")
    val fact = Seq("a", "b", "x", "y").toDF("k")
    val out = operators.BloomPrefilter.prefilteredInnerJoin(fact, dim, "k", expectedItems = 100L)
    assert(out.select("k").collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
    val bad = Seq(1.5).toDF("k")
    intercept[IllegalArgumentException] {
      operators.BloomPrefilter.prefilteredInnerJoin(bad, bad, "k")
    }
  }

  test("interval join fails fast when an interval spans too many buckets") {
    import spark.implicits._
    val iv = Seq((0, 0.0, 1e12)).toDF("iv_id", "lo", "hi")
    val pts = Seq(1.0).toDF("p")
    val e = intercept[Exception] {
      operators.IntervalJoin.pointInInterval(pts, "p", iv, "lo", "hi", width = 1.0).count()
    }
    assert(e.getMessage != null)
  }

  test("interval bucket join equals the BNLJ range join, overlaps included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // overlapping intervals: points near band edges must match both bands
    val iv = Seq((0, 0.0, 130.0), (1, 100.0, 230.0), (2, 200.0, 330.0))
      .toDF("iv_id", "lo", "hi")
    val pts = (0 until 350).map(_.toDouble).toDF("p")
    val bucketed = operators.IntervalJoin.pointInInterval(pts, "p", iv, "lo", "hi", width = 100.0)
      .select("p", "iv_id")
    val bnlj = pts.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
      .select("p", "iv_id")
    assert(bucketed.exceptAll(bnlj).isEmpty && bnlj.exceptAll(bucketed).isEmpty)
    // points in [100,130) and [200,230) sit in two bands each
    assert(bucketed.groupBy("p").count().filter(col("count") === 2).count() === 60)
  }

  test("round-4 operators are safe on empty and trivial inputs") {
    import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val oneDoc = Seq((1L, "alpha beta gamma", "src0")).toDF("doc_id", "text", "source")

    assert(Packing.packChunks(spark,
      Seq.empty[(Long, Int, Int)].toDF("doc_id", "chunk_idx", "n_tokens")).count() === 0)
    assert(TextAnalysis.vocabEncode(emptyDocs).count() === 0)
    assert(Sampling.temperatureMix(emptyDocs, "doc_id", "source").count() === 0)
    assert(Dedup.contaminationOverlap(emptyDocs, oneDoc, "doc_id", "text").count() === 0)
    // a holdout with zero shingle overlap: every train doc reports 0 hits
    val clean = Dedup.contaminationOverlap(
      oneDoc, Seq((9L, "delta epsilon zeta eta theta", "s")).toDF("doc_id", "text", "source"),
      "doc_id", "text", k = 3).collect()
    assert(clean.length == 1 && clean(0).getLong(2) == 0 && clean(0).getInt(3) == 0)
    // single-doc vocab: every token in-vocab, ids are rank order
    val enc = TextAnalysis.vocabEncode(oneDoc, vocabSize = 10).head()
    assert(enc.getLong(1) == 3 && enc.getLong(2) == 0)
    assert(enc.getString(3).split('|').toSet == Set("1", "2", "3"))
    // one source: threshold 10000 keeps everything
    assert(Sampling.temperatureMix(oneDoc, "doc_id", "source").count() === 1)
  }

  test("doc packing: full coverage, no bin overflow, dense bins, deterministic") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Packing, TextAnalysis}
    val docs = Tables.table(spark, sf0001, "documents")
    val chunks = TextAnalysis.chunkDocuments(docs, chunkSize = 64, overlap = 16)
    val budget = 512
    val packed = Packing.packChunks(spark, chunks, budget = budget, numShards = 4)

    // full coverage: every chunk assigned exactly once
    assert(packed.count() === chunks.count())
    assert(packed.select("doc_id", "chunk_idx").distinct().count() === chunks.count())

    // no overflow: every bin within budget; fills match the chunk metadata
    val bins = packed.groupBy("shard", "bin").agg(
      sum("n_tokens").as("fill"), count(lit(1)).as("n"),
      max("pack_pos").as("maxpos"))
    assert(bins.filter(col("fill") > budget).count() === 0)
    // pack_pos dense within each bin: max == n - 1
    assert(bins.filter(col("maxpos") =!= col("n") - 1).count() === 0)
    // bins dense per shard: max bin == count(distinct bin) - 1
    val perShard = bins.groupBy("shard")
      .agg(max("bin").as("mx"), countDistinct("bin").as("nb"))
    assert(perShard.filter(col("mx") =!= col("nb") - 1).count() === 0)

    // deterministic: a differently-partitioned, differently-ordered input
    // packs identically (assignment is a pure function of identity hashes)
    val shuffled = Packing.packChunks(
      spark, chunks.repartition(7).sortWithinPartitions("n_tokens"),
      budget = budget, numShards = 4)
    assert(packed.exceptAll(shuffled).isEmpty && shuffled.exceptAll(packed).isEmpty)

    // next-fit actually packs: mean utilization well above one-chunk-per-bin
    val util = Packing.binStats(spark, chunks, budget = budget, numShards = 4)
      .agg(avg("util_permille")).head.getDouble(0)
    assert(util > 500, s"mean bin utilization $util‰ — packing is not packing")

    // an oversized chunk fails fast instead of silently overflowing
    val big = Seq((1L, 0, budget + 1)).toDF("doc_id", "chunk_idx", "n_tokens")
    val e = intercept[org.apache.spark.SparkException] {
      Packing.packChunks(spark, big, budget = budget, numShards = 2).count()
    }
    assert(e.getMessage.contains("re-chunk") ||
      Option(e.getCause).exists(_.getMessage.contains("re-chunk")))
  }

  test("positional shingles match the plain sliding-window reference model") {
    // the element_at tokenizer underpins 10+ shingle consumers — pin it to
    // the obvious Scala model: lowercase whitespace tokens, empties removed,
    // every k-window with its 0-based start position. Cases cover mixed
    // case, runs of spaces (empties collapse BEFORE positions are assigned),
    // docs shorter than / exactly k, repeated tokens, and a pseudo-random
    // corpus wide enough to exercise many window offsets.
    val rng = new scala.util.Random(42)
    val docs = Seq(
      "",                       // no tokens
      "one",                    // shorter than k
      "a b c",                  // exactly k
      "A  b   C d",             // case + space runs
      "x x x x x",              // repeated tokens
      "tail gap ") ++           // trailing space
      (0 until 20).map(_ => (0 until (1 + rng.nextInt(30)))
        .map(_ => s"w${rng.nextInt(8)}").mkString(" "))
    val k = 3
    def ref(text: String): Seq[(Int, String)] = {
      val toks = text.toLowerCase.split(" ").filterNot(_.isEmpty).toSeq
      toks.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k => (i, w.mkString(" ")) }.toSeq
    }
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.shingleTextPositional(df, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(x => (x._2, x._3)).toSeq).toMap
    docs.zipWithIndex.foreach { case (text, i) =>
      assert(got.getOrElse(i.toLong, Seq.empty) == ref(text),
        s"doc $i (${text.take(40)}): got ${got.getOrElse(i.toLong, Seq.empty)}, want ${ref(text)}")
    }
  }

  test("tokenEntropy: closed-form values, empty docs zeroed, repetition ranks below diversity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),   // one type: H = 0
      (2L, "a b c d"),   // uniform over 4: H = 2, norm = 1
      (3L, "a a b b"),   // uniform over 2: H = 1, norm = 1
      (4L, ""),          // no tokens: zeroed row kept
      (5L, "a a a a a a b c")) // skewed: H = 3 - 6*log2(6)/8 strictly in (0, 2)
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) == ((4L, 1L, 0L, 0L)))
    assert(got(2L) == ((4L, 4L, 2000000L, 1000000L)))
    assert(got(3L) == ((4L, 2L, 1000000L, 1000000L)))
    assert(got(4L) == ((0L, 0L, 0L, 0L)))
    // doc 5: K = (3·8 − 6·q6(log2 6))·1e6 = (24 − 6·2.584963)·1e6 = 8490222;
    // entropy_ubits = floor(8490222 / 8) = 1061277
    assert(got(5L)._3 == 1061277L, s"got ${got(5L)._3}")
    assert(got(5L)._3 > 0L && got(5L)._3 < got(2L)._3,
      "skewed doc must rank strictly between degenerate and uniform")
  }

  test("containmentPairs: planted subset-dup caught with LOW jaccard; unrelated docs clean") {
    import spark.implicits._
    import graft.operators.Dedup
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val short = words("q", 40)                 // 40 tokens, 38 3-shingles
    val long = short + " " + words("z", 120)   // short quoted verbatim inside
    val docs = Seq(
      (1L, short),                 // contained in 2
      (2L, long),
      (3L, words("u", 60)),        // unrelated
      (4L, words("v", 60)))        // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8, maxDf = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getString(4)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"expected only the planted pair, got ${got.keySet}")
    val (c, j, dir) = got((1L, 2L))
    assert(c == 1.0, s"verbatim subset must have containment 1.0, got $c")
    assert(j < 0.5, s"the pair must be INVISIBLE to the jaccard>=0.5 sweep, got $j")
    assert(dir == "a_in_b", s"the smaller doc is a, got $dir")
    // sanity: the symmetric sweep at its own threshold indeed misses it
    val jac = Dedup.ngramJaccardCappedPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.5, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "fixture broken: jaccard sweep caught the subset pair, containment adds nothing")
  }

  test("sourceDivergence: symmetric disjoint sources diverge by exactly ln 2; a lone source by 0") {
    import spark.implicits._
    // two sources with disjoint single-token vocabularies and equal mass:
    // each source's distribution is a point mass whose corpus probability is
    // 1/2, so KL = ln 2 -> floor(1e6 * q6(ln 2)) = 693147 micro-nats for both
    val two = Seq(
      (1L, "x x x x", "a"), (2L, "x x x x", "a"),
      (3L, "y y y y", "b"), (4L, "y y y y", "b"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceDivergence(two).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got("a") == ((2L, 8L, 1L, 693147L)), s"got ${got("a")}")
    assert(got("b") == ((2L, 8L, 1L, 693147L)), s"got ${got("b")}")
    // a single source IS the corpus: every log ratio is ln 1 = 0
    val one = Seq((1L, "x y z", "solo"), (2L, "x y", "solo"))
      .toDF("doc_id", "text", "source")
    val solo = TextAnalysis.sourceDivergence(one).collect().head
    assert(solo.getLong(4) == 0L, s"lone source must have zero divergence, got $solo")
  }

  test("tokenEntropy matches a quantized Scala reference model on random corpora") {
    import spark.implicits._
    // the same 6-dp-quantized, decimal-summed, floor'd-micro-bit arithmetic
    // as the operator, folded in plain Scala — catches any drift between the
    // column expression and the declared model
    val rng = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val n = rng.nextInt(40) // 0..39 tokens, small vocab -> heavy repeats
      (i.toLong, Seq.fill(n)(s"w${rng.nextInt(6)}").mkString(" "))
    }
    def q6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def model(text: String): (Long, Long, Long, Long) = {
      val toks = text.toLowerCase.split(" ").filterNot(_.isEmpty)
      if (toks.isEmpty) (0L, 0L, 0L, 0L)
      else {
        val counts = toks.groupBy(identity).values.map(_.length.toLong).toSeq
        val n = counts.sum
        val types = counts.size.toLong
        val lg2 = (v: Double) => math.log(v) / math.log(2.0)
        val bits = counts.map(c => BigDecimal(c) * q6(lg2(c.toDouble))).sum
        val k = ((q6(lg2(n.toDouble)) * BigDecimal(n) - bits) * BigDecimal(1000000))
          .toLongExact
        val ubits = math.floor(k.toDouble / n.toDouble).toLong
        val ppm = if (types > 1)
          math.floor((ubits * 1000000L).toDouble /
            (q6(lg2(types.toDouble)) * BigDecimal(1000000)).toLongExact.toDouble).toLong
        else 0L
        (n, types, ubits, ppm)
      }
    }
    val got = TextAnalysis.tokenEntropy(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == model(text), s"doc $id ('${text.take(30)}'): " +
        s"got ${got(id)}, model ${model(text)}")
    }
  }

  test("naiveBayesLang: separable classes recovered, empty doc takes the prior argmax") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat", "en"),
      (2L, "the dog ran", "en"),
      (3L, "le chat noir", "fr"),
      (4L, "le chien brun", "fr"),
      (5L, "", "fr")) // token-less: falls back to prior argmax
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesLang(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == (("en", "en", true)))
    assert(got(2L) == (("en", "en", true)))
    assert(got(3L) == (("fr", "fr", true)))
    assert(got(4L) == (("fr", "fr", true)))
    // priors: en 2/5 vs fr 3/5 -> fr wins the prior-only fallback
    assert(got(5L) == (("fr", "fr", true)))
    // scores are finite and the winning score beats a hand-check shape:
    val scores = TextAnalysis.naiveBayesLang(docs).collect().map(_.getDouble(2))
    assert(scores.forall(s => !s.isNaN && !s.isInfinite))
  }

  test("naiveBayesLang: equal priors tie to the lexicographically smallest class") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "zz"),
      (2L, "gamma delta", "aa"),
      (3L, "", "zz")) // equal priors (1 vs 1 among aa/zz... here 2 vs 1)
      .toDF("doc_id", "text", "lang")
    // make priors equal: two classes, one doc each with tokens + empty doc in zz
    // priors: aa 1/3, zz 2/3 -> fallback is zz. Rebuild with truly equal priors:
    val eq = Seq((1L, "alpha beta", "bb"), (2L, "gamma delta", "aa"), (3L, "", "aa"),
      (4L, "", "bb")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesLang(eq).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(3L) == "aa" && got(4L) == "aa",
      "equal priors must fall back to the lexicographically smallest class")
    val got2 = TextAnalysis.naiveBayesLang(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(3L) == "zz", "2/3 prior must beat 1/3 in the token-less fallback")
  }

  test("pqEncode: one code per vector, valid sub-centroid ids, exact on a centroid-valued corpus") {
    import spark.implicits._
    import graft.operators.Similarity
    // corpus designed so k-means converges to the two obvious sub-patterns
    // per subspace: 8-dim vectors, m=2 subspaces of 4 dims, k=2 codebooks.
    // Vectors are exact repetitions of per-subspace patterns -> every
    // cluster mean equals its members (all identical), so reconstruction is
    // EXACT: recon_cos = 1.0 for every vector.
    val pA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val pB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val vecs = (0L until 12L).map { i =>
      val s0 = if (i % 2 == 0) pA else pB
      val s1 = if (i % 3 == 0) pA else pB
      (i, s0 ++ s1)
    }
    val emb = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = Similarity.pqEncode(emb, m = 2, k = 2, iters = 2).collect()
    assert(got.length == 12)
    got.foreach { r =>
      val parts = r.getString(1).split("\\|")
      assert(parts.length == 2 && parts.forall(p => p.toLong >= 0L && p.toLong < 2L),
        s"bad code ${r.getString(1)}")
      assert(r.getDouble(2) == 1.0,
        s"vec ${r.getLong(0)}: centroid-valued corpus must reconstruct exactly, got ${r.getDouble(2)}")
    }
    // same sub-pattern combination -> same code
    val byCombo = got.map(r => (r.getLong(0) % 2, r.getLong(0) % 3 == 0, r.getString(1)))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).distinct).toMap
    assert(byCombo.values.forall(_.size == 1), s"combo -> code not functional: $byCombo")
  }

  test("pqTopK: ADC ranking finds true neighbors on sf0.001, approx vs exact reported") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val adc = Similarity.pqTopK(emb, probeId = 0L, topK = 10, m = 8, k = 8, iters = 2)
      .collect()
    assert(adc.length == 10)
    assert(!adc.map(_.getLong(0)).contains(0L), "probe must be excluded")
    // descending approx order, deterministic tie-break
    val approx = adc.map(_.getDouble(1))
    assert(approx.zip(approx.tail).forall { case (a, b) => a >= b }, "not sorted desc")
    // the fixture's neighborhoods are nearly flat (exact top-1 cosine is
    // only ~0.33 and ranks 4..10 sit within ~0.03 of each other), so a
    // strict recall gate would test the DATA, not the operator. Gate on
    // (a) at least one exact-top-5 member surfacing in ADC@10 and (b) the
    // ADC picks being strongly enriched: their mean EXACT similarity must
    // be far above the corpus mean (~0 for random vectors).
    val exact5 = Similarity.bruteForceTopK(emb, probeId = 0L, k = 5)
      .collect().map(_.getLong(0)).toSet
    val hit = adc.map(_.getLong(0)).count(exact5.contains)
    assert(hit >= 1, s"ADC@10 recalled none of the exact top-5 ($exact5)")
    val meanExactOfAdc = adc.map(_.getDouble(2)).sum / adc.length
    assert(meanExactOfAdc >= 0.1,
      f"ADC picks not enriched: mean exact sim $meanExactOfAdc%.3f (corpus mean ~0)")
  }

  test("pqTopK recall sweep: ADC recall@5 >= 0.8 on a clustered fixture (documented m/k sweep)") {
    import graft.operators.Similarity
    // round-11 ask: the sf0.001 embeddings fixture has near-flat
    // neighborhoods (exact top-1 cosine ~0.33), so a recall bound there
    // tests the data, not the operator. ADC also ranks at QUANTIZATION
    // resolution — it cannot order members inside one code cell — so the
    // planted structure must be recoverable at group granularity: 66
    // near-duplicate GROUPS of 6 vectors (group pattern = deterministic
    // +/-1 coordinates, member r flips only dim r), sibling cosine 60/64 ~
    // 0.94 vs cross-group ~0 +/- 0.125. Exact top-5 of any member is its 5
    // siblings; a sound ADC ranking must surface the group.
    val emb = spark.range(396).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> CAST(" +
        "(CASE WHEN pmod(hash(CAST(id DIV 6 AS BIGINT) * 64 + d), 2) = 0 THEN 1.0 ELSE -1.0 END) * " +
        "(CASE WHEN d = CAST(id % 6 AS INT) THEN -1.0 ELSE 1.0 END) " +
        "AS FLOAT))").as("embedding"))
    emb.cache(); emb.count()
    try {
      val probes = Seq(0L, 21L, 107L, 333L)
      val exact = probes.map { p =>
        p -> Similarity.bruteForceTopK(emb, p, 5).collect().map(_.getLong(0)).toSet
      }.toMap
      // m/k sweep: coarser -> finer codebooks; the finest config must clear
      // the 0.8 bar, and recall must not DEGRADE as quantization refines
      val sweep = Seq((4, 8), (8, 8), (8, 16)).map { case (m, k) =>
        val mean = probes.map { p =>
          val adc = Similarity.pqTopK(emb, p, topK = 5, m = m, k = k, iters = 4)
            .collect().map(_.getLong(0)).toSet
          exact(p).intersect(adc).size.toDouble / 5
        }.sum / probes.size
        info(f"PQ m=$m k=$k: mean recall@5 over ${probes.size} probes = $mean%.2f")
        (m, k, mean)
      }
      val best = sweep.map(_._3).max
      assert(best >= 0.8,
        s"no swept (m,k) config reaches recall@5 >= 0.8 on the clustered fixture: " +
          sweep.map { case (m, k, r) => f"m=$m/k=$k:$r%.2f" }.mkString(", "))
      assert(sweep.last._3 >= 0.8,
        f"finest config (m=8,k=16) recall ${sweep.last._3}%.2f below 0.8")
    } finally { emb.unpersist(); () }
  }

  test("pqStore/pqEncodeStored: stored encode == one-shot, store holds the codebooks") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val dir = tempDir("graft-pq")
    Similarity.pqStore(emb, dir, m = 8, k = 8, iters = 2)
    // the persisted codebooks ARE pqCodebooks' output
    val stored = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2)))
      .toMap
    val trained = Similarity.pqCodebooks(emb, m = 8, k = 8, iters = 2)
    assert(stored.size == 64)
    trained.zipWithIndex.foreach { case (cents, s) =>
      cents.foreach { case (cid, v) =>
        assert(stored((s, cid)) == v.toSeq, s"codebook ($s,$cid) diverged")
      }
    }
    // encode-from-store is row-identical to the one-shot train+encode
    val fromStore = Similarity.pqEncodeStored(spark, dir, emb)
    val oneShot = Similarity.pqEncode(emb, m = 8, k = 8, iters = 2)
    assert(fromStore.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(fromStore).count() == 0,
      "stored encode diverged from the one-shot encode")
  }

  test("mixPlan: integer targets/rates/planned, capped flags, absent sources planned out") {
    import spark.implicits._
    // a: 10 docs x 100 tokens = 1000; b: 4 docs x 10 = 40; c: 2 docs x 5 = 10
    val mk = (src: String, n: Int, toksPer: Int) =>
      (0 until n).map(i => (s"$src-$i".hashCode.toLong, src,
        Seq.fill(toksPer)("w").mkString(" ")))
    val docs = (mk("a", 10, 100) ++ mk("b", 4, 10) ++ mk("c", 2, 5))
      .toDF("doc_id", "source", "text")
    val got = graft.operators.Sampling
      .mixPlan(docs, "doc_id", "source", "text", Map("a" -> 0.5, "b" -> 0.5), budget = 100L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))))
      .toMap
    // a: target 50, rate floor(50000/1000)=50‰, planned 50, not capped
    assert(got("a") == ((10L, 1000L, 500L, 50L, 50L, 50L, false)))
    // b: target 50 > inventory 40 -> rate pinned 1000‰, planned 40, capped
    assert(got("b") == ((4L, 40L, 500L, 50L, 1000L, 40L, true)))
    // c: absent from weights -> weight 0, nothing planned
    assert(got("c") == ((2L, 10L, 0L, 0L, 0L, 0L, false)))
  }

  test("importanceResample: target-like raw docs outrank the rest; empty doc weighs 0") {
    import spark.implicits._
    import graft.operators.Sampling
    // target: a "cat domain" corpus; raw pool: two cat-like docs, two
    // dog-like docs, one empty. The cat-like docs must carry the two
    // highest weights and be the n=2 selection.
    val target = Seq(
      (100L, "cat purrs cat sleeps cat eats"),
      (101L, "the cat sat on the cat mat")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "cat cat cat purrs"),
      (2L, "the cat sleeps"),
      (3L, "dog barks dog runs"),
      (4L, "quantum flux capacitor"),
      (5L, "")).toDF("doc_id", "text")
    val got = Sampling.importanceResample(raw, target, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(5L) == ((0L, 0L, false)), s"empty doc must weigh 0: ${got(5L)}")
    assert(got(1L)._3 && got(2L)._3,
      s"cat-like docs must be selected: $got")
    assert(!got(3L)._3 && !got(4L)._3,
      s"dog/nonsense docs must not be selected: $got")
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(4L)._2,
      s"cat-like weights must exceed the rest: $got")
    // n larger than the pool selects everything
    val all = Sampling.importanceResample(raw, target, "doc_id", "text", n = 99)
      .collect().map(_.getBoolean(3))
    assert(all.forall(identity), "n >= pool size must select every doc")
    assertThrows[IllegalArgumentException] {
      Sampling.importanceResample(raw, target, "doc_id", "text", n = 0)
    }
  }

  test("ngramNovelty: quoted docs score 0, fresh docs 1, mixed in between, short docs 0") {
    import spark.implicits._
    import graft.operators.Dedup
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim in ref -> 0
      (2L, "one two three four five"),             // fully fresh -> 1
      // 6 tokens = 4 shingles; "alpha beta gamma" and "beta gamma delta"
      // are in ref, "gamma delta nine"/"delta nine ten" are not -> 0.5
      (3L, "alpha beta gamma delta nine ten"),
      (4L, "too short")).toDF("doc_id", "text")    // < 3 tokens -> 0 shingles
    val got = Dedup.ngramNovelty(docs, ref, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((4L, 0L, 0.0)), s"verbatim doc: ${got(1L)}")
    assert(got(2L) == ((3L, 3L, 1.0)), s"fresh doc: ${got(2L)}")
    assert(got(3L) == ((4L, 2L, 0.5)), s"half-quoted doc: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0.0)), s"shingle-less doc: ${got(4L)}")
  }

  test("clusterBalancedSample: hot cluster capped exactly, small cluster kept whole, deterministic") {
    import graft.operators.Similarity
    // two well-separated +/-1 clusters: every 7th vector near pattern B
    // (10 of 70), the rest near pattern A (one flipped dim each); ids 0/1 —
    // Lloyd's deterministic seeds — land one per cluster so 2-means
    // converges to the planted split. cap 50 -> A keeps exactly 50, B all 10
    val emb = spark.range(70).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST(" +
        "(CASE WHEN pmod(hash((CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END) * 32 + d), 2) = 0 " +
        "THEN 1.0 ELSE -1.0 END) * " +
        "(CASE WHEN d = CAST(id % 32 AS INT) THEN -1.0 ELSE 1.0 END) AS FLOAT))")
        .as("embedding"))
    val got = Similarity.clusterBalancedSample(emb, nlist = 2, iters = 2,
      maxPerCluster = 50).collect()
    assert(got.length == 70, "every vector must appear with a kept flag")
    val byCluster = got.groupBy(_.getLong(1))
    assert(byCluster.size == 2, s"expected 2 clusters: ${byCluster.keySet}")
    val keptCounts = byCluster.view.mapValues(_.count(_.getBoolean(3))).toMap
    val sizes = byCluster.view.mapValues(_.size).toMap
    for ((cid, n) <- sizes) {
      val expectKept = math.min(n, 50)
      assert(keptCounts(cid) == expectKept,
        s"cluster $cid size $n kept ${keptCounts(cid)}, expected $expectKept")
    }
    assert(sizes.values.toSet == Set(60, 10), s"cluster sizes drifted: $sizes")
    // hash draw is deterministic: a second run keeps the identical set
    val again = Similarity.clusterBalancedSample(emb, nlist = 2, iters = 2,
      maxPerCluster = 50).collect()
    assert(got.map(r => (r.getLong(0), r.getBoolean(3))).toSeq ==
      again.map(r => (r.getLong(0), r.getBoolean(3))).toSeq)
  }

  test("vocabDrift: planted drifted term tops the report, balanced terms near zero, minCount filters") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // A: "stable" vocabulary + "surge" appearing heavily; B: same stable
    // vocabulary, no surge. Rare term "blip" (count 1) must be filtered.
    val a = (1L to 10L).map(i => (i, "common words here surge surge surge"))
      .toDF("doc_id", "text")
    val b = (1L to 10L).map(i => (i + 100L, "common words here"))
      .toDF("doc_id", "text").union(Seq((200L, "blip")).toDF("doc_id", "text"))
    val got = TextAnalysis.vocabDrift(a, b, "text", topN = 10, minCount = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got.head._1 == "surge",
      s"surge must be the most-drifted term: ${got.toSeq}")
    assert(got.head._4 > 0, "surge over-represented in A -> positive drift")
    assert(got.head._2 == 30L && got.head._3 == 0L, s"surge counts: ${got.head}")
    assert(!got.map(_._1).contains("blip"), "minCount must filter the rare term")
    // the balanced terms carry smaller |drift| than surge
    assert(got.tail.forall(t => math.abs(t._4) < math.abs(got.head._4)),
      s"stable terms must drift less than surge: ${got.toSeq}")
  }

  test("hardNegatives: same-label twins excluded, top negatives ranked by cosine") {
    import spark.implicits._
    import graft.operators.Similarity
    // probe 0 (label 0); vec 1 = identical embedding SAME label (must be
    // excluded); vecs 2..4 other-label at decreasing similarity
    val mk = (flips: Int) => (0 until 16).map(d =>
      if (d < flips) -1.0f else 1.0f).toArray
    val emb = Seq(
      (0L, mk(0), 0), // probe
      (1L, mk(0), 0), // same-label twin: sim 1.0 but excluded
      (2L, mk(1), 1), // sim (16-2)/16 = 0.875
      (3L, mk(2), 1), // sim 0.75
      (4L, mk(3), 2)  // sim 0.625
    ).toDF("vec_id", "embedding", "label")
    val probes = emb.filter(col("vec_id") === 0L)
    val got = Similarity.hardNegatives(emb, probes, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 2)
    assert(got(0) == ((0L, 1, 2L, 0.875)), s"rank1: ${got(0)}")
    assert(got(1) == ((0L, 2, 3L, 0.75)), s"rank2: ${got(1)}")
    assert(!got.map(_._3).contains(1L), "same-label twin must never be mined")
  }

  test("bpeFertility: per-source report equals bpeEncode aggregated by source") {
    import graft.operators.TextAnalysis
    val docs = Tables.table(spark, sf0001, "documents")
    val fert = TextAnalysis.bpeFertility(docs, "source", nMerges = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // cross-check: the per-doc encode, joined back to its source, must sum
    // to the same word/symbol totals (fertility IS that aggregation)
    val byDoc = TextAnalysis.bpeEncode(docs, nMerges = 10)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum(col("n_words")).as("w"), sum(col("n_symbols")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fert == byDoc, s"fertility totals diverge from bpeEncode: " +
      s"only-fert=${fert.keySet -- byDoc.keySet} diffs=${fert.filter { case (k, v) => byDoc.get(k).exists(_ != v) }}")
    // fertility must be >= 1000 symbols per 1000 words (a word is >= 1 symbol)
    val ratios = TextAnalysis.bpeFertility(docs, "source", nMerges = 10)
      .collect().map(_.getLong(3))
    assert(ratios.forall(_ >= 1000L), s"fertility below 1 symbol/word: ${ratios.toSeq}")
  }

  test("int8TopK: integer-exact symmetric scoring, high recall vs brute force, zero vectors drop") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val got = Similarity.int8TopK(emb, probeId = 0L, topK = 10).collect()
    assert(got.length == 10)
    assert(!got.map(_.getLong(0)).contains(0L), "probe excluded")
    val approx = got.map(_.getDouble(1))
    assert(approx.zip(approx.tail).forall { case (a, b) => a >= b }, "not sorted desc")
    // int8 quantization barely perturbs cosine: top-10 must recover most of
    // the exact top-10 (deterministic on the fixture)
    val exact = Similarity.bruteForceTopK(emb, probeId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = got.map(_.getLong(0)).count(exact.contains).toDouble / 10
    info(f"int8 recall@10 vs brute force: $recall%.2f")
    assert(recall >= 0.8, s"int8 recall@10 degraded: $recall")
    // per-row quantization error must be small
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 0.02,
        s"quantization error too large: $r")
    }
    // zero vectors are unquantizable on either side: a zero probe yields an
    // empty result instead of NaN scores
    val withZero = emb.select("vec_id", "embedding")
      .union(Seq((999999L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    assert(Similarity.int8TopK(withZero, probeId = 999999L, topK = 5).count() == 0)
    val gotZ = Similarity.int8TopK(withZero, probeId = 0L, topK = 1000000).collect()
    assert(!gotZ.map(_.getLong(0)).contains(999999L), "zero corpus vector must drop")
  }

  test("holdoutIndexStore/decontaminateStored: stored registry == one-shot contamination") {
    import graft.operators.Dedup
    val d = Tables.table(spark, sf0001, "documents")
    val holdout = d.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"),
        array_join(slice(graft.functions.Text.tokens(col("text")), 6, 21), " ").as("text"))
    val dir = tempDir("graft-holdout")
    Dedup.holdoutIndexStore(holdout, dir, "doc_id", "text", n = 13)
    val stored = Dedup.decontaminateStored(spark, dir, d, "doc_id", "text", n = 13)
      .collect().map(_.toSeq)
    val oneShot = Dedup.exactSubstringContamination(d, holdout, "doc_id", "text", n = 13)
      .collect().map(_.toSeq)
    assert(stored.nonEmpty, "quoting holdout must flag documents")
    assert(stored.toSeq == oneShot.toSeq,
      "stored-registry decontamination diverges from the one-shot path")
    // the registry layout: positional grams with text for exact verify
    val grams = spark.read.parquet(s"$dir/grams")
    assert(grams.columns.sorted.toSeq == Seq("h", "hg", "hold_id", "hpos"),
      s"registry columns: ${grams.columns.toSeq}")
  }

  test("attribution: last touch wins, window bounds, unattributed conserves value") {
    import graft.operators.EventAnalytics
    val day = 86400L
    val ev = Seq(
      // u1: view then click then purchase -> credited to the LATER click
      (1L, "view", 0L, 0.0), (1L, "click", day, 0.0), (1L, "purchase", 2 * day, 10.0),
      // u2: touch 8 days before purchase -> outside the 7-day window
      (2L, "view", 0L, 0.0), (2L, "purchase", 8 * day, 5.0),
      // u3: purchase with no touch at all
      (3L, "purchase", 0L, 2.5),
      // u4: view only (no conversion) must not appear anywhere
      (4L, "view", 0L, 0.0))
      .toDF("user_id", "event_type", "tsec", "value")
      .select(col("user_id"), col("event_type"),
        col("tsec").cast("timestamp").as("ts"), col("value"))
    val got = EventAnalytics.attribution(ev, "user_id", "event_type", "ts", "value",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        maxGapMicros = 7L * day * 1000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("click", 1L, 10.0), ("unattributed", 2L, 7.5)),
      s"got: ${got.toSeq}")
    // conservation on the real fixture: attributed + unattributed value
    // equals total purchase revenue exactly
    val events = Tables.table(spark, sf0001, "events")
    val rep = EventAnalytics.attribution(events, "user_id", "event_type", "ts",
      "value", "purchase", Seq("view", "click"), 7L * day * 1000000L).collect()
    val total = events.filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DataTypes
        .createDecimalType(18, 2)))).head.getDecimal(0).doubleValue
    assert(rep.map(_.getDouble(2)).sum == total,
      s"value not conserved: ${rep.map(_.getDouble(2)).sum} vs $total")
    assert(rep.map(_.getLong(1)).sum ==
      events.filter(col("event_type") === "purchase").count())
  }

  test("epochShuffle: copy multiset equals upsampleMix; order is the seeded hash, reproducible") {
    import graft.operators.Sampling
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "source")
    val w = Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 3.0, "src3" -> 0.0)
    val got = Sampling.epochShuffle(docs, "doc_id", "source", w, seed = 7L).collect()
    val mix = Sampling.upsampleMix(docs, "doc_id", "source", w).collect()
    assert(got.length == mix.length, "copy multiset size diverges from upsampleMix")
    assert(got.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      mix.map(r => (r.getLong(0), r.getLong(2))).toSet,
      "copy multiset diverges from upsampleMix")
    val keys = got.map(_.getLong(3))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b }, "not hash-ordered")
    // different seed -> different permutation (same multiset)
    val other = Sampling.epochShuffle(docs, "doc_id", "source", w, seed = 8L).collect()
    assert(other.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      got.map(r => (r.getLong(0), r.getLong(2))).toSet)
    assert(other.map(_.getLong(0)).toSeq != got.map(_.getLong(0)).toSeq,
      "seed must change the permutation")
  }

  test("ivfPqTopK recall: bucket prune + ADC hold recall@5 >= 0.8 on the clustered fixture") {
    import graft.operators.Similarity
    // the pqTopK recall fixture: 66 near-duplicate groups of 6 (sibling
    // cosine ~0.94, cross-group ~0); exact top-5 of a member is its group.
    // The composition must survive BOTH approximations: the probe's
    // siblings land in its probed buckets (they embed ~identically) and
    // ADC ranks them up at m=8/k=16
    val emb = spark.range(396).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> CAST(" +
        "(CASE WHEN pmod(hash(CAST(id DIV 6 AS BIGINT) * 64 + d), 2) = 0 THEN 1.0 ELSE -1.0 END) * " +
        "(CASE WHEN d = CAST(id % 6 AS INT) THEN -1.0 ELSE 1.0 END) " +
        "AS FLOAT))").as("embedding"))
    emb.cache(); emb.count()
    try {
      val probes = Seq(0L, 21L, 107L, 333L)
      val recalls = probes.map { p =>
        val exact = Similarity.bruteForceTopK(emb, p, 5)
          .collect().map(_.getLong(0)).toSet
        val got = Similarity.ivfPqTopK(emb, p, topK = 5, nlist = 8, nprobe = 3,
            ivfIters = 4, m = 8, k = 16, pqIters = 4)
          .collect().map(_.getLong(0)).toSet
        exact.intersect(got).size.toDouble / 5
      }
      val mean = recalls.sum / recalls.size
      info(f"IVFPQ mean recall@5 over ${probes.size} probes: $mean%.2f")
      assert(mean >= 0.8, s"IVFPQ recall@5 degraded: $mean (${recalls.mkString(",")})")
    } finally { emb.unpersist(); () }
  }

  test("ivfRecallReport: nprobe=nlist reduces to brute force (1000pm); tight clusters at nprobe=1") {
    import graft.operators.Similarity
    // same clustered fixture family: a member's exact top-5 is its group
    val emb = spark.range(96).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> CAST(" +
        "(CASE WHEN pmod(hash(CAST(id DIV 6 AS BIGINT) * 64 + d), 2) = 0 THEN 1.0 ELSE -1.0 END) * " +
        "(CASE WHEN d = CAST(id % 6 AS INT) THEN -1.0 ELSE 1.0 END) " +
        "AS FLOAT))").as("embedding"))
    emb.cache(); emb.count()
    try {
      // unpruned search: IVF candidates == corpus, recall exactly 1000
      val full = Similarity.ivfRecallReport(emb, k = 5, nlist = 4, nprobe = 4,
          iters = 2, probeEvery = 13L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      assert(full.nonEmpty && full.forall(t => t._2 == 5L && t._3 == 1000L),
        s"nprobe=nlist must reduce to brute force: ${full.toSeq}")
      // hard pruning on tight clusters: siblings co-assign, recall holds high
      val pruned = Similarity.ivfRecallReport(emb, k = 5, nlist = 4, nprobe = 1,
          iters = 2, probeEvery = 13L)
        .collect().map(_.getLong(3))
      val mean = pruned.sum.toDouble / (1000 * pruned.length)
      info(f"IVF nprobe=1 mean recall@5: $mean%.2f")
      assert(mean >= 0.8, s"nprobe=1 recall collapsed on the clustered fixture: ${pruned.toSeq}")
    } finally { emb.unpersist(); () }
  }

  test("funnel: ordered steps, strict succession, gap bound, first-touch times") {
    import graft.operators.EventAnalytics
    val day = 86400L
    val ev = Seq(
      // u1: full funnel within gaps
      (1L, "view", 0L), (1L, "click", day), (1L, "purchase", 2 * day),
      // u2: skips click -> stops after step 1 (purchase can't count)
      (2L, "view", 0L), (2L, "purchase", day),
      // u3: click BEFORE view only -> succession violated, stops at step 1
      (3L, "click", 0L), (3L, "view", day),
      // u4: click 8 days after view -> over the 7-day gap, stops at step 1
      (4L, "view", 0L), (4L, "click", 8 * day),
      // u5: never views -> not even step 1
      (5L, "click", 0L), (5L, "purchase", day))
      .toDF("user_id", "event_type", "tsec")
      .select(col("user_id"), col("event_type"), col("tsec").cast("timestamp").as("ts"))
    val got = EventAnalytics.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGapMicros = 7L * day * 1000000L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "view", 4L, 1000L), (2, "click", 1L, 250L), (3, "purchase", 1L, 250L)),
      s"got: ${got.toSeq}")
  }

  test("retention: weekly cohorts, signup week counts as offset 0, exact per-mille") {
    import graft.operators.EventAnalytics
    // 2024-01-01 and 2024-01-08 are Mondays
    val ev = Seq(
      (1L, "signup", "2024-01-01 10:00:00"), (1L, "click", "2024-01-16 10:00:00"),
      (2L, "signup", "2024-01-02 10:00:00"),
      (3L, "signup", "2024-01-08 10:00:00"), (3L, "view", "2024-01-15 10:00:00"))
      .toDF("user_id", "event_type", "tstr")
      .select(col("user_id"), col("event_type"), col("tstr").cast("timestamp").as("ts"))
    val got = EventAnalytics.retention(ev, "user_id", "event_type", "ts", "signup")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
    // cohort 2024-01-01 (u1, u2): both active offset 0; u1 again offset 2
    // cohort 2024-01-08 (u3): active offsets 0 and 1
    assert(got.toSeq == Seq(
      ("2024-01-01", 0, 2L, 1000L), ("2024-01-01", 2, 1L, 500L),
      ("2024-01-08", 0, 1L, 1000L), ("2024-01-08", 1, 1L, 1000L)),
      s"got: ${got.toSeq}")
  }

  test("applyDedupQuality: cluster keeps the highest-quality member, ties to lower id") {
    import graft.operators.Dedup
    val t = "q w e r t y u i o p"
    val docs = Seq(
      (1L, "s", t),                 // near-dup cluster {1, 2}: 2 is longer ->
      (2L, "s", t + " extra more"), // higher quality -> kept despite higher id
      (3L, "s", "m n b v c x z l k j"), // exact-dup cluster {3, 4}: same text,
      (4L, "s", "m n b v c x z l k j"), // same quality -> tie keeps lower id 3
      (5L, "s", "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10")) // singleton survives
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val kept = Dedup.applyDedupQuality(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 3L, 5L), s"kept: ${kept.toSeq}")
  }

  test("applyExactDedup: one copy per byte-identical text, lowest id wins") {
    import graft.operators.Dedup
    val docs = Seq((5L, "same text"), (2L, "same text"), (9L, "unique"))
      .toDF("doc_id", "text")
    val kept = Dedup.applyExactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 9L), s"kept: ${kept.toSeq}")
  }

  test("reassembleChunks: round-trip matches the original for every length class") {
    import graft.operators.TextAnalysis
    def txt(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, txt(1)), (2L, txt(10)), (3L, txt(64)), (4L, txt(65)),
        (5L, txt(100)), (6L, txt(200)), (7L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.reassembleChunks(docs, chunkSize = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // expected chunk counts: max(1, ceil((n-16)/48))
    val expChunks = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L, 6L -> 4L)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"token-less doc must drop: ${got.toSeq}")
    got.foreach { g =>
      assert(g._2 == expChunks(g._1), s"chunk count: $g")
      assert(g._4, s"round-trip mismatch: $g")
    }
    val ns = Map(1L -> 1L, 2L -> 10L, 3L -> 64L, 4L -> 65L, 5L -> 100L, 6L -> 200L)
    got.foreach(g => assert(g._3 == ns(g._1), s"token count: $g"))
    // corpus-wide invariant on the fixture: every document round-trips
    val corpus = Tables.table(spark, sf0001, "documents")
    val bad = TextAnalysis.reassembleChunks(corpus)
      .filter(!col("matches_original")).count()
    assert(bad == 0, s"$bad fixture docs fail the chunk round-trip")
  }

  test("qualityHistogram: per-source decile masses cover the corpus exactly") {
    import graft.operators.TextAnalysis
    val docs = Tables.table(spark, sf0001, "documents")
    val got = TextAnalysis.qualityHistogram(docs).collect()
    val totalDocs = got.map(_.getLong(2)).sum
    assert(totalDocs == docs.count(), s"histogram covers $totalDocs docs")
    assert(got.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 9),
      "decile out of range")
    // token mass matches the corpus token count
    val totalTokens = got.map(_.getLong(3)).sum
    val want = docs
      .select(size(graft.functions.Text.tokens(col("text"))).cast("long").as("nt"))
      .agg(sum("nt")).head.getLong(0)
    assert(totalTokens == want, s"token mass $totalTokens != corpus $want")
  }

  test("indexDrift: identical snapshots report zero shift; ppm shares sum to ~1e6") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val same = Similarity.indexDrift(emb, emb, nlist = 8, iters = 2).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"counts diverge on identical snapshots: $r")
      assert(r.getLong(5) == 0L, s"shift nonzero on identical snapshots: $r")
    }
    val drift = Similarity.indexDrift(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      nlist = 8, iters = 2).collect()
    val sumOld = drift.map(_.getLong(3)).sum
    val sumNew = drift.map(_.getLong(4)).sum
    // integer floor per bucket: each sum within nlist of exactly 1e6
    assert(math.abs(sumOld - 1000000L) <= drift.length, s"ppm_old sums to $sumOld")
    assert(math.abs(sumNew - 1000000L) <= drift.length, s"ppm_new sums to $sumNew")
    assert(drift.map(_.getLong(5)).sum == sumNew - sumOld)
  }

  test("qualityTokenBudget: budget buys quality order; nBuckets-invariant") {
    import graft.operators.Sampling
    // composite quality = min(n/200,1)·(1−min(stop_ratio,0.5)):
    // B: 20 unique tokens -> 0.1 (q_u 100000); A: 10 unique -> 0.05 (50000);
    // C: 10 stopwords ('the') -> 0.025 (25000). Budget 30 keeps B (cum 20)
    // then A (cum 30); C's 40 would overflow.
    def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, uniq("a", 10)), (2L, uniq("b", 20)), (3L, Seq.fill(10)("the").mkString(" ")))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val got = Sampling.qualityTokenBudget(docs, budget = 30L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 50000L, 10L, 30L), (2L, 100000L, 20L, 20L)), s"got: ${got.toSeq}")
    // nBuckets sweep: kept set and cum_tokens bit-identical across bucketing
    val corpus = spark.range(300).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, CAST(pmod(id, 7) AS INT)), " +
        "j -> concat('t', id, '_', j)), ' ')").as("text"))
      .withColumn("n_chars", length(col("text")))
    def run(nb: Int) = Sampling.qualityTokenBudget(corpus, budget = 200L, nBuckets = nb)
      .collect().toSeq.map(_.toSeq)
    val reference = run(1)
    assert(reference.nonEmpty)
    for (nb <- Seq(3, 64, 1000))
      assert(run(nb) == reference, s"nBuckets=$nb diverged from single-bucket semantics")
  }

  test("clusterStatsBySource: planted duplicate clusters roll up per source") {
    import graft.operators.Dedup
    val t1 = "q w e r t y u i o p"
    val t2 = "m n b v c x z l k j"
    def uniq(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, "s1", t1), (2L, "s1", t1), (3L, "s1", t1),       // cluster {1,2,3}
      (4L, "s2", t2), (5L, "s2", t2), (6L, "s2", uniq("u")), // cluster {4,5}
      (7L, "s3", uniq("v")), (8L, "s3", uniq("w")))          // no clusters
      .toDF("doc_id", "source", "text")
    val got = Dedup.clusterStatsBySource(docs, "doc_id", "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("s1", 3L, 3L, 2L, 666L),
      ("s2", 3L, 2L, 1L, 333L),
      ("s3", 2L, 0L, 0L, 0L)), s"got: ${got.toSeq}")
  }

  test("minHashEstimateAudit: identical pair estimates exactly, ppm identity holds") {
    import graft.operators.Dedup
    val t1 = "q w e r t y u i o p"
    // near-pair: one trailing token changed — most shingles shared
    val t1b = "q w e r t y u i o zz"
    val docs = Seq((1L, t1), (2L, t1), (3L, t1b)).toDF("doc_id", "text")
    val got = Dedup.minHashEstimateAudit(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val exact = got.find(g => g._1 == 1L && g._2 == 2L)
      .getOrElse(fail(s"identical pair missing: ${got.toSeq}"))
    assert(exact._3 == 1.0 && exact._4 == 64L && exact._5 == 1000000L && exact._6 == 0L,
      s"identical docs must estimate exactly: $exact")
    // every row: est_ppm = matches·15625, err_ppm = |est − round(J·1e6)|
    got.foreach { g =>
      assert(g._4 >= 0 && g._4 <= 64, s"matches out of range: $g")
      assert(g._5 == g._4 * 15625L, s"est_ppm identity broken: $g")
      assert(g._6 == math.abs(g._5 - math.round(g._3 * 1e6)), s"err_ppm identity broken: $g")
    }
  }

  test("mislabelRate: a planted mislabeled source is detected; clean sources report 0") {
    import graft.operators.TextAnalysis
    // 3 en docs + 3 de docs (sClean, labels match their tokens) and ONE doc
    // declared en whose tokens are pure de (sBad): the NB argmax prefers de
    // even though the mislabel polluted en's counts
    val docs = Seq(
      (1L, "aa bb aa bb", "en", "sClean"), (2L, "aa bb aa bb", "en", "sClean"),
      (3L, "aa bb aa bb", "en", "sClean"), (4L, "cc dd cc dd", "de", "sClean"),
      (5L, "cc dd cc dd", "de", "sClean"), (6L, "cc dd cc dd", "de", "sClean"),
      (7L, "cc dd cc dd", "en", "sBad"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.mislabelRate(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("sBad", 1L, 1L, 1000L), ("sClean", 6L, 0L, 0L)),
      s"got: ${got.toSeq}")
  }

  test("asOfNearest: picks the smaller gap, ties to backward, tolerance bounds the chosen gap") {
    import graft.operators.AsOfJoin
    val probe = Seq(("A", 100L, "pa"), ("B", 100L, "pb"), ("C", 100L, "pc"),
        ("D", 100L, "pd"), ("E", 100L, "pe"))
      .toDF("k", "tsec", "tag")
      .select(col("k"), col("tsec").cast("timestamp").as("t"), col("tag"))
    val build = Seq(("A", 90L, "a90"), ("A", 105L, "a105"), ("B", 95L, "b95"),
        ("B", 105L, "b105"), ("C", 120L, "c120"), ("D", 80L, "d80"), ("Z", 99L, "z"))
      .toDF("k", "bsec", "v")
      .select(col("k"), col("bsec").cast("timestamp").as("bt"), col("v"))
    val got = AsOfJoin.asOfNearest(probe, build, "k", "t", "bt")
      .select("k", "v", "matched_dir", "gap_us").orderBy("k")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("A", "a105", "forward", 5000000L),   // 5 < 10: forward wins
      ("B", "b95", "backward", 5000000L),   // equidistant: tie -> backward
      ("C", "c120", "forward", 20000000L),  // only forward exists
      ("D", "d80", "backward", 20000000L)), // only backward exists; E drops
      s"got: ${got.toSeq}")
    val tol = AsOfJoin.asOfNearest(probe, build, "k", "t", "bt",
        toleranceMicros = Some(10000000L))
      .select("k").orderBy("k").collect().map(_.getString(0))
    assert(tol.toSeq == Seq("A", "B"),
      s"10s tolerance must keep only the 5s gaps: ${tol.toSeq}")
  }

  test("bigramLogprob: hand-computed MLE conditionals; short docs drop out") {
    import graft.operators.TextAnalysis
    // bigrams: d1 [a b, b c], d2 [a b, b d]; corpus counts c12("a b")=2,
    // c12("b c")=c12("b d")=1; left contexts c1(a)=2, c1(b)=2. Per doc:
    // nll = [ln(2/2), ln(2/1)] = [0, 0.693147] -> mean 0.3465735
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "q"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogprob(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L),
      s"docs with < 2 tokens must drop out: ${got.toSeq}")
    assert(got.forall(_._2 == 2L), s"bigram counts: ${got.toSeq}")
    assert(got.forall(g => math.abs(g._3 - 0.3465735) < 1e-6),
      s"mean NLL: ${got.toSeq}")
    // conditional sanity: a doc repeating the corpus' dominant transition
    // scores lower (more probable) than one using the rare transition
    val docs2 = Seq((1L, "a b a b a b"), (2L, "a c"), (3L, "a b"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bigramLogprob(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) < m(2L), s"frequent transitions must score lower: $m")
  }

  test("clusterLabelPurity: planted two-cluster fixture — majority, purity, entropy exact") {
    import graft.operators.Similarity
    // +e1 cluster {0,2,3} labels x,x,z; -e1 cluster {1,4} labels y,w (tie:
    // majority breaks to the lexicographically smaller label)
    val emb = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f), "x"),
      (1L, Seq(-1.0f, 0f, 0f, 0f), "y"),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), "x"),
      (3L, Seq(0.95f, -0.05f, 0f, 0f), "z"),
      (4L, Seq(-0.9f, 0.05f, 0f, 0f), "w")
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.clusterLabelPurity(emb, nlist = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    // c0: n=3, labels {x:2, z:1} -> majority x, purity 2000 div 3 = 666,
    //     entropy floor((2*round(ln(3/2),6) + 1*round(ln 3,6))*1e6 / 3)
    //           = floor((0.810930 + 1.098612)*1e6 / 3) = 636514
    // c1: n=2, labels {w:1, y:1} -> majority w (tie to smaller), purity 500,
    //     entropy floor(2*round(ln 2,6)*1e6 / 2) = 693147
    assert(got.toSeq == Seq(
      (0L, 3L, 2L, "x", 666L, 636514L),
      (1L, 2L, 2L, "w", 500L, 693147L)), s"got: ${got.toSeq}")
  }

  test("Lloyd consumers: injected shared centroids match self-built (round-14 memo)") {
    import graft.operators.Similarity
    // the session-shared Lloyd memo hands consumers a PRETRAINED centroid
    // set; every consumer fed lloydCentroidsLocalValues at its own
    // parameters must reproduce the self-trained result exactly
    val emb = Tables.table(spark, sf0001, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    def cents(e: org.apache.spark.sql.DataFrame, nlist: Int, iters: Int) =
      Surface.build(LloydParams(nlist, iters))(p =>
        Similarity.lloydCentroidsLocalValues(e, p.nlist, p.iters))
    val c42 = cents(emb, nlist = 4, iters = 2)
    assert(rows(Similarity.kmeansClusterStats(emb, 4, 2, centsOpt = Some(c42)))
      == rows(Similarity.kmeansClusterStats(emb, 4, 2)))
    assert(rows(Similarity.clusterLabelPurity(emb, 4, 2, centsOpt = Some(c42)))
      == rows(Similarity.clusterLabelPurity(emb, 4, 2)))
    assert(rows(Similarity.clusterBalancedSample(emb, 4, 2, 50, centsOpt = Some(c42)))
      == rows(Similarity.clusterBalancedSample(emb, 4, 2, 50)))
    val c44 = cents(emb, nlist = 4, iters = 4)
    assert(rows(Similarity.semanticDedup(emb, 4, 4, 0.45, centsOpt = Some(c44)))
      == rows(Similarity.semanticDedup(emb, 4, 4, 0.45)))
    val even = emb.filter("vec_id % 2 = 0")
    val odd = emb.filter("vec_id % 2 = 1")
    val c82 = cents(even, nlist = 8, iters = 2)
    assert(rows(Similarity.indexDrift(even, odd, 8, 2, centsOpt = Some(c82)))
      == rows(Similarity.indexDrift(even, odd, 8, 2)))
    val trained = Surface.build(IvfPqParams(nlist = 4, ivfIters = 2, m = 8, k = 8, pqIters = 2))(
      p => Similarity.trainIvfPq(emb, p))
    assert(rows(Similarity.ivfPqTopK(emb, 0L, 5, 4, 3, 2, 8, 8, 2,
        trainedOpt = Some(trained)))
      == rows(Similarity.ivfPqTopK(emb, 0L, 5, 4, 3, 2, 8, 8, 2)))
  }

  test("truncationAudit: closed-form prefix energy; zero vectors drop out") {
    import graft.operators.Similarity
    val emb = Seq((0L, Seq(3.0f, 4.0f)), (1L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.truncationAudit(emb, dims = Seq(1, 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // v0 = (3,4): full energy 25; d=1 keeps 9/25 = 360000 ppm, cos 0.6;
    // d=2 keeps all. The zero vector is unauditable and drops.
    assert(got.toSeq == Seq((0L, 1, 360000L, 0.6), (0L, 2, 1000000L, 1.0)),
      s"got: ${got.toSeq}")
  }

  test("ivfPqTopK: bucket-pruned ADC scores match pqTopK; nprobe=nlist equals pqTopK exactly") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val ivfpq = Similarity.ivfPqTopK(emb, probeId = 0L, topK = 5,
      nlist = 4, nprobe = 3, ivfIters = 4, m = 8, k = 8, pqIters = 2).collect()
    assert(ivfpq.length == 5)
    assert(!ivfpq.map(_.getLong(0)).contains(0L), "probe must be excluded")
    val approx = ivfpq.map(_.getDouble(1))
    assert(approx.zip(approx.tail).forall { case (a, b) => a >= b }, "not sorted desc")
    // per-id scores must agree with the full-corpus ADC ranking built from
    // the same (deterministic) codebooks — pruning changes the candidate
    // set, never a surviving row's score
    val full = Similarity.pqTopK(emb, probeId = 0L, topK = 1000000,
        m = 8, k = 8, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    ivfpq.foreach { r =>
      val (a, e) = full(r.getLong(0))
      assert(r.getDouble(1) == a && r.getDouble(2) == e,
        s"scores diverge from pqTopK for vec ${r.getLong(0)}")
    }
    // probing every bucket disables the prune: result must equal pqTopK —
    // asserted on BOTH training paths: unequal round counts (4/2, separate
    // trainings) and equal counts (2/2, the joint one-plan training), so
    // the joint path's PQ codebooks are proven identical to pqCodebooks'
    val ref = Similarity.pqTopK(emb, probeId = 0L, topK = 5,
        m = 8, k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    for (ivfIters <- Seq(4, 2)) {
      val unpruned = Similarity.ivfPqTopK(emb, probeId = 0L, topK = 5,
          nlist = 4, nprobe = 4, ivfIters = ivfIters, m = 8, k = 8, pqIters = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(unpruned.toSeq == ref.toSeq,
        s"nprobe=nlist (ivfIters=$ivfIters) must reduce to the unpruned ADC ranking")
    }
    // the joint training's IVF half must equal a SEPARATE
    // lloydCentroidsLocalValues run at the same round count: prune with the
    // separately trained centroids by hand and compare the full pruned
    // candidate id sets (not just the top-5) at 2/2
    val cents2 = Similarity.lloydCentroidsLocalValues(emb, nlist = 4, iters = 2)
    def cos6(a: Array[Double], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i).toDouble; na += a(i) * a(i)
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probeV = byId(0L)
    val probedSep = cents2.map { case (cid, v) => (-cos6(v, probeV), cid) }
      .sorted.take(3).map(_._2).toSet
    val assignSep = byId.keys.filter(_ != 0L).filter { id =>
      val v = byId(id)
      val best = cents2.map { case (cid, c) => (-cos6(c, v), cid) }.min._2
      probedSep.contains(best)
    }.toSet
    val jointAll = Similarity.ivfPqTopK(emb, probeId = 0L, topK = 1000000,
        nlist = 4, nprobe = 3, ivfIters = 2, m = 8, k = 8, pqIters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(jointAll == assignSep,
      s"joint-training bucket prune diverges from separate Lloyd centroids: " +
        s"only-joint=${(jointAll -- assignSep).take(5)} only-sep=${(assignSep -- jointAll).take(5)}")
  }

  test("ivfPqStore/ivfPqSearchStored: stored == one-shot ranking; inverted lists carry no floats") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, sf0001, "embeddings")
    val dir = tempDir("graft-ivfpq")
    Similarity.ivfPqStore(emb, dir, nlist = 4, ivfIters = 4,
      m = 8, k = 8, pqIters = 2)
    val stored = Similarity.ivfPqSearchStored(spark, dir, emb, probeId = 0L,
        topK = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val oneShot = Similarity.ivfPqTopK(emb, probeId = 0L, topK = 5,
        nlist = 4, nprobe = 3, ivfIters = 4, m = 8, k = 8, pqIters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(stored.toSeq == oneShot.toSeq,
      s"stored serving diverges from one-shot: $stored vs $oneShot")
    // the serving layout: the inverted list holds ONLY (vec_id, code) under
    // centroid_id partition dirs — the 256x-smaller artifact of the claim
    val inv = spark.read.parquet(s"$dir/invlists")
    assert(inv.columns.sorted.toSeq == Seq("centroid_id", "code", "vec_id"),
      s"invlists columns: ${inv.columns.toSeq}")
    val partDirs = new java.io.File(s"$dir/invlists").listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(partDirs >= 2, s"expected per-bucket partition dirs, found $partDirs")
  }

  test("transitionMatrix: per-user order, event_id tiebreak, per-prev per-mille") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      // u1: A -> B -> A (two transitions)
      (1L, "A", 0L, 1L), (1L, "B", 10L, 2L), (1L, "A", 20L, 3L),
      // u2: same-ts pair ordered by event_id: A -> A
      (2L, "A", 0L, 4L), (2L, "A", 0L, 5L),
      // u3: single event, contributes nothing
      (3L, "B", 0L, 6L))
      .toDF("user_id", "event_type", "tsec", "event_id")
      .select(col("user_id"), col("event_type"),
        col("tsec").cast("timestamp").as("ts"), col("event_id"))
    val got = EventAnalytics.transitionMatrix(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("A", "A", 1L, 500L), ("A", "B", 1L, 500L), ("B", "A", 1L, 1000L)),
      s"got: ${got.toSeq}")
  }

  test("rollingActive: exact trailing-window distinct, only real activity days report") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, "2024-01-01 08:00:00"), (1L, "2024-01-01 09:00:00"), // same user-day twice
      (1L, "2024-01-02 08:00:00"),
      (2L, "2024-01-01 23:00:00"),
      (3L, "2024-01-04 01:00:00"))
      .toDF("user_id", "tstr")
      .select(col("user_id"), col("tstr").cast("timestamp").as("ts"))
    val got = EventAnalytics.rollingActive(ev, "user_id", "ts", windowDays = 3)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    // 01-03 has no activity -> no row; 01-04's window [01-02..01-04] sees u1+u3;
    // u2's 01-01 contribution to 01-03 never surfaces (not a report day)
    assert(got.toSeq == Seq(
      ("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 2L), ("2024-01-04", 1L, 2L)),
      s"got: ${got.toSeq}")
  }

  test("valueAnomalies: exact integer z-test flags the planted spike, zero-variance group clean") {
    import graft.operators.EventAnalytics
    // X: nine 1.00s + one 100.00 -> z(100.00) = 3 exactly, z(1.00) < 2
    // Y: constant value -> zero variance, strict > keeps everything in
    val ev = ((1 to 9).map(_ => ("X", 1.00)) ++ Seq(("X", 100.00)) ++
      (1 to 3).map(_ => ("Y", 7.50)))
      .toDF("event_type", "value")
    val got = EventAnalytics.valueAnomalies(ev, "event_type", "value", zTimes10 = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("X", 10L, 1L, 100L), ("Y", 3L, 0L, 0L)),
      s"got: ${got.toSeq}")
  }

  test("pmiBigrams: exact adjacent counts; pmi matches independent scala-side math") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z")) // z: no bigrams
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiBigrams(docs, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // counts: ab=3 ba=1 bc=1 (B=5); unigrams a=3 b=3 c=1 z=1 (T=8)
    val cnt = got.map(t => ((t._1, t._2), t._3)).toMap
    assert(cnt == Map(("a", "b") -> 3L, ("b", "a") -> 1L, ("b", "c") -> 1L), s"got: ${got.toSeq}")
    def pmi(nab: Long, na: Long, nb: Long): Double =
      BigDecimal(math.log(nab.toDouble * 8 * 8 / (5.0 * na * nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byPair = got.map(t => ((t._1, t._2), t._4)).toMap
    assert(byPair(("a", "b")) == pmi(3, 3, 3))
    assert(byPair(("b", "c")) == pmi(1, 3, 1))
    // output ordering: pmi desc, then term_a, term_b
    assert(got.map(_._4).toSeq == got.map(_._4).sorted(Ordering[Double].reverse).toSeq)
  }

  test("coverageCurve: exact ppm at each k; k beyond V clamps to whole-vocabulary row") {
    val docs = Seq((1L, "a a a b b"), (2L, "a a b c c")).toDF("doc_id", "text")
    val got = TextAnalysis.coverageCurve(docs, ks = Seq(1, 2, 10))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // counts a=5 b=3 c=2, T=10: top1=a 500000; top2=+b 800000; k=10 -> V=3, all
    assert(got.toSeq == Seq((1, 1, 500000L), (2, 2, 800000L), (10, 3, 1000000L)),
      s"got: ${got.toSeq}")
  }

  test("cooccurrenceLift: exact ppm vs independence; absent pairs emit no row") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, "A"), (1L, "B"), (1L, "B"), // duplicate (u,t) must not double-count
      (2L, "A"), (2L, "B"),
      (3L, "A"),
      (4L, "C"))
      .toDF("user_id", "event_type")
    val got = EventAnalytics.cooccurrenceLift(ev, "user_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // N=4 users; n_A=3 n_B=2 n_C=1; both(A,B)=2 -> 2*4*1e6/(3*2)=1333333
    assert(got.toSeq == Seq(("A", "B", 2L, 1333333L)), s"got: ${got.toSeq}")
  }

  test("valueHistogram: decimal-digit buckets on exact centi-units, shares conserve") {
    import graft.operators.EventAnalytics
    val ev = Seq(("X", 0.00), ("X", 0.05), ("X", 0.10), ("X", 9.99), ("X", 10.00))
      .toDF("event_type", "value")
    val got = EventAnalytics.valueHistogram(ev, "event_type", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("X", 0, 2L, 400L), ("X", 1, 1L, 200L), ("X", 2, 1L, 200L), ("X", 3, 1L, 200L)),
      s"got: ${got.toSeq}")
  }

  test("langConfusion: planted disagreement shows off-diagonal; unmatched docs predict und") {
    val docs = Seq(
      (1L, "en", "the the a"),    // agrees
      (2L, "en", "der und nicht"), // declared en, reads de
      (3L, "fr", "zzz qqq"))       // no profile hit -> und
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.langConfusion(spark, docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("en", "de", 1L, 500L), ("en", "en", 1L, 500L), ("fr", "und", 1L, 1000L)),
      s"got: ${got.toSeq}")
  }

  test("dupNgramMass: exact shingle mass shares; threshold above max count reports zero") {
    // "a b c a b c" -> shingles [a b c, b c a, c a b, a b c]: abc=2 others 1
    val docs = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.dupNgramMass(docs, k = 3, thresholds = Seq(1, 2))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1, 1L, 2L, 4L, 500000L), (2, 0L, 0L, 4L, 0L)),
      s"got: ${got.toSeq}")
  }

  test("dimStats: quantized-moment mean/variance exact on a hand fixture") {
    import graft.operators.Similarity
    val emb = Seq((1L, Array(1.0f, -0.5f)), (2L, Array(3.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimStats(emb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (0, 2L, 1.0, 3.0, 2.0, 1.0),      // mean 2, population variance 1
      (1, 2L, -0.5, -0.5, -0.5, 0.0)),  // constant dim: variance exactly 0
      s"got: ${got.toSeq}")
  }

  test("churnProfile: users bucket by LAST event week; shares conserve") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-10 10:00:00"), // u1 last wk of 01-08
      (2L, "2024-01-02 10:00:00"))                              // u2 last wk of 01-01
      .toDF("user_id", "tstr")
      .select(col("user_id"), col("tstr").cast("timestamp").as("ts"))
    val got = EventAnalytics.churnProfile(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("2024-01-01", 1L, 500L), ("2024-01-08", 1L, 500L)),
      s"got: ${got.toSeq}")
  }

  test("imagePhash: decoded-pixel hash equals the closed-form formula; pairs equal brute force") {
    import graft.operators.Multimodal
    // independent formula-side hash (no decode): if the operator's decode
    // path dropped or permuted pixels, these would diverge
    def formulaHash(id: Long): Long = {
      val seed = if (id % 10 == 0) id + 5 else id
      val lums = (0 until 64).map { i =>
        val (x, y) = (i % 8, i / 8)
        if (id % 20 == 0 && x == 0 && y == 0) (299L * 255 + 587L * 255 + 114L * 255) / 1000L
        else {
          val v = (seed * 64L + y * 8L + x + 1L) % 16777213L
          val hv = (v * v + v * 7919L) % 16777213L
          (299L * (hv % 256) + 587L * ((hv / 256) % 256) + 114L * ((hv / 65536) % 256)) / 1000L
        }
      }
      val s = lums.sum
      lums.zipWithIndex.foldLeft(0L) { case (h, (l, i)) =>
        if (l * 64 > s) h | (1L << i) else h
      }
    }
    val ids = (0L until 60L)
    val docs = ids.map(i => (i, s"t$i")).toDF("doc_id", "text")
    val got = Multimodal.imagePhash(spark, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ids.map(i => i -> formulaHash(i)).toMap,
      "decoded hash != closed-form hash")
    // pair sweep == brute force at maxDist=3 (pigeonhole recall is exact)
    val gotPairs = Multimodal.phashPairs(spark, docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(formulaHash(a) ^ formulaHash(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(gotPairs == want, s"pairs mismatch: got ${gotPairs.size}, want ${want.size}")
    // the fixture plants both exact dups (d%10==0, d%20!=0 -> hamming 0)
    // and perturbed near-dups; assert at least the exact ones surface
    assert((0L until 60L by 10).filter(_ % 20 != 0)
      .forall(d => gotPairs.exists(p => p._1 == d && p._2 == d + 5 && p._3 == 0)))
  }

  test("labelMargin: planted mislabel goes negative; clean vectors stay positive") {
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(1f, 0f), 0L), (2L, Array(1f, 0f), 0L),
      (3L, Array(0f, 1f), 0L), // mislabeled: sits on label 1's axis
      (4L, Array(0f, 1f), 1L), (5L, Array(0f, 1f), 1L))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelMargin(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    // centroid l0 = (2/3, 1/3) (exact integer-quantized mean), l1 = (0, 1)
    assert(got.toSeq == Seq(
      (1L, 0L, 0.894427, 1L, 0.0, 0.894427),
      (2L, 0L, 0.894427, 1L, 0.0, 0.894427),
      (3L, 0L, 0.447214, 1L, 1.0, -0.552786),
      (4L, 1L, 1.0, 0L, 0.447214, 0.552786),
      (5L, 1L, 1.0, 0L, 0.447214, 0.552786)),
      s"got: ${got.toSeq}")
  }
}
