package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.util.Pretty

import graft.streaming.KTableStream.ClientView
import graft.streaming.ParquetServing

/** Pure ScalaCheck laws (no Spark session): the random-hyperplane signs
  * the LSH operators rely on.
  */
object SimilarityLaws extends Properties("Similarity") {

  property("hyperplane signs are deterministic ±1") =
    Prop.forAll(Gen.choose(0, 63), Gen.choose(0, 127)) { (i, d) =>
      val s = graft.operators.Similarity.hyperplaneSign(i, d)
      (s == 1.0 || s == -1.0) && s == graft.operators.Similarity.hyperplaneSign(i, d)
    }
}

/** Laws for the bounded top-k buffer: any partitioning of the input into
  * reduce/merge trees must equal the global sorted top-k — the property that
  * makes map-side combine safe at any parallelism.
  */
object TopKLaws extends Properties("TopKAggregator") {
  import graft.operators.TopKAggregator
  import graft.operators.TopKAggregator.Scored

  private val rows = Gen.listOf(for {
    // NaN included: the buffer order must stay total (NaN ranks last) or
    // insert/merge evict non-deterministically across partitionings
    score <- Gen.frequency(
      9 -> Gen.chooseNum(-1e6, 1e6),
      1 -> Gen.const(Double.NaN))
    id <- Gen.chooseNum(0L, 50L) // small id range => score ties happen
  } yield Scored(score, id))

  // scala 2.13's default Ordering[Double] is TotalOrdering: NaN is the
  // maximum, so -score ascending ranks NaN last — same order as the
  // aggregator's `before`
  private def globalTopK(xs: Seq[Scored], k: Int): Seq[Scored] =
    xs.sortBy(s => (-s.score, s.id)).take(k)

  // case-class == is IEEE on the Double field (NaN != NaN); compare bits
  private def canon(xs: Seq[Scored]): Seq[(Long, Long)] =
    xs.map(s => (java.lang.Double.doubleToLongBits(s.score), s.id))

  property("fold-reduce equals sorted top-k") =
    Prop.forAll(rows, Gen.choose(1, 7)) { (xs, k) =>
      val agg = TopKAggregator(k)
      canon(agg.finish(xs.foldLeft(agg.zero)(agg.reduce))) == canon(globalTopK(xs, k))
    }

  property("non-positive k is rejected at construction") =
    Prop.forAll(Gen.choose(-5, 0)) { k =>
      Prop.throws(classOf[IllegalArgumentException])(TopKAggregator(k))
    }

  property("arbitrary partition + merge equals sorted top-k (shuffle independence)") =
    Prop.forAll(rows, Gen.choose(1, 7), Gen.choose(1, 5)) { (xs, k, nParts) =>
      val agg = TopKAggregator(k)
      val partials = xs.zipWithIndex
        .groupBy(_._2 % nParts).values.map(_.map(_._1))
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      canon(agg.finish(merged)) == canon(globalTopK(xs, k))
    }
}

/** Laws for the sequence-packing walk: any walk-ordered input packs with
  * full coverage, no overflow, dense bin/pos numbering, and a new bin opens
  * ONLY when the chunk genuinely does not fit — next-fit, not
  * first-chunk-per-bin.
  */
object PackingLaws extends Properties("Packing") {
  import graft.operators.Packing
  import graft.operators.Packing.ChunkMeta

  private val budget = 64
  // walk-ordered shard-contiguous input, sizes in [1, budget]
  private val walks: Gen[List[ChunkMeta]] = for {
    nShards <- Gen.choose(1, 4)
    chunks <- Gen.listOf(for {
      shard <- Gen.choose(0, nShards - 1)
      n <- Gen.choose(1, budget)
    } yield (shard, n))
  } yield chunks.sortBy(_._1).zipWithIndex.map { case ((s, n), i) =>
    ChunkMeta(doc_id = i.toLong, chunk_idx = 0, n_tokens = n, pack_h = i.toLong, shard = s)
  }

  property("coverage, order, overflow, density, and next-fit minimality") =
    Prop.forAll(walks) { xs =>
      val out = Packing.packIterator(xs.iterator, budget).toList
      val coverage = out.map(_.doc_id) == xs.map(_.doc_id) // same rows, same order
      val noOverflow = out.groupBy(o => (o.shard, o.bin))
        .values.forall(_.map(_.n_tokens).sum <= budget)
      val dense = out.groupBy(o => (o.shard, o.bin)).values.forall(b =>
        b.map(_.pack_pos).sorted == b.indices.toList) &&
        out.groupBy(_.shard).values.forall(s =>
          s.map(_.bin).distinct.sorted == (0 to s.map(_.bin).max).toList)
      // next-fit: consecutive rows in one shard open a new bin only on a
      // genuine overflow of the bin being closed
      val minimal = out.zip(out.drop(1)).forall { case (a, b) =>
        b.shard != a.shard || b.bin == a.bin || {
          val closedFill = out.filter(o => o.shard == a.shard && o.bin == a.bin)
            .map(_.n_tokens).sum
          closedFill + b.n_tokens > budget
        }
      }
      coverage && noOverflow && dense && minimal
    }

  property("oversized chunk fails fast") =
    Prop.forAll(Gen.choose(budget + 1, budget * 3)) { n =>
      val bad = ChunkMeta(1L, 0, n, 1L, 0)
      Prop.throws(classOf[IllegalArgumentException])(
        Packing.packIterator(Iterator(bad), budget).toList)
    }
}

/** The served view under random whole-set change sequences, applied through
  * `ParquetServing.upsertBatch` in random batch splits with one batch
  * replayed under its own id (a crash between `foreachBatch` and the commit):
  * for every client, the keyed lookup through the view equals `asMap.get`,
  * the collected `snapshot` row and the fold of the changes.
  */
class ServedViewPropertySpec extends SparkSpec {
  private val universe = (1 to 10).map(i => f"c$i%02d")
  private val absent = Seq("c00", "c11", "")

  private val change: Gen[ClientView] = for {
    client <- Gen.oneOf(universe)
    ids <- Gen.someOf(Seq("AAPL", "MSFT", "GOOG").map(t => s"$client:::$t"))
  } yield ClientView(client, ids.toSeq.sorted, deleted = ids.isEmpty)

  // a change sequence cut into batches; update mode emits one row per
  // changed client and batch, the last change in it
  private val batches: Gen[Seq[Seq[ClientView]]] = for {
    changes <- Gen.listOf(change).map(_.take(24))
    nBatches <- Gen.choose(1, 4)
    cuts <- Gen.listOfN(nBatches - 1, Gen.choose(0, changes.size))
  } yield {
    val bounds = 0 +: cuts.sorted :+ changes.size
    bounds.zip(bounds.tail).map { case (from, to) =>
      changes.slice(from, to).groupBy(_.client).values.map(_.last).toSeq.sortBy(_.client)
    }
  }

  test("keyed lookup == asMap.get == snapshot row for any change sequence, split and replay") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(batches, Gen.choose(0, 3)) { (steps, replayAt) =>
      val serving = new ParquetServing(tempDir("served-property"), viewName = "served_property")
      val replayed = replayAt min (steps.size - 1)
      steps.zipWithIndex.foreach { case (b, id) =>
        serving.upsertBatch(spark.createDataset(b), id.toLong)
        if (id == replayed) serving.upsertBatch(spark.createDataset(b), id.toLong)
      }
      val expected = steps.flatten.foldLeft(Map.empty[String, Seq[String]]) { (m, c) =>
        if (c.deleted) m - c.client else m.updated(c.client, c.nasdaq_position_ids)
      }
      val store = serving.snapshot(spark).collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val map = serving.asMap
      val agree = (universe ++ absent).forall { client =>
        val looked = spark.table(serving.viewName).filter(col("client") === client)
          .collect().map(_.getSeq[String](1)).toSeq
        looked == map.get(client).toSeq && looked == store.get(client).toSeq
      }
      Prop(map == expected && agree) :| s"batches $steps, replayed $replayed"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(20).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
  }
}
