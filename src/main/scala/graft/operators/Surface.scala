package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Build parameters of the session-shared surfaces. A surface built at one
  * parameter set must never serve a consumer that runs at another, so the
  * parameters travel with the value ([[Surface]]) and key the registry.
  */
final case class LshParams(k: Int, numPerm: Int, bands: Int, threshold: Double)
final case class SubstringParams(n: Int, maxDf: Int)
final case class ContaminationParams(n: Int)
final case class LloydParams(nlist: Int, iters: Int)
final case class IvfPqParams(nlist: Int, ivfIters: Int, m: Int, k: Int, pqIters: Int)
/** Shingle-index pair sweeps (no shared surface; canonical values only). */
final case class NgramParams(k: Int, threshold: Double, maxDf: Int)

/** A precomputed intermediate together with the parameters it was built
  * with. Only [[Surface.build]] makes one, and it computes the value from
  * the very parameters it records, so the two cannot disagree.
  */
final class Surface[P, V] private (val params: P, val value: V) {
  /** The value, for a consumer running at `expected`; fails on a mismatch
    * instead of silently serving a surface built for other parameters.
    */
  def servedTo(expected: P, consumer: String): V = {
    require(params == expected,
      s"$consumer runs at $expected but the injected surface was built at $params")
    value
  }
}

object Surface {
  def build[P, V](params: P)(compute: P => V): Surface[P, V] =
    new Surface(params, compute(params))
}

/** The canonical fixture parameters of the declared queries, written once:
  * `ExtensionQueries`, `PlanDump`'s stage plans and
  * [[Pipeline.trainingManifest]] all read them.
  */
object Canonical {
  /** MinHash-LSH pairs: word 3-shingles, 64 perms, 16 bands, Jaccard ≥ 0.5. */
  val lsh = LshParams(k = 3, numPerm = 64, bands = 16, threshold = 0.5)
  /** Positional 13-gram index, df cap 50 (exact-substring family). */
  val substring = SubstringParams(n = 13, maxDf = 50)
  /** Verbatim 13-gram contamination vs the [[quotingHoldout]]. */
  val contamination = ContaminationParams(n = 13)
  /** A verbatim run at least this long counts as a quote (trim, decontaminate). */
  val minSpan = 20
  val ngramCapped = NgramParams(k = 3, threshold = 0.5, maxDf = 50)
  val containment = NgramParams(k = 3, threshold = 0.8, maxDf = 50)
  /** Lloyd indexes: cluster family, semantic dedup, index drift (evens). */
  val clusterLloyd = LloydParams(nlist = 4, iters = 2)
  val semanticLloyd = LloydParams(nlist = 4, iters = 4)
  val driftLloyd = LloydParams(nlist = 8, iters = 2)
  /** One-shot IVFADC; equal round counts train both quantizers jointly. */
  val ivfPq = IvfPqParams(nlist = 4, ivfIters = 2, m = 8, k = 8, pqIters = 2)

  /** Every 97th document plays the benchmark. */
  def isHoldout(docId: Column): Column = docId % 97 === 0

  /** A benchmark that QUOTES training text: every holdout doc contributes a
    * 21-token excerpt (tokens 6-26), so those training docs verifiably
    * contain a verbatim ≥ 13-token benchmark span.
    */
  def quotingHoldout(docs: DataFrame): DataFrame =
    docs.filter(isHoldout(col("doc_id")))
      .select(col("doc_id"),
        array_join(slice(graft.functions.Text.tokens(col("text")), 6, 21), " ").as("text"))
}
