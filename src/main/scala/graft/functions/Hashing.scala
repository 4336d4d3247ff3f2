package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hashing utilities shared by the dedup / fingerprint operators.
  *
  * [[hash60]] is a 60-bit hash derived from MD5 (first 15 hex chars). MD5 is
  * standardized, so DuckDB computes the identical value
  * (`CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`) — this is what makes
  * MinHash/SimHash results oracle-checkable across engines.
  */
object Hashing {
  /** Mersenne prime 2^31 - 1; all MinHash arithmetic is mod this. */
  val P: Long = 2147483647L

  def hash60(c: Column): Column = graft.plans.Md5Prefix60.expr(c)

  /** The composable-builtins formulation (same value as [[hash60]]); kept as
    * the semantic reference for the custom expression.
    */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash permutation constants: h_i(x) = (a_i * x + b_i) mod P. Fixed,
    * documented values so both engines generate identical signatures.
    */
  def permA(i: Int): Long = 1L + 7919L * i
  def permB(i: Int): Long = (104729L * i) % P
}
