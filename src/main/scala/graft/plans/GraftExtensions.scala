package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-facing registration of the engine's custom Catalyst pieces, injected
  * via `SparkSessionExtensions` — so `spark.sql("SELECT graft_dot(a, b)")`
  * works with no Scala imports:
  *
  *   graft.Graft.session(...)  // installs it on every engine session
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * graft_dot / graft_cosine evaluate the codegen'd [[DotProduct]]; no custom
  * planner rules or strategies are injected — SURVEY.md §4's decision stands
  * (Catalyst's existing rewrites cover the declared surface).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProduct].getName, null, name, usage, "", "", "", "", "", "", "scala_udf")

  /** Wrong arity must surface as an analysis error (`SELECT graft_hash60()`),
    * not an IndexOutOfBoundsException from `exprs(0)`.
    */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != n)
      throw org.apache.spark.sql.graftbridge.ColumnBridge.wrongNumArgs(name, n, exprs.length)
    build(exprs)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two float/double arrays"),
      arity("graft_dot", 2)(exprs => DotProduct(exprs(0), exprs(1)))))

    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float/double arrays"),
      arity("graft_cosine", 2) { exprs =>
        import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
        val (a, b) = (exprs(0), exprs(1))
        Divide(
          DotProduct(a, b),
          Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))
      }))

    ext.injectFunction((
      FunctionIdentifier("graft_hash60"),
      info("graft_hash60", "graft_hash60(s) - 60-bit md5-prefix hash (DuckDB-reproducible)"),
      arity("graft_hash60", 1)(exprs => Md5Prefix60(exprs(0)))))

    ext.injectFunction((
      FunctionIdentifier("graft_quantize_int8"),
      info("graft_quantize_int8",
        "graft_quantize_int8(v) - fused int8 quantization report over a " +
          "float/double array: struct(amax, q_min, q_max, recon_cosine)"),
      arity("graft_quantize_int8", 1)(exprs => QuantizeInt8Report(exprs(0)))))

    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      info("graft_normalize",
        "graft_normalize(s) - canonical text normalization: lowercase, " +
          "non-alphanumerics to spaces, whitespace collapsed, trimmed"),
      arity("graft_normalize", 1) { exprs =>
        import org.apache.spark.sql.catalyst.expressions.{Literal, Lower, RegExpReplace, StringTrim}
        val lowered = Lower(exprs(0))
        val alnum = RegExpReplace(lowered, Literal("[^a-z0-9 ]"), Literal(" "))
        val collapsed = RegExpReplace(alnum, Literal(" +"), Literal(" "))
        StringTrim(collapsed)
      }))
  }
}
