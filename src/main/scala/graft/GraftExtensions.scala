package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Greatest, Least, Literal}
import graft.features.EwmAgg

/** Catalyst extension registration (SURVEY §4.2 / guide pattern):
  * surfaces the engine's custom expressions and operators to SQL —
  * every registered function lowers to native Catalyst expression trees
  * (resolved + codegen'd by the analyzer like any built-in), never a
  * Scala UDF.
  *
  * Two entry points for the same builders:
  *  - config-time: `spark.sql.extensions=graft.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)`), which also injects
  *    the two EWM planner strategies;
  *  - runtime: `GraftExtensions.register(spark)` on a live session,
  *    functions only.
  * Neither adds an optimizer rule: a per-key top-k is written as
  * `graft.operators.TopK.perKey` (or `graft_topk` in SQL), not as a
  * row_number window that a rule would have to recognise.
  *
  * Surface: `ewm(x, span)` (window aggregate), `graft_dot(a, b)`,
  * `graft_cosine(a, b)` (array<double> similarity), `graft_clip(x, lo,
  * hi)`, `graft_fingerprint(text)`, `graft_tokens(text)`,
  * `graft_token_count(text)`, `graft_topk(sort_key, payload, k)`,
  * `graft_hll(key, p)`.
  *
  * The builders mirror the Column-API definitions in `sim.Similarity` /
  * `text.TextOps` / `features.WindowOps` as UnresolvedFunction trees
  * (the analyzer resolves them to the same built-ins); equivalence is
  * asserted in EwmAggSpec. The Column objects themselves cannot be
  * spliced in directly — Spark 4 Column nodes handed back from a
  * function builder bypass node→expression conversion and die at
  * codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.EwmMacdStrategy)
    e.injectPlannerStrategy(_ => graft.plans.EwmStrategy)
  }
}

object GraftExtensions {

  private def buildEwm(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "ewm(value, span) takes exactly 2 arguments")
    val span = exprs(1) match {
      case Literal(v, _) => v.toString.toDouble
      case other => throw new IllegalArgumentException(
        s"ewm span must be a literal, got $other")
    }
    EwmAgg(exprs.head, 2.0 / (span + 1.0))
  }

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(Seq(name), args.toSeq, isDistinct = false)

  /** Similarity.dot's left-to-right fold — the DotProduct kernel,
    * called through the same StaticInvoke as the Column API
    * (bit-identical to the aggregate/zip_with composition, see
    * DotProductSpec). */
  private def dot(a: Expression, b: Expression): Expression =
    graft.sim.DotProduct.expr(a, b)

  private def cosine(a: Expression, b: Expression): Expression =
    fn("/",
      fn("/", dot(a, b),
        fn("nullif", fn("sqrt", dot(a, a)), Literal(0.0))),
      fn("nullif", fn("sqrt", dot(b, b)), Literal(0.0)))

  /** split(trim(t), '\s+') — TextOps.tokens. */
  private def tokens(t: Expression): Expression =
    fn("split", fn("trim", t), Literal("\\s+"))

  /** md5 of sorted distinct lowercase-alnum tokens — TextOps.fingerprint. */
  private def fingerprint(t: Expression): Expression = {
    val norm = fn("regexp_replace", fn("lower", t),
      Literal("[^a-z0-9\\s]"), Literal(""))
    fn("md5", fn("concat_ws", Literal(" "),
      fn("array_sort", fn("array_distinct", tokens(norm)))))
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ewm" -> (buildEwm _),
    "graft_dot" -> { exprs =>
      require(exprs.length == 2, "graft_dot takes 2 arguments")
      dot(exprs(0), exprs(1)) },
    "graft_cosine" -> { exprs =>
      require(exprs.length == 2, "graft_cosine takes 2 arguments")
      cosine(exprs(0), exprs(1)) },
    "graft_clip" -> { exprs =>
      require(exprs.length == 3, "graft_clip takes 3 arguments")
      // Least/Greatest skip nulls, which would coerce graft_clip(NULL,lo,hi)
      // to lo — guard for pandas-clip null passthrough (WindowOps.nullSafeClip).
      fn("if", fn("isnull", exprs(0)), Literal(null),
        Least(Seq(Greatest(Seq(exprs(0), exprs(1))), exprs(2)))) },
    "graft_fingerprint" -> { exprs =>
      require(exprs.length == 1, "graft_fingerprint takes 1 argument")
      fingerprint(exprs(0)) },
    "graft_tokens" -> { exprs =>
      require(exprs.length == 1, "graft_tokens takes 1 argument")
      tokens(exprs(0)) },
    "graft_token_count" -> { exprs =>
      require(exprs.length == 1, "graft_token_count takes 1 argument")
      fn("regexp_count", exprs(0),
        Literal("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")) },
    "graft_topk" -> { exprs =>
      require(exprs.length == 3,
        "graft_topk(sort_key, payload, k) takes 3 arguments")
      val k = exprs(2) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) if v > 0 && v <= Int.MaxValue => v.toInt
        case Literal(v: Short, _) => v.toInt
        case Literal(v: Byte, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be a positive integer literal, got $other")
      }
      require(k > 0, s"graft_topk k must be positive, got $k")
      graft.operators.TopKAgg(exprs(0), exprs(1), k) },
    "graft_hll" -> { exprs =>
      require(exprs.length == 2, "graft_hll(key, p) takes 2 arguments")
      // Both literal widths validated UNIFORMLY at registration (p in
      // [4,24], multiple of 4 — HllAgg's register-array contract), so
      // an invalid p fails here with a graft_hll-prefixed message
      // instead of surfacing as HllAgg's analyzer-stage require.
      val p = exprs(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) if v >= Int.MinValue && v <= Int.MaxValue =>
          v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_hll p must be an integer literal, got $other")
      }
      require(p >= 4 && p <= 24 && p % 4 == 0,
        s"graft_hll p must be in [4, 24] and a multiple of 4, got $p")
      graft.sketch.HllAgg(exprs.head, p) })

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
