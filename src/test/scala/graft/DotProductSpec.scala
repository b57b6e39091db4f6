package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sim.{DotProduct, ReferenceForms}

/** The DotProduct kernel must be bit-identical to the
  * aggregate/zip_with higher-order composition it replaced — including
  * the null contract (null array, null element, length mismatch). */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bit-equal to the HOF fold on random dense vectors") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
        DotProduct($"a", $"b").as("native"),
        ReferenceForms.dotHof($"a", $"b").as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n)
        == java.lang.Double.doubleToRawLongBits(h), s"$n vs $h")
    }
  }

  test("null contract matches zip_with padding semantics") {
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),
      (2L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0)))), // length mismatch
      (3L, Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))), // null elem
      (4L, None, Some(Seq(Some(3.0)))), // null array
      (5L, Some(Seq.empty[Option[Double]]), Some(Seq.empty[Option[Double]]))) // empty
      .toDF("id", "a", "b")
      .select($"id", $"a".cast("array<double>"), $"b".cast("array<double>"))
    val out = df.orderBy($"id").select(
        DotProduct($"a", $"b").as("native"),
        ReferenceForms.dotHof($"a", $"b").as("hof"))
      .as[(Option[Double], Option[Double])].collect()
    assert(out(0) == ((Some(11.0), Some(11.0))))
    assert(out(1) == ((None, None)), "length mismatch → null (zip_with pads)")
    assert(out(2) == ((None, None)), "null element → null")
    assert(out(3) == ((None, None)), "null array → null")
    assert(out(4) == ((Some(0.0), Some(0.0))), "empty arrays → 0.0 seed")
    // interpreted path (eval) agrees with codegen
    val interp = df.filter($"id" === 1).select(DotProduct($"a", $"b"))
      .queryExecution.executedPlan.executeCollect()
    assert(interp.head.getDouble(0) == 11.0)
  }

  test("stays inside WholeStageCodegen (the HOF form broke the span)") {
    // spark.range keeps the plan out of ConvertToLocalRelation's reach
    val df = spark.range(10).select(
      array($"id".cast("double"), lit(2.0)).as("a"),
      array(lit(3.0), $"id".cast("double")).as("b"))
    val withNative = df.select(DotProduct($"a", $"b").as("d"))
    // `*(n)` prefixes mark operators inside a WholeStageCodegen span;
    // the kernel prints as the StaticInvoke that calls it
    val plan = withNative.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [static_invoke(graft.sim.DotProduct.dot("), plan)
    assert(withNative.agg(sum($"d")).as[Double].collect().head ==
      (0 until 10).map(i => 3.0 * i + 2.0 * i).sum)
  }

  test("SQL surface graft_dot/graft_cosine lower to the native expression") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_cosine(array(2.0d, 0.0d), array(1.0d, 0.0d)) AS c""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 11.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
  }
}
