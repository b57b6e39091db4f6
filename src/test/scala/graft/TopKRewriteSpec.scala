package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKRewrite

/** The optimizer rewrite must turn the row_number-window top-k idiom
  * into the heap-aggregate plan with IDENTICAL results — and leave
  * every unsupported shape untouched.
  *
  * The rule is installed on a session of its own (`newSession` has its
  * own ExperimentalMethods): on the shared test session it would also
  * rewrite every later spec's window reference forms (TopKSpec's
  * `viaWindow`) into the very heap aggregate they check, and Verify,
  * Bench and perfbench never install it. */
class TopKRewriteSpec extends AnyFunSuite {
  private def experimental(s: org.apache.spark.sql.SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental

  private lazy val spark = {
    val s = SparkTestSession.spark.newSession()
    experimental(s).extraOptimizations = Seq(TopKRewrite)
    s
  }
  import spark.implicits._

  test("the rule stays on this spec's session") {
    assert(experimental(spark).extraOptimizations == Seq(TopKRewrite))
    assert(experimental(SparkTestSession.spark).extraOptimizations.isEmpty)
  }

  private def df = {
    val rnd = new scala.util.Random(31)
    Seq.tabulate(3000)(i => (s"k${i % 5}", rnd.nextDouble() * 10, i.toLong))
      .toDF("key", "score", "id").repartition(9)
  }

  test("asc idiom rewrites to the heap aggregate, results identical") {
    val w = Window.partitionBy($"key").orderBy($"score", $"id")
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_topk"), plan)
    assert(!plan.contains("Window"), plan)
    // equivalence vs an un-rewritten session computation: disable by
    // comparing against the operator API (already pinned to the window
    // semantics in TopKSpec)
    val expected = graft.operators.TopK.perKey(
        df, Seq("key"), Seq($"score", $"id"), 4, "rn")
      .select($"key", $"score", $"id", $"rn")
      .orderBy($"key", $"rn").collect()
    val actual = q.select($"key", $"score", $"id", $"rn")
      .orderBy($"key", $"rn").collect()
    assert(actual.toSeq == expected.toSeq)
  }

  test("desc-on-numeric idiom rewrites with nulls-last semantics") {
    val base = df.withColumn("score",
      when($"id" % 11 === 0, lit(null)).otherwise($"score"))
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"id")
    val q = base.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // nulls must NOT be promoted: no null score may appear at rn=1..3
    // unless a key has fewer than 3 non-null rows (it doesn't here)
    assert(q.filter($"score".isNull).count() == 0)
    // spot-check against a fresh unrewritten session? the operator API
    // with descNullsLast is the pinned-equivalent form
    val expected = graft.operators.TopK.perKey(base, Seq("key"),
        Seq(graft.operators.TopK.descNullsLast($"score"), $"id"), 3, "rn")
      .select($"key", $"id", $"rn").orderBy($"key", $"rn").collect()
    val actual = q.select($"key", $"id", $"rn")
      .orderBy($"key", $"rn").collect()
    assert(actual.toSeq == expected.toSeq)
  }

  test("desc rewrite ranks NaN first, like the window it replaces") {
    val base = df.withColumn("score",
      when($"id" % 13 === 0, lit(Double.NaN))
        .when($"id" % 11 === 0, lit(null)).otherwise($"score"))
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"id")
    val q = base.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // NaN is the largest double in Spark's total order: with >3 NaN
    // rows per key, every top-3 row must be NaN
    val actual = q.select($"key", $"id", $"rn", $"score")
      .orderBy($"key", $"rn").collect()
    assert(actual.nonEmpty && actual.forall(r => r.getDouble(3).isNaN), actual.mkString(","))
    val expected = graft.operators.TopK.perKey(base, Seq("key"),
        Seq(graft.operators.TopK.descNullsLast($"score"), $"id"), 3, "rn")
      .select($"key", $"id", $"rn", $"score").orderBy($"key", $"rn").collect()
    assert(actual.toSeq == expected.toSeq)
  }

  test("desc rewrite on LONG keys survives Long.MinValue under ANSI") {
    // UnaryMinus(Long.MinValue) throws under ANSI — the rewrite must
    // widen to decimal before negating, and still match the window
    val base = Seq(("a", Long.MinValue, 1L), ("a", 5L, 2L),
      ("a", Long.MaxValue, 3L), ("b", -7L, 4L), ("b", 0L, 5L))
      .toDF("key", "v", "id").repartition(3)
    val w = Window.partitionBy($"key").orderBy($"v".desc, $"id")
    val q = base.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_topk"),
      q.queryExecution.optimizedPlan.toString)
    val rows = q.select($"key", $"v", $"rn").orderBy($"key", $"rn")
      .as[(String, Long, Int)].collect()
    assert(rows.toSeq == Seq(("a", Long.MaxValue, 1), ("a", 5L, 2),
      ("b", 0L, 1), ("b", -7L, 2)))
  }

  test("desc rewrite on INT keys widens Int.MinValue") {
    val base = Seq(("a", Int.MinValue, 1L), ("a", 5, 2L), ("a", Int.MaxValue, 3L))
      .toDF("key", "v", "id").repartition(2)
    val w = Window.partitionBy($"key").orderBy($"v".desc, $"id")
    val q = base.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    val rows = q.select($"v", $"rn").orderBy($"rn").as[(Int, Int)].collect()
    assert(rows.toSeq == Seq((Int.MaxValue, 1), (5, 2)))
  }

  test("k above MaxHeapK is NOT rewritten (heap would not spill)") {
    val w = Window.partitionBy($"key").orderBy($"score", $"id")
    val q = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= graft.operators.TopK.MaxHeapK + 1)
    assert(!q.queryExecution.optimizedPlan.toString.contains("graft_topk"))
  }

  test("unsupported shapes stay windows") {
    val w = Window.partitionBy($"key").orderBy($"score", $"id")
    // rank() is not row_number
    val q1 = df.withColumn("rn", rank().over(w)).filter($"rn" <= 3)
    assert(!q1.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // compound condition
    val q2 = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3 && $"score" > 1)
    assert(!q2.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // desc on a STRING (not safely negatable)
    val w3 = Window.partitionBy($"key").orderBy($"key".desc, $"id")
    val q3 = df.withColumn("rn", row_number().over(w3)).filter($"rn" <= 3)
    assert(!q3.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    // two window expressions in one node
    val q4 = df.withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w)).filter($"rn" <= 3)
    assert(!q4.queryExecution.optimizedPlan.toString.contains("graft_topk"))
  }

  test("downstream operators bind to the rewritten output (exprIds preserved)") {
    val w = Window.partitionBy($"key").orderBy($"score", $"id")
    val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .groupBy($"key").agg(sum($"score").as("s"), max($"rn").as("m"))
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_topk"))
    val rows = q.orderBy($"key").collect()
    assert(rows.length == 5 && rows.forall(_.getInt(2) == 2))
  }
}
