package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ExchangeAudit

/** Per-query shuffle budget gate: every declared batch query's physical
  * plan must contain NO MORE shuffle Exchanges than the checked-in
  * budget (src/test/resources/shuffle_budget.txt, generated by
  * `graft.tools.ExchangeAudit`). A shuffle is the unit of distributed
  * cost — a plan that silently grows an Exchange has regressed at
  * 100 TB even when local wall time hasn't moved, and nothing else in
  * the suite would catch it (the hash gate checks values, the
  * determinism gate checks ordering, Bench checks seconds on 600k
  * rows). Going UNDER budget is allowed (improvement — refresh the
  * file); a new query without a budget line fails until one is
  * recorded, so the budget can't rot by omission.
  *
  * Streaming (`st*`) queries are exempt: their declared plan is the
  * post-drain memory-sink aggregate, a constant-shape plan (the
  * interesting streaming state is gated by StreamingSpec/WatermarkSpec
  * and the StateMetrics bench sideline). The counts are read from the
  * shared [[QuerySweep]], which builds every query once for all three
  * whole-suite gates.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val budget: Map[String, Int] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/shuffle_budget.txt"))
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.trim.split("\\s+"); n -> c.toInt
    }.toMap
    finally src.close()
  }

  test("countShuffles counts shuffles only — not broadcast, not cached builds") {
    import org.apache.spark.sql.functions._
    // one live shuffle is visible (if this fails, Spark changed its
    // plan classes and the whole budget is blind)
    val agg = spark.range(100).groupBy((col("id") % 7).as("k")).count()
    assert(ExchangeAudit.countShuffles(agg.queryExecution.executedPlan) === 1)
    // a broadcast join is NOT a shuffle
    val small = spark.range(10).select(col("id").as("k"), lit(1).as("v"))
    val bj = spark.range(100).select((col("id") % 7).as("k"))
      .join(broadcast(small), "k")
    assert(ExchangeAudit.countShuffles(bj.queryExecution.executedPlan) === 0)
    // a persisted frame's BUILD shuffles are charged to materialization,
    // not to every reader — the round-20 LoopFrames.keyed pattern whose
    // nested-AQE toString broke the old textual counter (round-21)
    val cached = agg.persist()
    try {
      cached.count()
      val reader = cached.groupBy((col("k") % 2).as("j")).agg(sum("count"))
      assert(ExchangeAudit.countShuffles(reader.queryExecution.executedPlan) === 1,
        "reader over a cached frame must count only its OWN exchange")
    } finally cached.unpersist()
  }

  test("every batch query stays within its recorded shuffle budget") {
    // The counts come from QuerySweep, which walks the queries on a
    // cleared store (the generator's cold state) and counts each
    // query's executed plan before that query runs an action.
    val failures = QuerySweep.results.toSeq
      .filterNot(_._1.startsWith("st"))
      .flatMap {
        case (name, Left(error)) => Some(s"$name: $error")
        case (name, Right(q)) =>
          val got = q.shuffles.get // counted for every batch query
          budget.get(name) match {
            case None => Some(s"$name: no budget line — run ExchangeAudit and " +
              s"record it (currently $got shuffles)")
            case Some(b) if got > b =>
              Some(s"$name: $got shuffles, budget $b — the plan gained an " +
                "Exchange; fix the regression or consciously raise the budget")
            case _ => None
          }
      }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
