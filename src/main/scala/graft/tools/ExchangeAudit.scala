package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import graft.SparkEntry

/** Dev utility: count shuffle Exchanges in every declared query's
  * physical plan (sf0.001) — the generator for ShuffleBudgetSpec's
  * checked-in budget. A shuffle is THE unit of distributed cost; a
  * query whose Exchange count silently grows has regressed at 100 TB
  * even if its local wall time hasn't moved.
  *
  * Counting is SEMANTIC over the plan tree (round-21): the previous
  * textual counter over `executedPlan.toString` broke the moment a
  * persisted loop-constant frame (LoopFrames.keyed, round-20) appeared
  * in a final plan — an `InMemoryRelation` whose build is itself an
  * `AdaptiveSparkPlan` re-prints that subtree with RESET indentation
  * (`== Final Plan ==` restarts at the margin), so the indent-based
  * "skip cached builds" heuristic fell out of the cached subtree and
  * counted its build shuffles once per reference (m15_lpa read 25
  * against a budget of 3 with an unchanged 4-shuffle top-level plan).
  * The tree walk has no such ambiguity:
  *
  *  - `AdaptiveSparkPlanExec` recurses into `initialPlan` (the
  *    post-EnsureRequirements pre-execution tree — the one that
  *    carries the Exchange nodes);
  *  - `InMemoryTableScanExec` contributes ZERO and is not entered: a
  *    cached frame's build shuffles run once, at materialization —
  *    charging them to every reader would make any query over a
  *    persisted frame look quadratic in references;
  *  - `ReusedExchangeExec` contributes zero (no second shuffle);
  *  - `ShuffleExchangeLike` counts 1 (covers hash / range / single
  *    partition; `BroadcastExchange` is not a shuffle and simply
  *    doesn't match);
  *  - subquery plans (scalar subqueries, DPP) are traversed too.
  */
object ExchangeAudit {

  def countShuffles(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => countShuffles(a.initialPlan)
    case _: InMemoryTableScanExec => 0
    case _: ReusedExchangeExec => 0
    case s: ShuffleExchangeLike =>
      1 + (s.children ++ s.subqueries).map(countShuffles).sum
    case o => (o.children ++ o.subqueries).map(countShuffles).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    // optional args(1): comma-separated name filter (incremental budget
    // lines for new queries; counts must still be taken cold — see
    // ShuffleBudgetSpec's cache-clearing preamble)
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_DUMP_PLANS=<dir>: also write each query's counted
    // plan (toString of the executed plan) to <dir>/<name>.txt — the
    // evidence file for budget diffs
    val dump = sys.env.get("SPARK_GRAFT_DUMP_PLANS")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        dump.foreach { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"), plan.toString)
        }
        println(s"[shuffles] $name " + countShuffles(plan))
      } catch {
        case e: Throwable => println(s"[shuffles] $name FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
