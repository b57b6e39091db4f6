package graft

import scala.collection.immutable.SortedMap
import scala.util.Try
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.tools.ExchangeAudit

/** One walk over every declared query at sf0.001, shared by the three
  * whole-suite gates: `SmokeSpec` reads each query's row count,
  * `DeterministicOrderSpec` its optimized plan and `ShuffleBudgetSpec`
  * its shuffle count. Each builder runs once per suite, so its eager
  * jobs and stream drains run once, not once per gate.
  *
  * The walk starts on a cleared store and catalog cache, the cold state
  * `ExchangeAudit` records the budget in: a frame an earlier spec left
  * persisted would replace its subtree with an InMemoryRelation in
  * every plan that reads it. Queries then run in sorted order. A query
  * that throws is recorded, not rethrown, so each gate names it. */
object QuerySweep {
  val sf = "/root/testdata/sf0.001"

  /** What the gates read of one query: the optimized plan, the shuffle
    * count of the executed plan taken before any action (None for the
    * `st*` stream lines, which the budget exempts) and the row count. */
  final case class Swept(optimized: LogicalPlan, shuffles: Option[Int], rows: Long)

  /** Every declared query's sweep, or the error that stopped it. */
  lazy val results: SortedMap[String, Either[String, Swept]] = {
    val spark = SparkTestSession.spark
    SparkEntry.clearPackCaches(spark)
    spark.catalog.clearCache()
    SortedMap.from(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (for {
        df <- Try(fn(spark, sf)).toEither.left.map(e => s"builder failed: $e")
        swept <- Try {
          val qe = df.queryExecution
          val shuffles =
            if (name.startsWith("st")) None
            else Some(ExchangeAudit.countShuffles(qe.executedPlan))
          Swept(qe.optimizedPlan, shuffles, df.count())
        }.toEither.left.map(e => s"failed after building: $e")
      } yield swept)
    })
  }
}
