package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The specs' shared session: the one engine config (`GraftSession`)
  * on a fixed local[4], so plan shapes do not depend on the host. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

/** Driver-contract smoke: entry() yields rows; every declared query runs
  * and yields rows on sf0.001; every oracle key has a query. */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  /** Legitimately-empty-at-tiny-SF queries: near-dup candidate pairs only
    * exist when the corpus actually contains near-duplicates (sf0.1 does;
    * sf0.001/sf0.01 don't); regime TRANSITIONS need a label change inside
    * a user's series, and sf0.001's short series label uniformly; the
    * 4-TRUSS needs edges in ≥ 2 surviving triangles, and sf0.001's
    * sparse corr graph peels away entirely (sf0.01 keeps 1623 edges). */
  private val mayBeEmpty = Set("d2_minhash_lsh", "w13_flags", "g29_ktruss")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs and returns rows on sf0.001") {
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }
}
