package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() yields rows; every declared query runs
  * and yields rows on sf0.001 (read from the shared [[QuerySweep]]);
  * every oracle key has a query. */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

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

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"query $name runs and returns rows on sf0.001") {
      QuerySweep.results(name) match {
        case Left(error) => fail(s"$name: $error")
        case Right(q) =>
          if (!mayBeEmpty(name)) assert(q.rows > 0, s"$name returned no rows")
      }
    }
  }
}
