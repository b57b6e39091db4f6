package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark plan builder over a testdata dir,
  * plus (when SQL-expressible) the equivalent DuckDB oracle SQL. The
  * driver hash-compares both at sf0.01 (SURVEY §5.2).
  *
  * Conventions that keep the hash-compare float-stable across engines:
  *  - every double output is `round(_, 4)` when it aggregates many rows
  *    (summation order differs between engines) and `round(_, 6)` when it
  *    is per-row arithmetic (bit-identical IEEE ops);
  *  - `events.ts` is µs-precision parquet (TIMESTAMP MICROS int64) read
  *    as the raw epoch long, so event time is always surfaced as
  *    `unix_micros` / `epoch_us` bigints, and window orderings
  *    tie-break on `event_id`;
  *  - every query output is fully deterministic (explicit ORDER BY +
  *    key tie-breaks ahead of any LIMIT).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A domain's declared queries. A pack keeps no session state of its
  * own: memoized frames, fitted models and layouts live in
  * [[graft.io.PersistRegistry]], and memo state several queries share
  * is a [[graft.io.Stage]] listed in `SparkEntry.stages`, so
  * `SparkEntry.clearPackCaches` releases every pack's memos through one
  * store and no pack can miss the reset. */
trait QueryPack {
  def queries: Seq[Q]
}

/** Cross-engine float canonicalization for query outputs.
  *
  * `round(x + 1e-9, k)`: aggregates of fixed-decimal source data land
  * exactly on round-half boundaries (e.g. a 24-row mean of 2-decimal
  * values is a multiple of 1/2400), where a 1-ulp difference between
  * Spark's and DuckDB's summation order flips the rounded digit. The
  * nudge shifts every boundary off the representable rationals; both
  * sides apply it identically (`round(x + 1e-9, k)` in oracle SQL).
  */
object Rx {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{round, lit}
  val EPS = 1e-9
  /** Aggregate-derived doubles (summation order differs across engines). */
  def r4(c: Column): Column = round(c + lit(EPS), 4)
  /** Per-row arithmetic / small rationals (bit-identical across engines). */
  def r6(c: Column): Column = round(c + lit(EPS), 6)
}
