package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

/** S2 at query time: the events panel re-laid-out date-partitioned
  * (`day=YYYY-MM-DD/` hive directories), so period predicates (P2,
  * reference period slicing `market_analysis.py:674-678`) become
  * directory-level partition PRUNING — at 100 TB the scan never even
  * lists the files outside the window, which row-group skipping on a
  * flat layout cannot do (SURVEY §4.2).
  *
  * The layout is materialized ONCE per (session, source dir) into a
  * process-lifetime temp dir and memoized — the write is the one-time
  * ingest cost a real deployment pays when it lands data, billed in
  * Bench as its own `setup_events_part` line (the shared-stage
  * convention). Rows are byte-identical to the source (`ts` stays the
  * raw µs epoch long); `day` is derived with pure integer arithmetic
  * (`ts` µs → days since epoch), so the layout is independent of the
  * session timezone.
  */
object EventsLayout {

  /** Partitioned-layout schema: source schema + the `day` DATE
    * partition column (declared, not inferred — partition discovery
    * only parses directory names against it). */
  val schema: StructType = Tables.eventsSchema.add("day", DateType)

  private lazy val baseDir = TempDir("graft-events-byday-")

  /** The date-partitioned layout, written once per (session, dir). */
  val stage: Stage = Stage("setup_events_part", diskBacked = true)(path(_, _))

  /** Materialize (memoized) and return the partitioned layout path. */
  def path(spark: SparkSession, dir: String): String =
    stage.memo(spark, dir) {
      val target = baseDir.resolve(LayoutDigest(dir)).toString
      // integer `div`, not `/`: keeps the day boundary exact, and stays
      // exact even for epochs past 2^53. Truncating division requires
      // ts >= 0 (see dayOfUs) — negative µs epochs would land on the
      // wrong calendar day.
      val withDay = Tables.eventsRaw(spark, dir).withColumn("day",
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          expr("CAST((ts div 1000000) div 86400 AS INT)")))
      Sinks.parquet(withDay, target, partitionBy = Seq("day"))
      target
    }

  /** Read the partitioned layout. `ts` is the raw µs epoch long (as
    * [[Tables.eventsRaw]]); filters on `day` prune directories. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(path(spark, dir))

  /** Event-time day boundary (UTC) as a DATE literal for pruning
    * predicates, from a µs epoch: µs → days since epoch, integer-exact.
    *
    * PRECONDITION us >= 0: both this and the layout's `day` derivation
    * truncate toward zero, so they stay mutually consistent for any
    * input, but the 'UTC calendar day' reading is only true for
    * non-negative epochs — a pre-1970 timestamp would label the wrong
    * day on BOTH sides. The events schema contract (TIMESTAMP MICROS,
    * driver-generated 2024+ data) guarantees it; enforced here because
    * a silent contract is how the layout would rot. */
  def dayOfUs(us: Long): java.sql.Date = {
    require(us >= 0, s"negative µs epoch $us: truncating day derivation" +
      " only matches the UTC calendar for ts >= 0")
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
      us / 1000000L / 86400L))
  }
}
