package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.queries._
import graft.regimes.Transitions

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are declared in per-domain `QueryPack`s under `graft.queries`;
  * each pack row maps 1:1 to a SURVEY §2 operator and carries its DuckDB
  * oracle SQL where SQL-expressible.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    RelationalPack,
    TimeSeriesPack,
    IndicatorPack,
    PanelPack,
    TextPack,
    DedupSimPack,
    MlPack,
    StreamMultimodalPack,
    MiscPack,
    PipelinePack,
    EventAnalyticsPack)

  private lazy val all: Seq[Q] = {
    val qs = packs.flatMap(_.queries)
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The full EP2 pipeline (SURVEY §3): events mapped onto the OHLCV
    * panel contract → windowed features → 5-class regime → islands →
    * transition probabilities, via the PeriodAnalysis API. */
  def entry(spark: SparkSession): DataFrame = {
    val panel = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("string").as("symbol"), col("ts"),
        col("value").as("close"),
        get_json_object(col("props"), "$.k").cast("double").as("volume"))
    val r = graft.analytics.PeriodAnalysis.run(panel, "2024-01-01", "2024-03-01")
    r.regimeDistribution.orderBy(desc("n"))
  }

  /** Deterministic presentation order: sort every partition by every
    * output column. Applied to EVERY declared query (below) so no
    * result can reach the driver's hash with scheduling-dependent row
    * order — the round-9 q12_priority failure class, enforced
    * structurally rather than per-query discipline
    * (DeterministicOrderSpec gates it).
    *
    * Deliberately `sortWithinPartitions`, NOT `orderBy`: a terminal
    * global Sort plans a RangePartitioning exchange whose boundary
    * sampling RE-EXECUTES the whole child plan — measured at sf0.1 it
    * doubled heavy lines (w20 2.9→6.1s, m11 3.4→6.7s) and inflated
    * the full bench 115→206s. Exactly the terminal-orderBy trap a
    * 100 TB pipeline avoids. The local variant appends a narrow
    * per-partition sort (no shuffle, no sampling, no recompute) and is
    * still byte-stable under any fixed session config: hash/AQE
    * partition contents are a pure function of the data, and sorting
    * by all columns makes within-partition order content-determined.
    * Semantic orderings (top-k limits) have already been applied
    * inside the query at this point. */
  private def stable(df: DataFrame): DataFrame =
    df.sortWithinPartitions(df.columns.map(c => col(s"`$c`")): _*)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name ->
      ((s: SparkSession, dir: String) => stable(q.run(s, dir)))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** The shared stages, in build order: memoized state several queries
    * read, which Bench builds and times as its own setup lines before
    * the queries that read it (see [[graft.io.Stage]]). The corr graph
    * precedes the graph sketches built over it. */
  val stages: Seq[graft.io.Stage] = Seq(
    DedupSimPack.sharedStage,
    MlPack.featuresStage,
    MlPack.corrStage,
    MlPack.graphStage,
    graft.io.EventsLayout.stage,
    graft.io.BucketedLayout.stage,
    graft.io.ZOrderLayout.stage)

  /** Release every session-scoped memo and tracked persist — the one
    * reset point Bench/Verify call before unpersisting all
    * reference-free RDD blocks. Every pack memoizes through the one
    * store, so the reset cannot miss a memo and later crash on a
    * truncated-lineage block it didn't know to clear. */
  def clearPackCaches(spark: SparkSession): Unit =
    graft.io.PersistRegistry.clear(spark)
}
