package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // NO data-proportional shuffle cap here, deliberately (round-19):
    // unlike Bench (where partitions=cpus at 32 measured ~60s of pure
    // scheduling overhead across the sf0.1 suite), Verify's wall time
    // at sf0.01 is latency-dominated — measured this round: 304s of
    // query time at 8/8, 319s at 32/32, 339s capped to 4, 349s capped
    // to 1. Partition count is noise for the gate; keeping the
    // 18-round-green config is worth more than ±5%.
    // Dev loop only (driver sets no env): SPARK_GRAFT_ONLY=a,b dumps a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Per-query wall timings (round-19, VERDICT item 1): CORRECTNESS_r18
    // came back empty — the leading hypothesis is the driver's
    // Verify+compare path outgrowing a wall budget (builder-measured
    // ~14 min Verify + >10 min DuckDB at sf0.01). Timing every query to
    // stderr and into outDir/timings.json makes the budget measurable
    // and names the lines to trim; stdout stays untouched for the driver.
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Bounded block-manager occupancy (round-20 ADVICE): LoopFrames.keyed
    // pins its loop-constant frames via PersistRegistry, and a single
    // end-of-run clear let ~300 queries' worth accumulate. A periodic
    // FULL reset (memos and tracked persists together, one store)
    // keeps occupancy bounded at a few dozen queries' worth; the
    // handful of shared-stage rebuilds it causes cost ~seconds at
    // sf0.01 against the gate's multi-minute budget.
    var sinceReset = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        sinceReset += 1
        if (sinceReset >= 64) {
          SparkEntry.clearPackCaches(spark)
          sinceReset = 0
        }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        timings(name) = dt
        System.err.println(f"[verify] $name%-28s ${dt}%6.2fs")
      }
    }
    // Locale.ROOT, not the default f"": a comma-decimal locale would
    // emit invalid JSON into a machine-read artifact (round-19 ADVICE)
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.map { case (k, v) =>
        "\"" + k + "\":" + "%.2f".formatLocal(java.util.Locale.ROOT, v)
      }.mkString("{", ",", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release memoized/persisted frames before shutdown — keeps the
    // store from pinning the session if this main is embedded
    SparkEntry.clearPackCaches(spark)
    spark.stop()
  }
}
