package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Dev utility: measure the Salting primitives against their naive
  * shapes on a deliberately skewed fixture (one hot key carrying most
  * rows — the layout `local[n]` reproduces faithfully because one
  * reducer thread owns the hot partition either way). Feeds the
  * SCALING.md skew table; j8_salted_skew is the declared, oracle-checked
  * query using the same primitives on real data. */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val hotShare = 0.8
    val spark = graft.GraftSession.local(8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    spark.conf.set("spark.sql.adaptive.enabled", "false")        // no AQE rescue
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val hot = (rows * hotShare).toLong
    val df = Fixpoint.cut(spark.range(rows).select($"id",
        when($"id" < hot, lit(0L)).otherwise(pmod($"id", lit(1000L)) + 1).as("k"),
        (rand(42) * 100).as("v"))) // materialize input so timings exclude generation
    val dim = Fixpoint.cut(spark.range(1001).select($"id".as("k"), (rand(7) * 50).as("thr")))

    // report the second (warm) run: arms execute in sequence, so a
    // single-run report would flatter whichever arm runs last (page
    // cache, JIT); the skew effect itself is stable across runs
    def time(name: String)(f: => Unit): Unit = {
      f
      val t0 = System.nanoTime()
      f
      println(f"$name%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    time("agg_naive") {
      df.groupBy($"k").agg(sum($"v"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    time("agg_salted") {
      graft.joins.Salting.saltedSumCount(df, Seq("k"), "v", "id", 32)
        .write.format("noop").mode("overwrite").save()
    }
    time("join_naive_shuffle") {
      df.join(dim, Seq("k")).filter($"v" > $"thr")
        .groupBy($"k").count()
        .write.format("noop").mode("overwrite").save()
    }
    time("join_salted") {
      graft.joins.Salting.saltedJoin(df, dim, "k", "id", 32)
        .filter($"v" > $"thr").groupBy($"k").count()
        .write.format("noop").mode("overwrite").save()
    }

    // Third arm: AQE's runtime skew split (thresholds lowered so the
    // optimizer sees this fixture's hot partition the way it would see
    // a multi-GB one at cluster scale). Two sub-shapes, because AQE's
    // coverage boundary is the point of the measurement:
    //  - plain join (global agg above it): OptimizeSkewedJoin fires —
    //    the hot partition is split from runtime stats, no code change.
    //    The engine's FIRST resort for skewed joins.
    //  - groupBy on the JOIN KEY above the join: AQE refuses the split
    //    (it would break the co-partitioning the agg requires), so the
    //    hot partition serializes — the shape where manual salting (or
    //    forceOptimizeSkewedJoin's extra shuffle) is the only fix.
    // collect()-based actions so each Dataset's own AdaptiveSparkPlan
    // is the one executed and its final plan is inspectable.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    val aqePlain = df.join(dim, Seq("k")).filter($"v" > $"thr")
      .agg(count(lit(1)))
    time("join_aqe_plain") { aqePlain.collect(): Unit }
    println("  skew split applied: " +
      aqePlain.queryExecution.executedPlan.toString.contains("skew=true"))
    val aqeGrouped = df.join(dim, Seq("k")).filter($"v" > $"thr")
      .groupBy($"k").count()
    time("join_aqe_groupby_on_key") { aqeGrouped.collect(): Unit }
    println("  skew split applied: " +
      aqeGrouped.queryExecution.executedPlan.toString.contains("skew=true"))
    spark.stop()
  }
}
