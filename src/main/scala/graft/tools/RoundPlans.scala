package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Dev utility (round-21, VERDICT r20 item 6): dump the PER-ROUND
  * physical plan of every iterative graph operator that keys its
  * loop-constant edge frame (`LoopFrames.keyed`) — the evidence the
  * r20 plan dumps could not carry, because those operators' declared
  * queries end on a `localCheckpoint` that truncates the very round
  * the keyed-frame claim lives in.
  *
  * Trick: each operator checkpoints its state on a fixed cadence
  * (every other round, and sometimes the last), so invoking it with a
  * round count whose FINAL round is un-checkpointed makes the returned
  * frame's plan BE one full round over the keyed edge frame: the edge
  * side must show `InMemoryTableScan` with NO Exchange and NO Sort
  * above it inside the round's sort-merge join — only the node-sized
  * state side shuffles. `LabelProp.distributed(e, 1)` (the path
  * `LabelProp.run` takes above the driver-fetch threshold; this graph
  * is below it), `HyperAnf.khopExact(e, 1)` and
  * `HyperAnf.registerRounds(e, 1, p).last` have that property;
  * `Components.run` cuts its last round, so its round is replicated
  * below.
  *
  * The graph is a synthetic symmetric 100-node ring-with-chords — the
  * plan SHAPE is partition-count- and data-independent; what the dump
  * proves is operator plumbing, not data behavior.
  */
object RoundPlans {

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "plans/r21"
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = spark.range(300).select(
      (col("id") % 100).as("a"), ((col("id") * 7 + 1) % 100).as("b"))
      .filter(col("a") =!= col("b"))
    val edges = base.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(base.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    val wedges = edges.withColumn("w", lit(1.0))

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"), s)
      println(s"[roundplan] $name: shuffles=" +
        ExchangeAudit.countShuffles(df.queryExecution.executedPlan))
    }

    dump("round_labelprop", graft.graph.LabelProp.distributed(edges, 1))
    // Components checkpoints its LAST round unconditionally, so its
    // returned plan is always truncated — the loop body is replicated
    // verbatim (Components.run's nbrMin+update over a checkpointed
    // label frame, the round-2+ shape) for the dump:
    locally {
      val e = graft.operators.LoopFrames.keyed(edges, "src")
      val labels0 = Fixpoint.cut(e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
      val nbrMin = e.hint("merge")
        .join(labels0.select(col("node").as("src"), col("label").as("slabel")),
          "src")
        .groupBy(col("dst").as("node")).agg(min(col("slabel")).as("nbr"))
      dump("round_components", labels0.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label")))
    }
    dump("round_khop", graft.graph.HyperAnf.khopExact(edges, 1))
    dump("round_hyperanf_regs",
      graft.graph.HyperAnf.registerRounds(edges, 1, 8).last)
    // PageRank deliberately keeps cut loop constants, not
    // LoopFrames.keyed (round-20 measured revert), and ITS final round
    // is always cut — so for contrast the loop body is replicated here
    // verbatim (PageRank.run's contrib+update over a cut norm/pr):
    // the edge side shows Exchange+Sort INSIDE the round, the
    // documented gate-scale trade.
    locally {
      val outw = wedges.groupBy($"src").agg(sum($"w").as("outw"))
      val norm = Fixpoint.cut(wedges.join(outw, "src")
        .select($"src", $"dst", ($"w" / $"outw").as("wn")))
      val pr0 = Fixpoint.cut(norm.select($"src".as("node")).distinct()
        .select($"node", lit(0.01).as("pr")))
      val contrib = norm.join(pr0.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node")).agg(sum($"pr" * $"wn").as("c"))
      dump("round_pagerank_contrast", contrib)
    }
    spark.stop()
  }
}
