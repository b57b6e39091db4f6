package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Fixpoint, LoopFrames}

/** Synchronous label propagation (Raghavan et al. 2007) — the
  * near-linear community detector: every node starts as its own label
  * and each round adopts the most frequent label among its neighbors,
  * ties to the SMALLEST label (the deterministic variant — the
  * classic random tie-break cannot be oracle-replayed).
  *
  * Distributed shape per round (the canonical Pregel cost, as
  * [[PageRank]]): one edge-keyed join against the label frame, one
  * (node, label) count aggregate, one node-keyed argmax aggregate —
  * state is ONE label per node, never a neighbor list. Fixed K rounds
  * keeps the run replayable as K chained oracle CTEs (the g16 fixed-K
  * convention); each round's CTE references the previous exactly once
  * (the m13 lesson: multi-referenced CTEs inline exponentially in
  * engines without CTE materialization).
  *
  * PRECONDITION (as [[PageRank.run]]): `edges` symmetric — every
  * undirected edge present in both directions — so the node set is
  * derivable from sources alone and no neighbor is invisible.
  */
object LabelProp {

  /** K rounds over symmetric `(src, dst)` edges; returns
    * `(node, label)`. The label frame is cut every other round
    * ([[Fixpoint]]). */
  def run(edges: DataFrame, k: Int): DataFrame = {
    // loop constant keyed on the per-round join key (round-20): every
    // round equi-joins the edge table on src — shuffle+sort it once
    val e = LoopFrames.keyed(edges, "src")
    val labels0 = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    Fixpoint.run(labels0, k, cutEvery = 2) { (labels, _) =>
      // merge hint at the JOIN site (not baked into the keyed frame) —
      // see LoopFrames.keyed's scaladoc
      val cnt = e.hint("merge")
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (c desc, label asc) as a HASH aggregate (max of a
      // lexicographic struct — the LouvainDist idiom, round-20):
      // equivalent to the oracle's row_number ordering — (c, label)
      // pairs are distinct per node, so the max is unique — without
      // the per-round node-partitioned sort the window needed
      cnt.groupBy(col("node"))
        .agg(max_by(col("label"), struct(col("c"), negate(col("label"))))
          .as("label"))
    }.state
  }

  /** Chained-CTE replay of [[run]] for a DuckDB oracle: expects an
    * `edges(src, dst)` CTE in scope, defines `l_0 … l_$k`. Every CTE
    * is reference-linear. */
  def oracleSqlSuffix(k: Int): String = {
    // AS MATERIALIZED: c_i references `edges` every round — inlined,
    // the edge build re-runs k times (round-19, the Components lesson)
    val init =
      "l_0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)"
    val rounds = (1 to k).map { i =>
      s"""c_$i AS MATERIALIZED (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM edges e JOIN l_${i - 1} l ON l.node = e.src
         |  GROUP BY 1, 2),
         |l_$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY c DESC, label) AS rn
         |    FROM c_$i) WHERE rn = 1)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }
}
