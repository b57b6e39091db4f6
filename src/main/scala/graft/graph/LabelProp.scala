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
  * Size rule: an edge list of at most [[DriverEdges.CollectThreshold]]
  * rows (the correlation graph of m15 has a few thousand) is fetched
  * once and the K rounds run on the driver ([[DriverEdges.fixedRounds]]);
  * a larger one runs the distributed rounds. Both paths give the same
  * rows and schema: the rounds are integer counting, an argmax with
  * ties to the smallest label, over the same edge multiset.
  *
  * PRECONDITION (as [[PageRank.run]]): `edges` symmetric — every
  * undirected edge present in both directions — so the node set is
  * derivable from sources alone and no neighbor is invisible.
  */
object LabelProp {

  /** K rounds over symmetric `(src, dst)` edges; returns
    * `(node, label)`. */
  def run(edges: DataFrame, k: Int): DataFrame =
    DriverEdges.fixedRounds(edges, schema(edges, k))(distributed(_, k))(local(_, k))

  /** The distributed rounds; the label frame is cut every other round
    * ([[Fixpoint]]). */
  private[graft] def distributed(edges: DataFrame, k: Int): DataFrame = {
    // loop constant keyed on the per-round join key (round-20): every
    // round equi-joins the edge table on src — shuffle+sort it once
    val e = LoopFrames.keyed(edges, "src")
    Fixpoint.run(init(e), k, cutEvery = 2)((labels, _) => round(e, labels)).state
  }

  /** The same rounds on the driver: every src starts as its own label;
    * a round keeps the nodes that are the dst of an edge from a
    * labelled src (the distributed inner join), counting each edge. */
  private def local(edges: Array[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    var labels = scala.collection.mutable.LongMap.from(edges.map(e => (e._1, e._1)))
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      edges.foreach { case (s, d) =>
        labels.get(s).foreach(l => counts((d, l)) = counts.getOrElse((d, l), 0L) + 1)
      }
      val best = scala.collection.mutable.LongMap.empty[(Long, Long)] // node → (c, label)
      counts.foreach { case ((d, l), c) =>
        if (best.get(d).forall { case (bc, bl) => c > bc || (c == bc && l < bl) })
          best(d) = (c, l)
      }
      labels = best.mapValuesNow(_._2)
    }
    labels.toSeq.sortBy(_._1)
  }

  private def init(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).distinct().withColumn("label", col("node"))

  /** The distributed output's schema, by analysis alone: every round
    * after the first has the first's shape. */
  private def schema(e: DataFrame, k: Int) =
    (if (k <= 0) init(e) else round(e, init(e))).schema

  private def round(e: DataFrame, labels: DataFrame): DataFrame = {
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
