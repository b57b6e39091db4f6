package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint
import graft.text.TextOps

/** Landmark (multi-source) BFS distances — the scalable form of
  * closeness/harmonic centrality: exact all-pairs distances are
  * inherently quadratic, so production graph stacks (and the
  * landmark-centrality literature) fix a bounded seed set and measure
  * every node against it. State is ≤ landmarks × nodes (the landmark
  * count is the knob), never n².
  *
  * Round recurrence is MIN-PLUS propagation over the edge set
  * augmented with zero-weight self-loops:
  *   d_i(l, v) = min over (u,v,w) ∈ edges∪self of d_{i-1}(l, u) + w
  * — the self-loop keeps already-found distances alive, so each round
  * is ONE join + ONE min aggregate and, crucially, references the
  * previous round EXACTLY ONCE (the m13 reference-linear-CTE lesson:
  * the naive "old UNION ALL propagated" form reads the previous round
  * twice and inlines exponentially in engines without CTE
  * materialization).
  *
  * Landmarks are the first `nLandmarks` nodes in md5-hash order (the
  * portable-sample idiom), K fixed rounds bound the horizon (the g16
  * fixed-K convention — distances beyond K hops read as unreached).
  */
object Landmarks {

  /** The shared K-round min-plus BFS frame: `(l, node, dist)` for
    * every (landmark, reached node) pair within K hops. */
  private def distances(edges: DataFrame, nLandmarks: Int, k: Int): DataFrame = {
    val nodes = Fixpoint.cut(edges.select(col("src").as("node")).distinct())
    val h = TextOps.hash60(col("node").cast("string"))
    val landmarks = nodes.orderBy(h, col("node")).limit(nLandmarks)
      .select(col("node").as("l"))
    val edges2 = Fixpoint.cut(edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(nodes.select(col("node").as("src"),
        col("node").as("dst"), lit(0L).as("w"))))
    val d0 = landmarks.select(col("l"), col("l").as("node"),
      lit(0L).as("dist"))
    Fixpoint.run(d0, k, cutEvery = 2) { (d, _) =>
      d.join(edges2, d("node") === edges2("src"))
        .groupBy(col("l"), col("dst").as("node2"))
        .agg(min(col("dist") + col("w")).as("dist"))
        .withColumnRenamed("node2", "node")
    }.state
  }

  /** `(node, n_reach, harmonic)` for every node: over landmarks at
    * finite distance, the count reaching it and Σ 1/d (self-landmark
    * d=0 excluded from the harmonic sum). Edges must be symmetric. */
  def harmonic(edges: DataFrame, nLandmarks: Int, k: Int): DataFrame =
    distances(edges, nLandmarks, k)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reach"),
        graft.queries.Rx.r6(sum(lit(1.0) / col("dist"))).as("harmonic"))
      .orderBy(col("node"))

  /** `(node, n_reach, ecc_lb)` per node: landmark ECCENTRICITY lower
    * bound — max distance to any landmark within the K-hop horizon,
    * the standard landmark estimate whose max over nodes lower-bounds
    * the diameter (any true eccentricity ≥ the max over a distance
    * SUBSET). Same bounded landmarks × nodes state as [[harmonic]];
    * n_reach keeps harmonic's finite-nonzero-distance convention. */
  def eccentricity(edges: DataFrame, nLandmarks: Int, k: Int): DataFrame =
    distances(edges, nLandmarks, k)
      .groupBy(col("node"))
      .agg(count(when(col("dist") > 0, 1)).as("n_reach"),
        max(col("dist")).as("ecc_lb"))
      .orderBy(col("node"))

  /** Chained-CTE replay of [[harmonic]]: expects `edges(src, dst)` in
    * scope; defines `nodes`, `lm`, `e2`, `d_0 … d_$k`, and `hm` (the
    * final per-node frame). */
  def oracleSqlSuffix(nLandmarks: Int, k: Int): String = {
    // AS MATERIALIZED: every BFS round references e2 — inlined, the
    // edge build re-runs k times (round-19, the Components lesson)
    val init =
      s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
         |lm AS MATERIALIZED (SELECT node AS l FROM (
         |    SELECT node,
         |      CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))
         |        AS BIGINT) AS h
         |    FROM nodes ORDER BY h, node LIMIT $nLandmarks)),
         |e2 AS MATERIALIZED (SELECT src, dst, 1 AS w FROM edges
         |       UNION ALL SELECT node, node, 0 FROM nodes),
         |d_0 AS MATERIALIZED (SELECT l, l AS node, 0 AS dist FROM lm)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""d_$i AS MATERIALIZED (
         |  SELECT d.l, e.dst AS node, min(d.dist + e.w) AS dist
         |  FROM d_${i - 1} d JOIN e2 e ON e.src = d.node
         |  GROUP BY 1, 2)""".stripMargin
    }
    val tail =
      s"""hm AS (
         |  SELECT node, count(*) AS n_reach,
         |    round(sum(1.0 / dist) + 1e-9, 6) AS harmonic
         |  FROM d_$k WHERE dist > 0 GROUP BY 1)""".stripMargin
    (init +: rounds :+ tail).mkString(",\n")
  }

  /** [[oracleSqlSuffix]]'s BFS prefix with the [[eccentricity]] tail:
    * defines `nodes`, `lm`, `e2`, `d_0 … d_$k`, and `ec`. */
  def eccOracleSqlSuffix(nLandmarks: Int, k: Int): String = {
    val base = oracleSqlSuffix(nLandmarks, k)
    val prefix = base.substring(0, base.lastIndexOf(",\nhm AS ("))
    val tail =
      s"""ec AS (
         |  SELECT node,
         |    CAST(count(*) FILTER (dist > 0) AS BIGINT) AS n_reach,
         |    CAST(max(dist) AS BIGINT) AS ecc_lb
         |  FROM d_$k GROUP BY 1)""".stripMargin
    prefix + ",\n" + tail
  }
}
