package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Weighted PageRank with a FIXED iteration count — the iterative
  * graph-centrality op (Brin & Page 1998) in its oracle-expressible
  * form: K rounds, each ONE join of the normalized edge list against
  * the current rank vector plus one destination-keyed aggregate, so a
  * second engine can replay it as K chained CTE blocks
  * ([[oracleSqlSuffix]]) and the whole pipeline stays hash-checkable.
  *
  * Scale shape: the edge list is normalized once (out-weight join,
  * checkpointed); each round shuffles edge-count rows for the
  * contribution aggregate and node-count rows for the rank update —
  * PageRank's canonical Pregel cost — and the rank frame runs through
  * [[graft.operators.Fixpoint]], cut every other round and on the last.
  * The node count enters as a
  * broadcast 1-row aggregate (the J4 scalar idiom — no driver
  * round-trip). No dangling-mass term: callers feed symmetric
  * (both-direction) edge lists, where every node has out-edges.
  */
object PageRank {

  /** edges: (src, dst, w), w > 0, both directions present for
    * undirected graphs — the node set is derived from edge SOURCES, so
    * a sink-only node (dst never appearing as src) would be silently
    * dropped and its inbound rank mass leaked. `validateSymmetry`
    * turns that contract into a fast failure (one anti-join probe —
    * a debug/spec switch, off on the hot path; PageRankSpec exercises
    * both directions). @return (node, pr) after `k` rounds. */
  def run(edges: DataFrame, k: Int, damping: Double,
          validateSymmetry: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    if (validateSymmetry) {
      val sinkFree = edges.select($"dst".as("node"))
        .except(edges.select($"src".as("node"))).isEmpty
      require(sinkFree,
        "PageRank.run requires dst ⊆ src (symmetric or at least " +
          "sink-free edges): a dst that never appears as src would be " +
          "dropped from the node set and its rank mass leaked")
    }
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    // Loop-constant materialization note (round-20): replacing these
    // localCheckpoints with LoopFrames.keyed (hash-partitioned persisted
    // constants, exchange-free rounds) was measured per-round on the
    // real corr graph and REGRESSED at gate scale (warm rounds 5.0s →
    // 7.1s over 10 rounds; bench m11 2.54→3.19, m20 4.91→6.13): the
    // avoided exchange moves ~3k rows while the columnar-cache read +
    // per-round InMemoryTableScan setup costs more. Kept on the
    // localCheckpoint form here; LabelProp/HyperAnf/Components measured
    // neutral-to-better and keep the keyed form. See OPTIMIZATION_r20.md.
    val norm = Fixpoint.cut(edges.join(outw, "src")
      .select($"src", $"dst", ($"w" / $"outw").as("wn")))
    // symmetric edges: src set IS the node set
    val nodes = Fixpoint.cut(edges.select($"src".as("node")).distinct())
    val nn = nodes.agg(count(lit(1)).as("n"))
    // restart term (1−d)/n materialized ONCE per node (round-21, the
    // runPersonalized fix applied here too): the loop previously
    // cross-joined `broadcast(nn)` in every round, rebuilding the
    // 1-row broadcast (driver collect + ship) once per checkpoint job.
    // (1−d)/n is the same double computed once or per round, and the
    // update `r0 + d·coalesce(c, 0)` adds in the identical order, so
    // results are bit-identical.
    val restart = Fixpoint.cut(nodes.crossJoin(broadcast(nn))
      .select($"node", (lit(1.0) / $"n").as("pr0"),
        (lit(1.0 - damping) / $"n").as("r0")))
    val pr0 = restart.select($"node", $"pr0".as("pr"))
    Fixpoint.run(pr0, k, cutEvery = 2, cutLast = true) { (pr, _) =>
      val contrib = norm.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node"))
        .agg(sum($"pr" * $"wn").as("c"))
      restart.join(contrib, Seq("node"), "left")
        .select($"node",
          ($"r0" + lit(damping) * coalesce($"c", lit(0.0))).as("pr"))
    }.state
  }

  /** DuckDB CTE chain replaying [[run]] on an `edges(src, dst, w)` CTE
    * the caller prepends: emits `ow, en, nodes, nn, pr_0 … pr_K`; the
    * caller selects from `pr_$k`. */
  def oracleSqlSuffix(k: Int, damping: Double): String = {
    // AS MATERIALIZED: en/nodes/nn are referenced once per round —
    // inlined they re-run the edge build k times (the Components
    // lesson of round-19, linear flavor). Node/edge-sized frames.
    val rounds = (0 until k).map { i =>
      s"""pr_${i + 1} AS MATERIALIZED (
         |  SELECT n.node,
         |    (1 - $damping) / (SELECT n FROM nn)
         |      + $damping * COALESCE(c.c, 0.0) AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.pr * e.wn) AS c
         |    FROM en e JOIN pr_$i p ON p.node = e.src GROUP BY 1) c
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""ow AS MATERIALIZED (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
       |en AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.outw AS wn
       |  FROM edges e JOIN ow USING (src)),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |pr_0 AS MATERIALIZED (
       |  SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
       |$rounds""".stripMargin
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6; the random-walk-with-
    * restart centrality): the teleport mass returns to a SEED SET
    * instead of the uniform vector, so ranks measure proximity to the
    * seeds — the recommendation / local-community primitive. Same
    * per-round cost as [[run]]; only the restart term changes:
    *   pr(v) = (1−d)·[v ∈ S]/|S| + d·Σ contrib.
    * Non-seed nodes reachable only through the graph get rank purely
    * from propagation, so mass decays with distance from S. Same
    * symmetric-edges contract as [[run]]. */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, k: Int,
                      damping: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    // a cut, not LoopFrames.keyed — see the measured note in
    // [[run]]
    val norm = Fixpoint.cut(edges.join(outw, "src")
      .select($"src", $"dst", ($"w" / $"outw").as("wn")))
    val nodes = Fixpoint.cut(edges.select($"src".as("node")).distinct())
    val seedF = seeds.select($"node").distinct()
      .withColumn("is_seed", lit(1.0))
    val ns = seedF.agg(count(lit(1)).as("ns"))
    // restart vector materialized ONCE (round-21, VERDICT item 2): as a
    // `def` it was re-planned inside every round's rank update, so each
    // checkpoint job rebuilt BOTH broadcasts (seed frame + seed count —
    // a driver collect + ship each) and re-ran the seed-distinct DAG;
    // k rounds × 2 broadcast rebuilds was the m20_ppr 32-core
    // anti-scaling tax (16.4 s at 32 cores vs 3.0 s at 8 in the r20
    // driver record — the rebuild cost is scheduling, which grows with
    // cores, not data). The node-sized frame is checkpointed once and
    // every round reads it.
    val restart = Fixpoint.cut(nodes.join(broadcast(seedF), Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .select($"node", (coalesce($"is_seed", lit(0.0)) / $"ns").as("r0")))
    val pr0 = restart.select($"node", $"r0".as("pr"))
    Fixpoint.run(pr0, k, cutEvery = 2, cutLast = true) { (pr, _) =>
      val contrib = norm.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node"))
        .agg(sum($"pr" * $"wn").as("c"))
      restart.join(contrib, Seq("node"), "left")
        .select($"node",
          (lit(1.0 - damping) * $"r0"
            + lit(damping) * coalesce($"c", lit(0.0))).as("pr"))
    }.state
  }

  /** DuckDB CTE chain replaying [[runPersonalized]]; the caller
    * prepends `edges(src, dst, w)` AND `seeds(node)` CTEs and selects
    * from `ppr_$k`. */
  def personalizedOracleSqlSuffix(k: Int, damping: Double): String = {
    val rounds = (0 until k).map { i =>
      s"""ppr_${i + 1} AS (
         |  SELECT n.node,
         |    (1 - $damping) * n.r0
         |      + $damping * COALESCE(c.c, 0.0) AS pr
         |  FROM rst n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.pr * e.wn) AS c
         |    FROM en e JOIN ppr_$i p ON p.node = e.src GROUP BY 1) c
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""ow AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
       |en AS (SELECT e.src, e.dst, e.w / ow.outw AS wn
       |  FROM edges e JOIN ow USING (src)),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |sn AS (SELECT count(*) AS ns FROM (SELECT DISTINCT node FROM seeds)),
       |rst AS MATERIALIZED (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NOT NULL
       |      THEN 1.0 / (SELECT ns FROM sn) ELSE 0.0 END AS r0
       |  FROM nodes n
       |  LEFT JOIN (SELECT DISTINCT node FROM seeds) s USING (node)),
       |ppr_0 AS (SELECT node, r0 AS pr FROM rst),
       |$rounds""".stripMargin
  }
}
