package graft.graph

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Fully-distributed Louvain community detection (Blondel et al. 2008),
  * the multi-level modularity-greedy analogue of the driver-side sweep
  * in `cluster/Clustering.louvain` (reference anchor:
  * market_analysis.py:309's `community_louvain.best_partition`).
  *
  * The classic algorithm is inherently sequential (nodes move one at a
  * time); the distributed form used here is the standard synchronous
  * variant with PARITY GATING: each round only nodes with
  * `node % 2 == round % 2` may move, which breaks the two-node swap
  * oscillation that plagues naive synchronous Louvain while keeping
  * every step a deterministic relational operation — no randomness, no
  * driver state, so the whole run replays as chained SQL CTEs and the
  * query is HASH-CHECKED cross-engine (unlike m6's driver sweep, which
  * is pinned). Gains are rounded to 6 dp (the repo's r6 contract)
  * before the argmax so last-ulp summation-order differences between
  * engines cannot flip a move.
  *
  * Distributed shape per move round (the Pregel cost envelope, as
  * [[LabelProp]]/[[PageRank]]): one edge→community join + one
  * (node, target-community) weight aggregate, one community-degree
  * aggregate, one per-node argmax window. State is one (community,
  * degree) pair per node — never a neighbor list — so a round is
  * O(|E|) shuffle at any scale. Levels coarsen the graph by community
  * (the Louvain phase-2 contraction), shrinking |E| geometrically;
  * self-loops produced by contraction are dropped from the edge list
  * (they never affect move gains) and their weight is conserved in the
  * coarse node degree, which is simply the sum of member degrees.
  *
  * PRECONDITION: `edges(src, dst, w)` symmetric (both directions
  * present), no self-loops, w > 0.
  */
object LouvainDist {

  /** Gain rounding: 6 dp with the repo's +1e-9 half-up guard. */
  private def r6(c: org.apache.spark.sql.Column) = round(c + lit(1e-9), 6)

  /** One synchronous move round at one level.
    *
    * `comm` columns: node, c (current community), d (static level
    * degree). Insert-gain of node i into community t (after removing i
    * from its own community):
    *   g(i,t) = links(i→t) − (cdeg(t) − [t = c_i]·d_i) · d_i / m2
    * — exactly the driver sweep's score (Clustering.louvain), evaluated
    * for every neighbor community plus the stay candidate (links 0 if
    * none). Argmax with ties → stay first, then smallest community id;
    * only parity-matching nodes apply their winner.
    */
  def moveRound(edges: DataFrame, comm: DataFrame, m2: Double,
                parity: Int): DataFrame = {
    val cd = comm.groupBy(col("c").as("tc")).agg(sum("d").as("cd"))
    // candidate link weights = per-edge contributions ∪ a zero stay row
    // per node (merging with real own-community links in ONE aggregate
    // — no separate links pass)
    val cand = edges
      .join(comm.select(col("node").as("dst"), col("c").as("tc")), "dst")
      .select(col("src").as("node"), col("tc"), col("w").as("lw"))
      .unionByName(comm.select(col("node"), col("c").as("tc"),
        lit(0.0).as("lw")))
      .groupBy("node", "tc").agg(sum("lw").as("lw"))
    val g = cand
      .join(comm, "node")
      .join(cd, "tc")
      .withColumn("g", r6(col("lw") -
        (col("cd") - when(col("tc") === col("c"), col("d"))
          .otherwise(lit(0.0))) * col("d") / lit(m2)))
    // argmax by (g desc, stay-first, smallest tc) as a HASH aggregate
    // (max of a lexicographic struct) — equivalent to the oracle's
    // row_number ordering, without the per-node sort
    g.groupBy("node").agg(max_by(
        struct(col("tc"), col("c"), col("d")),
        struct(col("g"), (col("tc") === col("c")).as("own"),
          (-col("tc")).as("nt"))).as("p"))
      .select(col("node"),
        when(pmod(col("node"), lit(2)) === lit(parity), col("p.tc"))
          .otherwise(col("p.c")).as("c"),
        col("p.d").as("d"))
  }

  /** Multi-level run. Returns `(node, c)` over the ORIGINAL node set,
    * with raw (non-dense) community ids = representative node ids.
    * The community frame is cut at the end of every parity pair
    * ([[Fixpoint]], every other round).
    *
    * HASH-PRESERVING fixpoint early-exit (round-13): the schedule runs
    * rounds in parity PAIRS (even nodes may move, then odd nodes). A
    * node can move at most once per pair — the two parities are
    * disjoint — so "assignment unchanged across a whole pair" means
    * ZERO moves in both rounds, i.e. the state entering the next even
    * round is identical to the state that entered this pair, and every
    * further round of the deterministic schedule is a provable no-op.
    * Exiting there cannot change the assignment (or the hash): the
    * oracle's extra CTE rounds are equally no-op. `earlyExit = false`
    * forces the full fixed schedule (LouvainDistSpec proves both paths
    * produce the identical assignment). The check itself is one tiny
    * join over the ~node-count frames, both already cut — far cheaper
    * than the edge-join round it saves. It runs as its own action: the
    * pair-start state it compares against is not in the cut frame, so
    * `Dataset.observe` cannot fold it into the cut. */
  def run(edges: DataFrame, roundsPerLevel: Int, levels: Int,
          earlyExit: Boolean = true): DataFrame = {
    // one tiny eager aggregate instead of a per-round broadcast join:
    // 2m is a loop constant, and re-broadcasting it each round costs a
    // broadcast exchange + a re-run of this agg per round
    val m2 = edges.agg(coalesce(sum("w"), lit(1.0)).as("m2"))
      .head().getDouble(0)
    // Loop-constant note (round-20): LoopFrames.keyed on levelEdges was
    // measured a regression at gate scale (bench m6b 5.65→6.89 — the
    // PageRank finding, see PageRank.run), so the level-1 edge frame
    // rides the caller's materialization and contraction keeps the cut.
    var levelEdges = edges
    // Level degree: at level 1 from the edge list; after contraction the
    // coarse node's degree is the SUM OF MEMBER DEGREES (not the coarse
    // edge list's row sums — that would lose the intra-community weight
    // the dropped self-loops carried).
    var deg = edges.groupBy(col("src").as("node")).agg(sum("w").as("d"))
    var assign: DataFrame = null // original node -> current community
    // whole pair unchanged ⇒ fixpoint (see scaladoc); the previous cut
    // is the state that entered the pair
    val stop = Fixpoint.Checked { (pairStart, comm, round) =>
      round < roundsPerLevel && comm.join(
          pairStart.select(col("node"), col("c").as("pc")), "node")
        .filter(col("c") =!= col("pc")).isEmpty
    }
    for (level <- 1 to levels) {
      // the initial comm is read up to twice by moveRound and once by
      // the fixpoint check — materialize it like the pair ends
      val comm0 = Fixpoint.cut(
        deg.select(col("node"), col("node").as("c"), col("d")))
      val comm = Fixpoint.run(comm0, roundsPerLevel, cutEvery = 2,
          stop = Option.when(earlyExit)(stop)) { (comm, round) =>
        moveRound(levelEdges, comm, m2, (round - 1) % 2)
      }.state
      assign =
        if (level == 1) comm.select("node", "c")
        else assign.join(
          comm.select(col("node").as("c"), col("c").as("c2")), "c")
          .select(col("node"), col("c2").as("c"))
      assign = Fixpoint.cut(assign)
      if (level < levels) {
        val a = comm.select(col("node").as("src"), col("c").as("ca"))
        val b = comm.select(col("node").as("dst"), col("c").as("cb"))
        levelEdges = Fixpoint.cut(levelEdges.join(a, "src").join(b, "dst")
          .filter(col("ca") =!= col("cb"))
          .groupBy(col("ca").as("src"), col("cb").as("dst"))
          .agg(sum("w").as("w")))
        deg = comm.groupBy(col("c").as("node")).agg(sum("d").as("d"))
      }
    }
    assign
  }

  /** Modularity of an assignment over the original symmetric edge list:
    * Q = Σ_c (in_c/m2 − (deg_c/m2)²) with in_c the DIRECTED
    * intra-community weight (each undirected edge counted twice), the
    * same convention as the driver sweep's Q. Returns a 1-row frame
    * (n_communities, modularity raw — caller rounds). */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val mm = edges.agg(coalesce(sum("w"), lit(1.0)).as("m2"))
    val deg = edges.groupBy(col("src").as("node")).agg(sum("w").as("d"))
    val cdg = assign.join(deg, "node").groupBy("c").agg(sum("d").as("cd"))
    val cin = edges
      .join(assign.select(col("node").as("src"), col("c").as("ca")), "src")
      .join(assign.select(col("node").as("dst"), col("c").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(sum("w").as("iw"))
    cdg.join(cin, Seq("c"), "left").crossJoin(broadcast(mm))
      .agg(count(lit(1)).as("n_communities"),
        sum(coalesce(col("iw"), lit(0.0)) / col("m2")
          - (col("cd") / col("m2")) * (col("cd") / col("m2")))
          .as("modularity"))
  }

  /** Chained-CTE replay of [[run]] for a DuckDB oracle: expects an
    * `edges(src, dst, w)` CTE in scope (symmetric, no self-loops),
    * defines `mm`, `deg_1`, per-round `comm_<level>_<round>` frames and
    * a final `asg(node, c)`. Community frames are referenced four
    * times per round, so they are declared MATERIALIZED (DuckDB
    * otherwise inlines the chain exponentially — the m13 lesson). */
  def oracleSqlSuffix(roundsPerLevel: Int, levels: Int): String = {
    val sb = new StringBuilder
    sb ++= "mm AS MATERIALIZED (SELECT sum(w) AS m2 FROM edges),\n"
    for (level <- 1 to levels) {
      val e = if (level == 1) "edges" else s"ed_$level"
      if (level > 1) {
        val prev = s"comm_${level - 1}_$roundsPerLevel"
        sb ++=
          s"""ed_$level AS MATERIALIZED (
             |  SELECT a.c AS src, b.c AS dst, sum(e.w) AS w
             |  FROM ed_prev_$level e
             |  JOIN $prev a ON a.node = e.src
             |  JOIN $prev b ON b.node = e.dst
             |  WHERE a.c <> b.c GROUP BY 1, 2),
             |""".stripMargin.replace(s"ed_prev_$level",
               if (level == 2) "edges" else s"ed_${level - 1}")
        sb ++=
          s"""deg_$level AS (SELECT c AS node, sum(d) AS d
             |  FROM $prev GROUP BY 1),
             |""".stripMargin
      } else {
        sb ++= s"deg_1 AS MATERIALIZED (SELECT src AS node, sum(w) AS d " +
          s"FROM edges GROUP BY 1),\n"
      }
      sb ++= s"comm_${level}_0 AS MATERIALIZED (SELECT node, node AS c, d " +
        s"FROM deg_$level),\n"
      for (t <- 1 to roundsPerLevel) {
        val p = (t - 1) % 2
        val prev = s"comm_${level}_${t - 1}"
        sb ++=
          s"""cd_${level}_$t AS (SELECT c AS tc, sum(d) AS cd
             |  FROM $prev GROUP BY 1),
             |lk_${level}_$t AS (
             |  SELECT e.src AS node, t.c AS tc, sum(e.w) AS lw
             |  FROM $e e JOIN $prev t ON t.node = e.dst GROUP BY 1, 2),
             |cn_${level}_$t AS (
             |  SELECT node, tc, sum(lw) AS lw FROM (
             |    SELECT node, tc, lw FROM lk_${level}_$t
             |    UNION ALL SELECT node, c, 0.0 FROM $prev) GROUP BY 1, 2),
             |comm_${level}_$t AS MATERIALIZED (
             |  SELECT node, CASE WHEN node % 2 = $p THEN tc ELSE c END AS c, d
             |  FROM (
             |    SELECT a.node, x.tc, a.c, a.d,
             |      row_number() OVER (PARTITION BY a.node ORDER BY
             |        round(x.lw - (cd.cd - CASE WHEN x.tc = a.c
             |                      THEN a.d ELSE 0.0 END)
             |              * a.d / mm.m2 + 1e-9, 6) DESC,
             |        (x.tc = a.c) DESC, x.tc) AS rn
             |    FROM cn_${level}_$t x
             |    JOIN $prev a ON a.node = x.node
             |    JOIN cd_${level}_$t cd ON cd.tc = x.tc, mm)
             |  WHERE rn = 1),
             |""".stripMargin
      }
    }
    val asg =
      if (levels == 1) s"asg AS MATERIALIZED (SELECT node, c " +
        s"FROM comm_1_$roundsPerLevel)"
      else {
        val compose = (2 to levels).foldLeft(
          s"SELECT node, c FROM comm_1_$roundsPerLevel") { (acc, level) =>
          s"SELECT p.node, n.c FROM ($acc) p " +
            s"JOIN comm_${level}_$roundsPerLevel n ON n.node = p.c"
        }
        s"asg AS MATERIALIZED ($compose)"
      }
    sb ++= asg
    sb.toString
  }
}
