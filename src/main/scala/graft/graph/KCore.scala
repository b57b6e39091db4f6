package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * distributed formulation of Montresor et al. 2013 simplified to
  * synchronous rounds): repeatedly delete every node of degree < k
  * until the remainder — the k-core — is stable. The k-core is the
  * standard "dense enough to matter" graph filter: spam/bot rings,
  * community cores, and feature pruning all start from it.
  *
  * Contract: `edges` is SYMMETRIZED (both directions present, no
  * self-loops), like [[Components]] — then out-degree per `src` IS the
  * node degree. Each round is one degree aggregate (map-side combined)
  * + a semi-join of the edge list against surviving nodes on each
  * endpoint — two hash joins co-partitioned on the edge keys. Cost per
  * round is proportional to the SURVIVING edge set, which shrinks
  * monotonically; every round is cut ([[Fixpoint]]).
  *
  * Fixed `rounds` (not a loop-until-fixpoint) keeps the operator
  * replayable as chained oracle CTEs — the g16/m11 convention — with
  * a HASH-PRESERVING fixpoint early-exit (the m6b/LouvainDist
  * pattern, ported round-14): a round that removes ZERO edges leaves
  * the edge set unchanged, so every later round of the deterministic
  * schedule recomputes the identical degrees and removes nothing —
  * provable no-ops, exactly like the oracle's extra CTE rounds, so
  * skipping them cannot change the output or the hash (KCoreSpec
  * proves exit ≡ full schedule). The check is the edge count, observed
  * on the round's cut at no extra job. Peeling converges in at most
  * the degeneracy-ordering depth, which is ≪ node count on real
  * graphs (each round removes EVERY sub-k node simultaneously) — and
  * with the exit free, a generous round budget costs nothing when
  * the cascade dries early.
  */
object KCore {

  /** Surviving (node, deg) rows of the k-core after up to `rounds`
    * peels — the loop stops early at fixpoint (zero removals; see the
    * object scaladoc for the hash-preservation argument). `deg` is
    * the node's degree WITHIN the core (≥ k at fixpoint);
    * `earlyExit = false` forces the full schedule (KCoreSpec's
    * equivalence baseline). */
  def run(edges: DataFrame, k: Int, rounds: Int,
          earlyExit: Boolean = true): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    // unchanged edge count ⇔ zero removals (the set only shrinks)
    val stop = Fixpoint.Observed(count(lit(1)),
      (prev, m) => prev.contains(m) || m == 0L)
    Fixpoint.run(edges.select(col("src"), col("dst")), rounds, cutEvery = 1,
        stop = Option.when(earlyExit)(stop)) { (e, _) =>
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      e.join(alive.select(col("node").as("src")), Seq("src"))
        .join(alive.select(col("node").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
    }.state.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Peeling trajectory: one row per round — (round, n_nodes,
    * n_edges) of the surviving core after that round. The trajectory
    * is the operative DIAGNOSTIC of k-core peeling (how fast the
    * cascade collapses, and whether a stable core survives) and stays
    * meaningful on any graph — including near-uniform ones whose
    * k-core is all-or-nothing, where the final-core shape alone would
    * read as trivially full or trivially empty. Each round is cut
    * (caps lineage depth at one round), then both counts come from ONE
    * combined aggregate over the cut edge set (round-11: was
    * distinct().count() + count() — two full jobs). That aggregate is
    * also the stop rule: its `count_distinct` is rejected by
    * `Dataset.observe`, and its row is the output, so it stays an
    * action of its own. `n_edges` counts undirected edges
    * (directed/2).
    *
    * Fixpoint early-exit, trajectory-shaped (round-14): the output
    * contract is ONE ROW PER SCHEDULED ROUND, so the exit cannot drop
    * rows — instead, once a round's edge count matches the previous
    * round's (zero removals ⇒ every later round is a provable no-op
    * producing the identical counts), the remaining rows are emitted
    * as COPIES without running their joins. Byte-identical output —
    * the flat tail the oracle's no-op CTE rounds produce — at the
    * cost of only the pre-fixpoint rounds. */
  def profile(edges: DataFrame, k: Long, rounds: Int): DataFrame =
    profileCanonical(Fixpoint.cut(edges.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))),
      k, rounds)

  /** [[profile]] over the CANONICAL pair frame `(a, b)`, a < b — the
    * round-21 shape: the symmetric view is a lazy union over the
    * canonical frame, so every per-round materialization, scan and
    * count touches HALF the rows of the symmetric form (the only frames
    * this operator ever writes are the shrinking cores — measured on
    * the m13 graph, 2.4 M directed rows → 1.2 M pairs per checkpoint).
    * Degrees are exact: deg(v) = |{v=a}| + |{v=b}| over the pairs is
    * the symmetric out-degree. Caller passes a MATERIALIZED frame
    * (the loop's first round reads it twice). Output is identical to
    * the symmetric form — n_edges was already directed/2. */
  def profileCanonical(pairs0: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val spark = pairs0.sparkSession
    import spark.implicits._
    val counts = Seq.newBuilder[(Long, Long)] // (n_nodes, directed edges)
    var prev = -1L
    val stop = Fixpoint.Checked { (_, p, _) =>
      val c = p.select(explode(array(col("a"), col("b"))).as("node"))
        .agg(count_distinct(col("node")).as("n"), count(lit(1)).as("m"))
        .head()
      counts += ((c.getLong(0), c.getLong(1)))
      val fixed = c.getLong(1) == prev || c.getLong(1) == 0L
      prev = c.getLong(1)
      fixed
    }
    Fixpoint.run(pairs0.select(col("a"), col("b")), rounds, cutEvery = 1,
        stop = Some(stop)) { (p, _) =>
      val alive = p.select(col("a").as("node"))
        .unionByName(p.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"))
      p.join(alive.select(col("node").as("a")), Seq("a"))
        .join(alive.select(col("node").as("b")), Seq("b"))
        .select(col("a"), col("b"))
    }
    // rounds after the fixpoint repeat the last counts (see above)
    val ran = counts.result()
    (1 to rounds).map { i =>
      val (n, m) = ran(math.min(i, ran.size) - 1)
      (i.toLong, n, m / 2)
    }.toDF("round", "n_nodes", "n_edges")
  }

  /** Chained-CTE oracle suffix replaying the identical `rounds` peels.
    * Expects a CTE `edges(src, dst)` (symmetrized); emits CTE bodies
    * `e_1, ..., e_R` — the caller's final SELECT reads `e_$rounds`
    * (or each `e_i` for the [[profile]] trajectory). `kSql` names a
    * one-row CTE `(k)` holding the threshold, cross-joined in (pass
    * `"(SELECT 3 AS k)"` for a literal).
    *
    * Each round is expressed with WINDOW degree counts over the
    * symmetrized edge list — count(*) per src partition IS the
    * endpoint degree — so every CTE references its predecessor
    * EXACTLY ONCE. The first (join-shaped) formulation referenced it
    * four times, and an engine that inlines rather than materializes
    * multi-referenced CTEs (DuckDB's planner does for these) expands
    * that into 4^R re-evaluations of the base edge build — the
    * textbook exponential-CTE trap; the window form is linear by
    * construction. */
  def oracleSqlSuffix(kSql: String, rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) "edges" else s"e_${i - 1}"
      s"""e_$i AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      count(*) OVER (PARTITION BY src) AS ds,
         |      count(*) OVER (PARTITION BY dst) AS dd
         |    FROM $prev), $kSql kv$i
         |  WHERE ds >= kv$i.k AND dd >= kv$i.k)""".stripMargin
    }.mkString(",\n")

  def oracleSqlSuffix(k: Int, rounds: Int): String =
    oracleSqlSuffix(s"(SELECT $k AS k)", rounds)
}
