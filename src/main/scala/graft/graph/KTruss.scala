package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** k-truss decomposition by synchronous edge peeling (Cohen 2008,
  * "Trusses: cohesive subgraphs for social network analysis"): the
  * k-truss is the maximal subgraph in which every edge participates in
  * at least k−2 triangles OF THE SUBGRAPH. Each peel round computes
  * per-EDGE triangle support on the current edge set and removes every
  * under-supported edge; removals break triangles, so peeling repeats
  * until fixpoint (here: a FIXED round schedule with a HASH-PRESERVING
  * fixpoint early-exit — the m6b/LouvainDist pattern. A round that
  * removes ZERO edges leaves the edge set unchanged, so the next
  * round recomputes the identical support on the identical set and
  * removes zero edges again: every remaining round of the schedule is
  * a provable no-op, and exiting there cannot change the output. The
  * oracle replays the FULL schedule as chained CTEs whose extra
  * rounds are equally no-op, so the hash is preserved; KTrussSpec
  * proves exit ≡ full schedule on random graphs and the bench graph.
  * The exit check is the edge count, observed on the per-round cut at
  * no extra job ([[Fixpoint]]), which makes a GENEROUS round budget
  * free: a 100× graph that needs more pre-fixpoint rounds simply
  * uses them, while the common case stops as soon as the peel dries).
  *
  * Distributed shape per round (the m12 cost envelope): one
  * id-oriented wedge join over the CURRENT (shrinking) edge set to
  * enumerate triangles, one explode of each triangle into its three
  * edges, one edge-keyed count, one filtering join — all edge-keyed
  * shuffles, no per-node adjacency state. The wedge join is the
  * dominant term (O(Σ d²) id-oriented; [[Triangles]] documents the
  * degree-oriented O(m^1.5) variant — id orientation keeps the oracle
  * SQL identical and the peeled sets shrink every round).
  *
  * PRECONDITION: `und(ka, kb)` with ka < kb, one row per undirected
  * edge, no self-loops.
  */
object KTruss {

  /** Triangles (a < b < c) of an oriented edge set. */
  private def triangles(und: DataFrame): DataFrame =
    und.select(col("ka").as("a"), col("kb").as("b"))
      .join(und.select(col("ka").as("b"), col("kb").as("c")), "b")
      .join(und.select(col("ka").as("a"), col("kb").as("c")),
        Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))

  /** Per-edge triangle support of the current set (edges in no
    * triangle are absent — callers coalesce to 0). */
  private def support(und: DataFrame): DataFrame =
    triangles(und)
      .select(array(
        struct(col("a").as("ka"), col("b").as("kb")),
        struct(col("a").as("ka"), col("c").as("kb")),
        struct(col("b").as("ka"), col("c").as("kb"))).as("es"))
      .select(explode(col("es")).as("e"))
      .groupBy(col("e.ka").as("ka"), col("e.kb").as("kb"))
      .agg(count(lit(1)).as("support"))

  /** Up to `rounds` synchronous peel rounds at truss level `k`;
    * returns the surviving edges with their support RECOMPUTED on the
    * final set (so the row itself certifies the truss property at
    * fixpoint). With `earlyExit` (default) the loop stops as soon as
    * a round removes nothing — see the object scaladoc for why that
    * is exactly the fixpoint and cannot change the output or hash;
    * `earlyExit = false` forces the full schedule (the spec's
    * equivalence baseline). Output: (ka, kb, support). */
  def run(und: DataFrame, k: Int, rounds: Int,
          earlyExit: Boolean = true): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // unchanged edge count ⇔ zero removals (the set only shrinks);
    // empty is trivially stable too
    val stop = Fixpoint.Observed(count(lit(1)),
      (prev, n) => prev.contains(n) || n == 0L)
    val e = Fixpoint.run(und.select(col("ka"), col("kb")), rounds, cutEvery = 1,
        stop = Option.when(earlyExit)(stop)) { (e, _) =>
      e.join(support(e), Seq("ka", "kb"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select(col("ka"), col("kb"))
    }.state
    e.join(support(e), Seq("ka", "kb"), "left")
      .select(col("ka"), col("kb"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Chained-CTE replay of [[run]]: expects `e0(ka, kb)` in scope
    * (oriented ka < kb), defines per-round `tr_r`/`sp_r`/`ed_r` and a
    * final `sp_out`; the caller SELECTs ed_<rounds> ⟕ sp_out. */
  def oracleSqlSuffix(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    def round(r: Int, in: String): Unit = {
      sb ++=
        s"""tr_$r AS MATERIALIZED (
           |  SELECT ab.ka AS a, ab.kb AS b, bc.kb AS c
           |  FROM $in ab JOIN $in bc ON ab.kb = bc.ka
           |  JOIN $in ac ON ac.ka = ab.ka AND ac.kb = bc.kb),
           |sp_$r AS MATERIALIZED (SELECT ka, kb, count(*) AS support FROM (
           |    SELECT a AS ka, b AS kb FROM tr_$r
           |    UNION ALL SELECT a, c FROM tr_$r
           |    UNION ALL SELECT b, c FROM tr_$r) GROUP BY 1, 2),
           |ed_$r AS MATERIALIZED (
           |  SELECT e.ka, e.kb FROM $in e
           |  JOIN sp_$r s ON s.ka = e.ka AND s.kb = e.kb
           |  WHERE s.support >= ${k - 2}),
           |""".stripMargin
    }
    for (r <- 1 to rounds) round(r, if (r == 1) "e0" else s"ed_${r - 1}")
    sb ++=
      s"""tr_out AS MATERIALIZED (
         |  SELECT ab.ka AS a, ab.kb AS b, bc.kb AS c
         |  FROM ed_$rounds ab JOIN ed_$rounds bc ON ab.kb = bc.ka
         |  JOIN ed_$rounds ac ON ac.ka = ab.ka AND ac.kb = bc.kb),
         |sp_out AS MATERIALIZED (SELECT ka, kb, count(*) AS support FROM (
         |    SELECT a AS ka, b AS kb FROM tr_out
         |    UNION ALL SELECT a, c FROM tr_out
         |    UNION ALL SELECT b, c FROM tr_out) GROUP BY 1, 2)""".stripMargin
    sb.toString
  }
}
