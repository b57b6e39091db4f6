package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Triangle enumeration over an undirected edge list in canonical
  * `ka < kb` form — count-probed hybrid of the two standard wedge
  * joins (the GridKnn / DBSCAN probe idiom):
  *
  *  - PROBE: one edge-list aggregate computes the id-oriented wedge
  *    count Σ C(out-deg, 2) — the exact work the naive join would pay.
  *  - Below [[DirectWedgeCap]], run the simple id-oriented join
  *    (a < b < c): no degree attach, fewest stages — the right plan
  *    for small or degree-benign graphs.
  *  - Above it, DEGREE-ORIENT first (Chiba–Nishizeki orientation, the
  *    Schank–Wagner forward algorithm): direct each edge from its
  *    lower-(degree, id) endpoint to its higher one and generate
  *    wedges only from out-neighbors. Out-degrees are bounded by
  *    O(√m), so wedge work drops from Σ deg² to O(m^1.5) — on a
  *    skewed graph one id-oriented hub of degree d pays d²/2 wedges
  *    where degree orientation pays ZERO from the hub (all its edges
  *    point inward; TrianglesSpec pins the hub-and-spoke separation).
  *
  * Orientation is count-invariant — both paths enumerate the same
  * triangles (spec-pinned), which is also why the m12 SQL oracle keeps
  * the simple id-oriented enumeration. */
object Triangles {

  /** Probe threshold: id-oriented candidate wedges a single benign
    * join is allowed to generate (~4M ≈ sub-second on a handful of
    * cores; a 100-TB-scale or hub-skewed graph blows past it and
    * takes the oriented path). */
  val DirectWedgeCap: Long = 1L << 22

  /** Triangle corner rows (a, b, c), a < b < c (id order — the output
    * contract is orientation-independent). */
  def enumerate(und: DataFrame): DataFrame = {
    // read by the probe + three join branches
    val e = Fixpoint.cut(und.select(col("ka"), col("kb")))
    if (wedgeCount(e, byDegree = false) <= DirectWedgeCap) idOriented(e)
    else degreeOriented(e)
  }

  /** Naive id-oriented enumeration: wedge work Σ out-deg² under id
    * orientation — fine iff the probe bounded it. */
  private[graft] def idOriented(e: DataFrame): DataFrame =
    e.as("ab")
      .join(e.as("bc"), col("ab.kb") === col("bc.ka"))
      .join(e.as("ac"),
        col("ac.ka") === col("ab.ka") && col("ac.kb") === col("bc.kb"))
      .select(col("ab.ka").as("a"), col("ab.kb").as("b"),
        col("bc.kb").as("c"))

  /** Degree-oriented enumeration (see object doc): O(m^1.5) wedge
    * bound, same triangle set as [[idOriented]]. */
  private[graft] def degreeOriented(e: DataFrame): DataFrame = {
    val o = Fixpoint.cut(orientByDegree(e)) // read by both wedge branches + the closer
    o.as("e1")
      .join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dkey") < col("e2.dkey"))
      .join(o.as("cl"),
        col("cl.src") === col("e1.dst") && col("cl.dst") === col("e2.dst"))
      .select(array_sort(
        array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("t"))
      .select(element_at(col("t"), 1).as("a"),
        element_at(col("t"), 2).as("b"), element_at(col("t"), 3).as("c"))
  }

  /** Direct each canonical edge from its smaller (degree, id) endpoint:
    * output (src, dst, dkey) with dkey = struct(deg(dst), dst) — the
    * wedge join orders out-neighbors by dkey so each triangle closes
    * once. Degrees come from one count aggregate over the edge list;
    * the two attach joins are node-keyed and AQE-broadcastable when
    * the degree table is small. */
  private def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("ka").as("node"))
      .unionAll(e.select(col("kb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val aFirst =
      struct(col("da"), col("ka")) < struct(col("db"), col("kb"))
    e.join(deg.select(col("node").as("ka"), col("deg").as("da")), "ka")
      .join(deg.select(col("node").as("kb"), col("deg").as("db")), "kb")
      .select(
        when(aFirst, col("ka")).otherwise(col("kb")).as("src"),
        when(aFirst, col("kb")).otherwise(col("ka")).as("dst"),
        when(aFirst, struct(col("db").as("d"), col("kb").as("n")))
          .otherwise(struct(col("da").as("d"), col("ka").as("n")))
          .as("dkey"))
  }

  /** Per-node triangle participation counts (nodes in ≥ 1 triangle). */
  def perNode(und: DataFrame): DataFrame = {
    val tri = enumerate(und)
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Candidate-wedge count Σ C(out-deg, 2) under the chosen
    * orientation — the cost the wedge join actually pays, and (in id
    * orientation) [[enumerate]]'s probe. On a hub-and-spoke graph id
    * orientation pays C(spokes, 2) from the hub, degree orientation
    * pays 0 (TrianglesSpec pins the separation). */
  private[graft] def wedgeCount(und: DataFrame, byDegree: Boolean): Long = {
    val e = und.select(col("ka"), col("kb"))
    val srcs =
      if (byDegree) orientByDegree(e).select(col("src"))
      else e.select(col("ka").as("src"))
    val n = srcs.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(sum(col("d") * (col("d") - 1))).head.get(0)
    if (n == null) 0L else n.asInstanceOf[Long] / 2
  }
}
