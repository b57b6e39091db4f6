package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Fixpoint, LoopFrames}
import graft.sketch.Hll

/** HyperANF (Boldi, Rosa & Vigna 2011): the approximate neighborhood
  * function — |ball(v, t)| for every vertex — via per-vertex
  * HyperLogLog registers merged along edges each round. The exact
  * computation ([[khopExact]]) materializes the reachable SET per
  * vertex (Θ(n · reach) pairs — quadratic on dense graphs); HyperANF
  * replaces each set with an HLL sketch, so per-round state is ≤ m
  * registers per vertex and the round is one edge-keyed join + one
  * (vertex, bucket) max aggregate — the same max-merge CRDT argument
  * as the streaming HLL (st17): a register max over neighbors IS the
  * sketch of the union of their balls. That is what makes the
  * neighborhood function computable on a 100 TB graph where the exact
  * pair set cannot exist.
  *
  * Built on the PORTABLE register derivation in [[graft.sketch.Hll]]
  * (md5 string hash, string-ops rank, exact integer harmonic sum), so
  * a second engine replays the ENTIRE iteration — registers, merges
  * and estimates — and the result is hash-checked, not rows-checked.
  *
  * PRECONDITION (as [[LabelProp]]): `edges(src, dst)` symmetric.
  */
object HyperAnf {

  /** The register iteration itself — `(node, bucket, r)` frames for
    * t = 0..k, the SHARED generator g24/g26/g27 all consume (round-13:
    * each of the three previously rebuilt the identical iteration;
    * MlPack memoizes this sequence once per (session, dir) so a bench
    * run pays for the registers exactly once). When `checkpointEach`,
    * EVERY round frame is cut (≤ n·m rows — tiny), so downstream
    * consumers read materialized tables instead of re-deriving the
    * merge chain; otherwise every other round is cut ([[Fixpoint]]). */
  def registerRounds(edges: DataFrame, k: Int, p: Int,
                     checkpointEach: Boolean = false): IndexedSeq[DataFrame] = {
    // loop constant keyed on the per-round join key (round-20)
    val e = LoopFrames.keyed(edges, "dst")
    val nodes = e.select(col("src").as("node")).distinct()
    // ball(v, 0) = {v}: each vertex's initial sketch is its own id
    val regs0 = Hll.keyedRegisters(
      nodes.withColumn("key", col("node")), "node", "key", p)
    val out = Vector.newBuilder[DataFrame]
    val last = Fixpoint.run(if (checkpointEach) Fixpoint.cut(regs0) else regs0,
        k, cutEvery = if (checkpointEach) 1 else 2) { (regs, _) =>
      out += regs
      // merge hint at the JOIN site — see LoopFrames.keyed's scaladoc
      val nbr = e.hint("merge")
        .join(regs.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("bucket"), col("r"))
      regs.unionByName(nbr)
        .groupBy("node", "bucket").agg(max("r").as("r"))
    }.state
    (out += last).result()
  }

  /** K max-merge rounds; returns per-vertex
    * `(node, m, v_nonzero, zsum40, estimate)` — the sketched
    * |ball(node, k)| including the vertex itself. */
  def run(edges: DataFrame, k: Int, p: Int): DataFrame =
    estimateAtK(registerRounds(edges, k, p), p)

  /** Per-vertex estimate off the FINAL round of a [[registerRounds]]
    * sequence (the g24 output shape). */
  def estimateAtK(rounds: IndexedSeq[DataFrame], p: Int): DataFrame =
    Hll.keyedEstimateFromRegisters(rounds.last, "node", p)

  /** The neighborhood function proper (the HyperANF paper's output):
    * N(t) = Σ_v |ball(v, t)| for t = 0..k, from the same register
    * iteration — each round's per-vertex estimates are r4-rounded
    * (engine-stable) and summed, and the final column reports
    * N(t)/N(k), the fraction used to read off the effective diameter
    * (smallest t with frac ≥ 0.9). Returns `(t, n_reach, frac)`. */
  def neighborhoodFunction(edges: DataFrame, k: Int, p: Int): DataFrame =
    curveFromRounds(registerRounds(edges, k, p), p)

  /** [[neighborhoodFunction]] computed from an existing (possibly
    * shared/memoized) [[registerRounds]] sequence. */
  def curveFromRounds(rounds: IndexedSeq[DataFrame], p: Int): DataFrame = {
    val k = rounds.size - 1
    def nAt(t: Int): DataFrame =
      Hll.keyedEstimateFromRegisters(rounds(t), "node", p)
        .agg(round(sum("estimate") + lit(1e-9), 4).as("n_reach"))
        .select(lit(t).as("t"), col("n_reach"))
    val curve = (0 to k).map(nAt).reduce(_.unionByName(_))
    val nk = curve.filter(col("t") === k).select(col("n_reach").as("nk"))
    curve.crossJoin(broadcast(nk))
      .select(col("t"), col("n_reach"),
        round(col("n_reach") / col("nk") + lit(1e-9), 6).as("frac"))
  }

  /** Exact |ball(v, k)| by materializing distinct (vertex, reached)
    * pairs — the oracle-friendly ground truth, and the honest
    * small-graph/bounded-k form (the pair set is the thing HyperANF
    * exists to avoid at scale). */
  def khopExact(edges: DataFrame, k: Int): DataFrame = {
    // loop constant keyed on the per-round join key (round-20)
    val e = LoopFrames.keyed(edges, "dst")
    val pairs0 = e.select(col("src").as("node"),
      col("src").as("reached")).distinct()
    Fixpoint.run(pairs0, k, cutEvery = 2) { (pairs, _) =>
      // merge hint at the JOIN site — see LoopFrames.keyed's scaladoc
      val nbr = e.hint("merge")
        .join(pairs.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("reached"))
      pairs.unionByName(nbr).distinct()
    }.state.groupBy("node").agg(count(lit(1)).as("n_reach"))
  }

  /** Chained register CTEs only: `hn`, `h0`, `regs_0 … regs_<k>`
    * (MATERIALIZED — each round references the previous twice). */
  def registersSqlCtes(k: Int, p: Int): String = {
    val pre = p / 4
    val rounds = (1 to k).map { t =>
      s"""regs_$t AS MATERIALIZED (
         |  SELECT node, bucket, max(r) AS r FROM (
         |    SELECT node, bucket, r FROM regs_${t - 1}
         |    UNION ALL
         |    SELECT e.src AS node, g.bucket, g.r
         |    FROM edges e JOIN regs_${t - 1} g ON g.node = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }
    s"""hn AS (SELECT DISTINCT src AS node FROM edges),
       |h0 AS (SELECT node, md5(CAST(node AS VARCHAR)) AS h FROM hn),
       |regs_0 AS (SELECT node, substring(h, 1, $pre) AS bucket,
       |    ${Hll.rankCaseSql(pre)} AS r
       |  FROM h0),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Chained-CTE replay of [[run]]: expects `edges(src, dst)` in
    * scope, emits the register CTEs and the per-vertex estimate
    * CTEs; the caller SELECTs from the final estimate relation. */
  def oracleSqlSuffix(k: Int, p: Int): String =
    s"""${registersSqlCtes(k, p)},
       |${Hll.keyedEstimateSql(s"regs_$k", "node", p)}""".stripMargin

  /** Chained-CTE replay of [[neighborhoodFunction]]: register CTEs +
    * one estimate chain per round (prefixed `e<t>_`, result CTE
    * `e<t>_res`), the N(t) union and the frac select. */
  def curveOracleSqlSuffix(k: Int, p: Int): String = {
    val ests = (0 to k).map { t =>
      Hll.keyedEstimateSql(s"regs_$t", "node", p, s"e${t}_", s"e${t}_res")
    }
    val union = (0 to k).map { t =>
      s"SELECT $t AS t, round(sum(estimate) + 1e-9, 4) AS n_reach " +
        s"FROM e${t}_res"
    }.mkString("\n  UNION ALL ")
    s"""${registersSqlCtes(k, p)},
       |${ests.mkString(",\n")},
       |nf AS ($union),
       |nk AS (SELECT n_reach AS nk FROM nf WHERE t = $k)
       |SELECT t, n_reach, round(n_reach / nk + 1e-9, 6) AS frac
       |FROM nf, nk""".stripMargin
  }

  /** Chained-CTE replay of [[khopExact]]. Defines `r_0 … r_<k>`
    * (MATERIALIZED); caller aggregates `r_<k>`. */
  def khopOracleSqlSuffix(k: Int): String = {
    val rounds = (1 to k).map { t =>
      s"""r_$t AS MATERIALIZED (
         |  SELECT DISTINCT node, reached FROM (
         |    SELECT node, reached FROM r_${t - 1}
         |    UNION ALL
         |    SELECT e.src AS node, x.reached
         |    FROM edges e JOIN r_${t - 1} x ON x.node = e.dst))""".stripMargin
    }
    (s"r_0 AS (SELECT DISTINCT src AS node, src AS reached FROM edges)"
      +: rounds).mkString(",\n")
  }
}
