package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint
import graft.text.TextOps

/** Distributed Lloyd's k-means with an ENGINE-PORTABLE deterministic
  * fit — the fully-oracle-checked counterpart of m2's MLlib KMeans
  * (whose seeded parallel init is not reproducible outside Spark, so
  * m2 is rows-only checkable). Portability comes from three choices,
  * each already proven elsewhere in the repo:
  *
  *  - init = the k corpus vectors FIRST in md5-hash order of their id
  *    (the [[Pq.codebook]] sample idiom) — no RNG;
  *  - fixed R rounds, each replayable as two chained CTEs (assign =
  *    argmin with ties to the smallest cid; update = per-dimension
  *    mean) — every CTE reference-linear (the m13 lesson);
  *  - centroids re-canonicalized r6 after EVERY update (the w26
  *    tiered-rounding idiom), so the next round's distances are
  *    computed from identical doubles on both engines even though the
  *    mean's summation order differs.
  *
  * Scale shape per round: one broadcast of k·D doubles against the
  * corpus scan with a MAP-ONLY compiled argmin ([[ArgminDist2]],
  * round-21 — the (vec)-keyed argmin aggregate it replaces shuffled
  * the k×-exploded corpus once per round) + one (cid, dim)-keyed
  * mean — no all-pairs, no driver-side data motion. Empty clusters
  * simply drop out of the centroid frame (identically in the oracle).
  */
object PortableKMeans {

  /** Assignments after R update rounds: `(vec_id, cid, d2)` — each
    * vector with its final cluster and squared distance to that
    * centroid. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
             rounds: Int, dims: Int): DataFrame = {
    // the unpartitioned centroid-id window sees ≤ k rows (limit
    // precedes it); enforce the bound explicitly (r18 VERDICT item 6)
    require(k <= 65536,
      s"k $k: centroid-id rank window is single-partition")
    val h = TextOps.hash60(col(idCol).cast("string"))
    val centroids = Fixpoint.cut(corpus.orderBy(h, col(idCol)).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(h, col(idCol))) - 1)
      .select(col("cid"), col(vecCol).as("cvec")))

    // Map-only assign (round-21, VERDICT item 3): the k centroids are
    // collapsed into ONE broadcast row (array<struct<cid, cvec>> sorted
    // by cid) and the argmin runs as a compiled loop kernel
    // ([[ArgminDist2]] — bit-parity argument there), so each Lloyd
    // round's assign is a pure projection: the k×-exploded
    // crossJoin + groupBy(id) corpus shuffle this replaces ran once
    // per round. (The round-20 attempt at the same shape — k·dims
    // UNROLLED subtraction terms in one projection — overflowed
    // janino's method limit and fell back to interpreted execution,
    // 7.2 s → 18.3 s; the loop kernel is ~30 generated lines at any
    // k·dims and keeps whole-stage codegen intact.)
    def assignTo(cent: DataFrame): DataFrame = {
      val centsRow = cent.agg(array_sort(
        collect_list(struct(col("cid"), col("cvec")))).as("__cents"))
      corpus.crossJoin(broadcast(centsRow))
        .withColumn("mn", ArgminDist2(col(vecCol), col("__cents"), dims))
        .select(col(idCol), col("mn.cid").as("cid"),
          col("mn.d2").as("d2"), col(vecCol).as("__v"))
    }

    val fitted = Fixpoint.run(centroids, rounds, cutEvery = 1) { (cent, _) =>
      assignTo(cent)
        .select(col("cid"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.queries.Rx.r6(avg(col("x"))).as("av"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("av").as("a")))),
          s => s("a")).as("cvec"))
    }.state
    assignTo(fitted)
      .select(col(idCol).as("vec_id"), col("cid"), col("d2"))
  }

  /** Chained-CTE replay of [[assign]] for a DuckDB oracle: expects an
    * `e(vec_id, v)` CTE in scope; defines `c_0 … c_$rounds` and
    * `a_1 … a_${rounds + 1}` (the final assignment). */
  def oracleSqlSuffix(k: Int, rounds: Int, dims: Int): String = {
    val d2 = (vec: String, cent: String) =>
      s"""list_reduce(list_prepend(0.0,
         |      list_transform(range(1, $dims + 1),
         |        i -> ($vec[i] - $cent[i]) * ($vec[i] - $cent[i]))),
         |      (acc, x) -> acc + x)""".stripMargin
    val init =
      s"""hs AS (SELECT vec_id, v,
         |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM e),
         |c_0 AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid,
         |    v AS cvec
         |  FROM hs ORDER BY h, vec_id LIMIT $k)""".stripMargin
    val steps = (1 to rounds + 1).map { i =>
      val a =
        s"""a_$i AS (SELECT vec_id, v, cid, d2 FROM (
           |    SELECT e.vec_id, e.v, c.cid,
           |      ${d2("e.v", "c.cvec")} AS d2,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${d2("e.v", "c.cvec")}, c.cid) AS rn
           |    FROM e, c_${i - 1} c) WHERE rn = 1)""".stripMargin
      if (i == rounds + 1) a
      else
        a + ",\n" +
          s"""c_$i AS (SELECT cid, list(av ORDER BY i) AS cvec FROM (
             |    SELECT cid, i, round(avg(v[i]) + 1e-9, 6) AS av
             |    FROM a_$i, range(1, $dims + 1) t(i) GROUP BY 1, 2)
             |  GROUP BY 1)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }
}
