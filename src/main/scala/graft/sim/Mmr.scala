package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
  * diversity rerank a retrieval pipeline runs over an ANN shortlist:
  * greedily pick k documents maximizing
  *   λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)
  * so the result set covers the query's neighborhood instead of
  * returning k near-duplicates (the training-data angle: diverse
  * exemplar selection from a candidate pool).
  *
  * The greedy loop is inherently sequential in k, but k is small and
  * each round is pure relational algebra over the BOUNDED pool (one
  * anti-join + one max aggregate over pool×selected pairs + one
  * per-query argmax) — the pool is an ANN shortlist (~tens of rows per
  * query), so rounds cost nothing at any corpus scale; the expensive
  * part stays the shortlist build, which is the already-audited s1/s3
  * shape. Scores are r6-rounded before each argmax (ties → smaller
  * corpus id), making every pick engine-stable, so the whole greedy
  * trajectory — not just the final set — replays in DuckDB
  * ([[oracleSqlSuffix]]) and is hash-checked.
  */
object Mmr {

  private def r6(c: org.apache.spark.sql.Column) = round(c + lit(1e-9), 6)

  /** Greedy MMR over `pool(query_id, corpus_id, rel)` with
    * `pcos(query_id, a, b, c)` the symmetric pairwise similarities
    * among each query's pool members. Returns
    * `(query_id, corpus_id, pick, score)`, pick = 1..k. The round-1
    * diversity term is zero, so the uniform λ·rel − (1−λ)·max form
    * applies from the start. */
  def run(pool: DataFrame, pcos: DataFrame, k: Int,
          lam: Double): DataFrame = {
    var sel: DataFrame = null
    for (i <- 1 to k) {
      val scored =
        if (sel == null)
          pool.withColumn("score", r6(lit(lam) * col("rel")))
        else {
          val cand = pool.join(
            sel.select(col("query_id"), col("corpus_id")),
            Seq("query_id", "corpus_id"), "left_anti")
          val pc = pcos.select(col("query_id"),
            col("a").as("corpus_id"), col("b").as("s"), col("c"))
          cand
            .join(sel.select(col("query_id"), col("corpus_id").as("s")),
              "query_id")
            .join(pc, Seq("query_id", "corpus_id", "s"))
            .groupBy("query_id", "corpus_id", "rel")
            .agg(max(col("c")).as("mx"))
            .withColumn("score",
              r6(lit(lam) * col("rel") - lit(1.0 - lam) * col("mx")))
        }
      val pick = scored.groupBy("query_id")
        .agg(max_by(struct(col("corpus_id"), col("score")),
          struct(col("score"), (-col("corpus_id")).as("nc"))).as("p"))
        .select(col("query_id"), col("p.corpus_id"),
          lit(i).as("pick"), col("p.score"))
      sel = if (sel == null) pick else sel.unionByName(pick)
      sel = Fixpoint.cut(sel)
    }
    sel
  }

  /** Chained-CTE replay of [[run]]: expects `pool(query_id, corpus_id,
    * rel)` and `pcos(query_id, a, b, c)` in scope; defines cumulative
    * `sel_1 … sel_<k>` (MATERIALIZED — each round references the
    * previous three times). `lamS` must print λ and 1−λ exactly as the
    * Spark literals (e.g. "0.7", "0.3"). */
  def oracleSqlSuffix(k: Int, lamS: String, oneMinusLamS: String): String = {
    val first =
      s"""sel_1 AS MATERIALIZED (
         |  SELECT query_id, corpus_id, 1 AS pick, score FROM (
         |    SELECT query_id, corpus_id,
         |      round($lamS * rel + 1e-9, 6) AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round($lamS * rel + 1e-9, 6) DESC, corpus_id)
         |        AS rn
         |    FROM pool) WHERE rn = 1)""".stripMargin
    val rounds = (2 to k).map { i =>
      s"""cand_$i AS (
         |  SELECT p.query_id, p.corpus_id, p.rel FROM pool p
         |  LEFT JOIN sel_${i - 1} s ON s.query_id = p.query_id
         |    AND s.corpus_id = p.corpus_id
         |  WHERE s.corpus_id IS NULL),
         |dv_$i AS (
         |  SELECT c.query_id, c.corpus_id, c.rel, max(pc.c) AS mx
         |  FROM cand_$i c
         |  JOIN sel_${i - 1} s ON s.query_id = c.query_id
         |  JOIN pcos pc ON pc.query_id = c.query_id
         |    AND pc.a = c.corpus_id AND pc.b = s.corpus_id
         |  GROUP BY 1, 2, 3),
         |pk_$i AS (
         |  SELECT query_id, corpus_id, $i AS pick, score FROM (
         |    SELECT query_id, corpus_id,
         |      round($lamS * rel - $oneMinusLamS * mx + 1e-9, 6) AS score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round($lamS * rel - $oneMinusLamS * mx + 1e-9, 6)
         |          DESC, corpus_id) AS rn
         |    FROM dv_$i) WHERE rn = 1),
         |sel_$i AS MATERIALIZED (
         |  SELECT * FROM sel_${i - 1} UNION ALL SELECT * FROM pk_$i)"""
        .stripMargin
    }
    (first +: rounds).mkString(",\n")
  }
}
