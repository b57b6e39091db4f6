package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TopK
import graft.operators.Fixpoint

/** IVF-SQ: coarse cell shortlisting ([[IvfPq.coarseCells]]) composed
  * with scalar-quantized codes ([[Sq]]) — the third point of the
  * quantization matrix next to IVF-PQ (s8) and flat SQ (s10). This is
  * the configuration production vector stores pick when memory is the
  * constraint but PQ's codebook recall loss is not acceptable: the
  * probed-cell scan reads one-byte-per-dim codes (4× bandwidth vs
  * float32) and the asymmetric distance is near-exact, so the same
  * kShort + exact re-rank recovers effectively full recall within the
  * probed cells.
  *
  * Scale shape: identical to [[IvfPq.topK]] except the ADC lookup
  * tables are replaced by the 2·D-double SQ stats broadcast — the
  * per-(query, candidate) cost is D fused multiply-adds over the codes
  * instead of m table reads. Everything is cell-bounded; nothing is
  * all-pairs.
  */
object IvfSq {

  /** IVF-SQ top-k with exact re-rank, self-pairs excluded. Output:
    * (query_id, corpus_id, d2, rank) — the s7/s8/s10 schema. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queryPred: Column, k: Int, kShort: Int, dims: Int,
           levels: Int, nCells: Int, nprobe: Int): DataFrame = {
    require(nprobe <= nCells, s"nprobe $nprobe exceeds nCells $nCells")
    val cells = Fixpoint.cut(IvfPq.coarseCells(corpus, idCol, vecCol, nCells))
    val stats = Fixpoint.cut(Sq.fit(corpus, vecCol, dims, levels))
    // compiled per-row argmin over the collapsed broadcast cell row
    // (round-21 — removes the ×nCells explode + corpus-keyed Exchange;
    // CellAssign scaladoc has the parity argument)
    val assign = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(CellAssign.collapse(cells, "cell", "cellv")))
      .select(col("corpus_id"),
        CellAssign.nearest(col("__v"), col("__cents"), dims)
          .getField("cid").as("cell"))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("cd2"), col("cell"))
    val qv = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val probes = qv
      .crossJoin(broadcast(cells))
      .withColumn("cd2", Dist2(col("__qv"), col("cellv"), dims))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("cell"))
    val codes = Sq.encode(corpus, idCol, vecCol, stats, dims, levels)
      .select(col(idCol).as("corpus_id"), col("codes"))
      .join(assign, "corpus_id")
    val scored = codes
      .join(broadcast(probes.join(qv, "query_id")), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .crossJoin(broadcast(stats))
      .withColumn("adist", IvfSq.adist2(col("__qv"), col("codes"),
        col("vmins"), col("steps"), dims))
      .select(col("query_id"), col("corpus_id"), col("adist"))
    val short = TopK.perKey(scored, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("adist")), col("corpus_id")), kShort)
      .select(col("query_id"), col("corpus_id"))
    val exact = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .join(broadcast(short), "corpus_id")
      .join(broadcast(qv), "query_id")
      .withColumn("d2", Dist2(col("__qv"), col("__cv"), dims))
      .select(col("query_id"), col("corpus_id"), col("d2"))
    TopK.perKey(exact, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("d2")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("d2"), col("rank"))
  }

  /** [[Sq]]'s asymmetric distance — the codegen'd-loop expression
    * [[SqAdist2]] (round 12: the unrolled tree both files shipped in
    * round 11 overflowed janino's method limit at dims = 64; see
    * SqAdist2's scaladoc). Same left-assoc non-negative-term fold. */
  private def adist2(qv: Column, codes: Column, vm: Column, st: Column,
                     dims: Int): Column =
    SqAdist2(qv, codes, vm, st, dims)

  /** DuckDB oracle for [[topK]] over the `embeddings` view: the
    * [[IvfPq.oracleSql]] coarse tier composed with the
    * [[Sq.oracleSql]] code tier. */
  def oracleSql(k: Int, kShort: Int, dims: Int, levels: Int,
                nCells: Int, nprobe: Int, queryPredSql: String): String = {
    require(nprobe <= nCells, s"nprobe $nprobe exceeds nCells $nCells")
    val lv1 = levels - 1
    def d2(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0,
         |      list_transform(range(1, $dims + 1),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings),
       |hs AS (SELECT vec_id, v,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
       |cells AS (SELECT v AS cellv,
       |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
       |  FROM hs ORDER BY h, vec_id LIMIT $nCells),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell) AS arn
       |    FROM e, cells c) WHERE arn = 1),
       |probes AS (SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell) AS prn
       |    FROM e, cells c WHERE $queryPredSql) WHERE prn <= $nprobe),
       |st AS (SELECT i, min(v[i]) AS vmin,
       |    (max(v[i]) - min(v[i])) / $levels AS step
       |  FROM e, range(1, ${dims + 1}) t(i) GROUP BY 1),
       |sa AS (SELECT list(vmin ORDER BY i) AS vm,
       |    list(step ORDER BY i) AS stp FROM st),
       |codes AS (SELECT vec_id,
       |    list_transform(range(1, ${dims + 1}),
       |      i -> CAST(least(floor((v[i] - vm[i]) / stp[i]), $lv1)
       |        AS INT)) AS codes
       |  FROM e, sa),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE $queryPredSql),
       |sc AS (SELECT q.query_id, c.vec_id AS corpus_id,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(range(1, ${dims + 1}),
       |        i -> (q.qv[i] - (sa.vm[i] + (c.codes[i] + 0.5) * sa.stp[i]))
       |           * (q.qv[i] - (sa.vm[i] + (c.codes[i] + 0.5) * sa.stp[i])))),
       |      (acc, x) -> acc + x) AS adist
       |  FROM q
       |  JOIN probes p ON p.query_id = q.query_id
       |  JOIN asg a ON a.cell = p.cell
       |  JOIN codes c ON c.vec_id = a.vec_id, sa
       |  WHERE q.query_id <> c.vec_id),
       |short AS (SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist, corpus_id) AS srn
       |    FROM sc) WHERE srn <= $kShort),
       |ex AS (SELECT s.query_id, s.corpus_id,
       |    ${d2("q.v", "c.v")} AS d2
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e c ON c.vec_id = s.corpus_id),
       |rk AS (SELECT query_id, corpus_id, d2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY d2, corpus_id) AS rank
       |  FROM ex)
       |SELECT query_id, corpus_id, round(d2 + 1e-9, 6) AS d2, rank
       |FROM rk WHERE rank <= $k""".stripMargin
  }
}
