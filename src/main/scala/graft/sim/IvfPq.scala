package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TopK
import graft.text.TextOps
import graft.operators.Fixpoint

/** IVF-PQ: the composition of the two halves that individually exist as
  * s3 (IVF cell shortlisting, `IvfAnn`) and s7 (PQ code compression,
  * [[Pq]]) — billion-scale ANN shortlists `nprobe` coarse cells per
  * query, ADC-scores ONLY the codes inside those cells, then exactly
  * re-ranks the survivors (Jégou et al. 2011, §IV "IVFADC"; raw-vector
  * codes rather than residual codes — the FAISS `by_residual=false`
  * variant — so the PQ codebook stays cell-independent and the whole
  * pipeline stays engine-portable).
  *
  * Scale shape per stage (none is ever all-pairs in the original
  * dimension, and the ADC scan now touches nprobe/nCells of the corpus
  * instead of s7's full pass):
  *  - coarse cells: the first `nCells` corpus vectors in md5-hash order
  *    (the s7 portable-fit idiom; `IvfAnn.fit`'s trained KMeans
  *    quantizer is the production-quality drop-in — the composition is
  *    identical, the oracle just can't replay Lloyd iterations);
  *  - assignment: one corpus scan × broadcast(nCells full vectors) —
  *    at 100 TB nCells ~ √N keeps the broadcast tens of MB;
  *  - codes: [[Pq.encode]]'s broadcast-codebook join, unchanged;
  *  - probing: queries × broadcast(cells), `nprobe` kept per query by
  *    a bounded row_number window;
  *  - ADC: codes ⋈ cell assignment (one corpus-keyed shuffle) ⋈
  *    broadcast(probed (query, cell, lut)) — candidate set bound by
  *    cell membership, per-query bounded heap ([[TopK.perKey]]);
  *  - re-rank: `kShort` ids per query fetched once from the corpus and
  *    re-scored with the true squared-L2.
  */
object IvfPq {

  /** Coarse cells `(cell, cellv)`: the full vectors of the `nCells`
    * corpus rows FIRST in md5-hash order of their id (cell = rank in
    * that order — the [[Pq.codebook]] construction at full
    * dimensionality). */
  def coarseCells(corpus: DataFrame, idCol: String, vecCol: String,
                  nCells: Int): DataFrame = {
    // the unpartitioned rank window sees ≤ nCells rows (limit precedes
    // it); enforce the sketch-size bound explicitly (r18 VERDICT item 6)
    require(nCells <= 65536,
      s"nCells $nCells: coarse-cell rank window is single-partition")
    val h = TextOps.hash60(col(idCol).cast("string"))
    corpus.orderBy(h, col(idCol)).limit(nCells)
      .withColumn("cell",
        row_number().over(Window.orderBy(h, col(idCol))) - 1)
      .select(col("cell"), col(vecCol).as("cellv"))
  }

  /** IVF-PQ top-k with exact re-rank, self-pairs excluded. Output:
    * (query_id, corpus_id, d2, rank) — the [[Pq.rerankTopK]] schema, so
    * the two are drop-in comparable. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queryPred: Column, k: Int, kShort: Int, m: Int,
           nCentroids: Int, dims: Int, nCells: Int,
           nprobe: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    require(nprobe <= nCells, s"nprobe $nprobe exceeds nCells $nCells")
    val subLen = dims / m
    val cells = Fixpoint.cut(coarseCells(corpus, idCol, vecCol, nCells))
    val cb = Fixpoint.cut(Pq.codebook(corpus, idCol, vecCol, m, subLen, nCentroids))
    // nearest cell per corpus row (ties to the smallest cell id) as a
    // compiled per-row argmin over the collapsed broadcast cell row
    // (round-21 — removes the ×nCells explode + corpus-keyed Exchange;
    // CellAssign scaladoc has the parity argument)
    val assign = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(CellAssign.collapse(cells, "cell", "cellv")))
      .select(col("corpus_id"),
        CellAssign.nearest(col("__v"), col("__cents"), dims)
          .getField("cid").as("cell"))
    // nprobe nearest cells per query (ties to the smallest cell id)
    val wp = Window.partitionBy(col("query_id")).orderBy(col("cd2"), col("cell"))
    val probes = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .crossJoin(broadcast(cells))
      .withColumn("cd2", Dist2(col("__qv"), col("cellv"), dims))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("cell"))
    val lut = Pq.queryLut(corpus, idCol, vecCol, queryPred, cb, m, subLen)
    // ADC over probed cells only: the one corpus-keyed shuffle (codes ⋈
    // assignment), then a broadcast of (query, cell, lut) bounds the
    // candidate fan-out to cell membership
    val codes = Pq.encode(corpus, idCol, vecCol, cb, m, subLen)
      .select(col(idCol).as("corpus_id"), col("codes"))
      .join(assign, "corpus_id")
    val scored = codes
      .join(broadcast(probes.join(lut, "query_id")), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      // compiled AdcSum loop (round-21) — see the Pq.adcTopK note
      .withColumn("adist", AdcSum(col("codes"), col("lut")))
      .select(col("query_id"), col("corpus_id"), col("adist"))
    val short = TopK.perKey(scored, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("adist")), col("corpus_id")), kShort)
      .select(col("query_id"), col("corpus_id"))
    // exact re-rank of the shortlist (the Pq.rerankTopK tail)
    val qv = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .join(broadcast(short), "corpus_id")
      .join(broadcast(qv), "query_id")
      .withColumn("d2", Dist2(col("__qv"), col("__cv"), dims))
      .select(col("query_id"), col("corpus_id"), col("d2"))
    TopK.perKey(exact, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("d2")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("d2"), col("rank"))
  }

  /** DuckDB oracle for [[topK]] over the `embeddings` view — the
    * [[Pq.rerankOracleSql]] construction plus the coarse tier: md5-order
    * cells, argmin cell assignment, nprobe probing, candidate filter by
    * probed-cell membership before the ADC sum. */
  def oracleSql(k: Int, kShort: Int, m: Int, nCentroids: Int, dims: Int,
                nCells: Int, nprobe: Int, queryPredSql: String): String = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    require(nprobe <= nCells, s"nprobe $nprobe exceeds nCells $nCells")
    val subLen = dims / m
    val adChain = (0 until m)
      .map(i => s"max(qd2) FILTER (sub = $i)").mkString(" + ")
    // fixed-order squared-L2 between two full vectors (matches
    // the Dist2 kernel's left-to-right sum)
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
       |seeds AS (SELECT vec_id, v,
       |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cid
       |  FROM hs ORDER BY h, vec_id LIMIT $nCentroids),
       |sp AS (SELECT unnest(range($m)) AS sub),
       |cb AS (SELECT sub, cid,
       |    list_slice(v, sub * $subLen + 1, sub * $subLen + $subLen) AS cvec
       |  FROM seeds, sp),
       |subs AS (SELECT vec_id, sub,
       |    list_slice(v, sub * $subLen + 1, sub * $subLen + $subLen) AS subv
       |  FROM e, sp),
       |dd AS (SELECT s.vec_id, s.sub, c.cid,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(s.subv) + 1),
       |        i -> (s.subv[i] - c.cvec[i]) * (s.subv[i] - c.cvec[i]))),
       |      (acc, x) -> acc + x) AS d2
       |  FROM subs s JOIN cb c USING (sub)),
       |codes AS (SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY d2, cid) AS rn
       |    FROM dd) WHERE rn = 1),
       |qd AS (SELECT vec_id AS query_id, sub, cid, d2 AS qd2
       |  FROM dd WHERE $queryPredSql),
       |sc AS (SELECT q.query_id, c.vec_id AS corpus_id, q.sub, q.qd2
       |  FROM codes c
       |  JOIN asg a ON a.vec_id = c.vec_id
       |  JOIN qd q ON q.sub = c.sub AND q.cid = c.code
       |  JOIN probes p ON p.query_id = q.query_id AND p.cell = a.cell
       |  WHERE q.query_id <> c.vec_id),
       |ad AS (SELECT query_id, corpus_id, $adChain AS adist
       |  FROM sc GROUP BY 1, 2),
       |short AS (SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist, corpus_id) AS srn
       |    FROM ad) WHERE srn <= $kShort),
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
