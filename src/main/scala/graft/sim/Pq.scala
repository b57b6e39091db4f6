package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TopK
import graft.text.TextOps
import graft.operators.Fixpoint

/** Product quantization for embedding columns — the compression half of
  * billion-scale ANN (IVF-PQ à la Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search"): vectors are split into
  * `m` subspaces, each subvector replaced by the id of its nearest
  * per-subspace centroid, and queries scored against CODES via an
  * asymmetric-distance lookup table (ADC) — O(m) table reads per
  * (query, doc) instead of O(D) multiplies, and the stored corpus
  * shrinks from D floats to m small ints per vector.
  *
  * Scale shape: the codebook is a bounded deterministic sample
  * (TakeOrderedAndProject over a portable md5-order — the
  * [[graft.operators.Sampling]] idiom, but engine-portable so the
  * oracle can rebuild it); encoding is one broadcast join of
  * m×nCentroids tiny rows against the corpus plus two map-side-collapsed
  * corpus-keyed aggregates; query scoring broadcasts the per-query LUT
  * (nQueries × m × nCentroids doubles) and scans codes once with a
  * per-query bounded heap ([[TopK.perKey]]). Nothing is ever all-pairs
  * in the original dimension.
  *
  * Determinism/oracle contract: centroid choice is md5-hash order (not
  * seeded KMeans — deliberately, so a second engine can reproduce the
  * codebook; recall is a few points below a trained codebook, PqSpec
  * pins the floor), every distance is a fixed-order fold over zip_with
  * (bit-equal to the oracle's list_reduce), and the m per-subspace
  * distances are summed in subspace order.
  */
object Pq {

  /** Fixed-order squared-L2 between equal-length double arrays (HOF
    * fold — for callers that don't know the length at plan time). */
  def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)

  private def subvectors(v: Column, m: Int, subLen: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      i => slice(v, i * subLen + 1, lit(subLen)))

  /** Per-subspace codebook `(sub, cid, cvec)`: centroids are the
    * subvectors of the `nCentroids` corpus vectors FIRST in md5-hash
    * order of their id (portable deterministic sample; cid = rank in
    * that order). */
  def codebook(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, subLen: Int, nCentroids: Int): DataFrame = {
    // the unpartitioned rank window below sees ≤ nCentroids rows (the
    // limit precedes it); this bound makes that invariant enforced, not
    // coincidental — a sketch-sized single-partition window is fine at
    // any corpus scale, an unbounded one never is (r18 VERDICT item 6)
    require(nCentroids <= 65536,
      s"nCentroids $nCentroids: codebook rank window is single-partition")
    val h = TextOps.hash60(col(idCol).cast("string"))
    corpus.orderBy(h, col(idCol)).limit(nCentroids)
      // window over the already-limited frame: nCentroids rows total
      .withColumn("cid",
        row_number().over(Window.orderBy(h, col(idCol))) - 1)
      .select(col("cid"),
        posexplode(subvectors(col(vecCol), m, subLen)))
      .select(col("pos").as("sub"), col("cid"), col("col").as("cvec"))
  }

  /** Corpus codes, wide: `(id, codes array<int> of length m)` —
    * codes(i) = argmin over centroids of dist2 in subspace i (ties to
    * the smallest cid).
    *
    * Round-21 MEASURED REJECTION of the CellAssign map-only form: the
    * m per-subspace ArgminDist2 kernels over a collapsed broadcast
    * codebook row make encode itself a pure projection (encode-alone
    * A/B 2.7 vs 3.7s — parity), but WITHOUT this aggregate barrier the
    * codes projection sits directly under the ADC scan's
    * nQueries-fan-out BroadcastNestedLoopJoin and gets re-evaluated
    * PER (query, corpus) PAIR, not once per corpus row — probed: the
    * ADC scan read 18.2s over projection-codes vs 1.65s over
    * aggregate-codes at sf0.1/32 cpus (s7 1.8 → 19s). The groupBy
    * boundary here is what pins codes to one evaluation per corpus
    * row; the two corpus-keyed Exchanges it costs carry one small-int
    * array per row and are map-side-collapsed. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: DataFrame, m: Int, subLen: Int): DataFrame =
    corpus
      .select(col(idCol), posexplode(subvectors(col(vecCol), m, subLen)))
      .select(col(idCol), col("pos").as("sub"), col("col").as("subv"))
      .join(broadcast(cb), "sub")
      .withColumn("d2", Dist2(col("subv"), col("cvec"), subLen))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("mn"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("mn.cid").as("c")))),
        x => x("c")).as("codes"))

  /** Per-query ADC lookup table `(query_id, lut)` with
    * lut(sub)(cid) = dist2(query subvector, centroid) — shared by
    * [[adcTopK]] (full-corpus scan) and [[IvfPq]] (cell-shortlisted
    * scan). */
  private[sim] def queryLut(corpus: DataFrame, idCol: String,
                            vecCol: String, queryPred: Column,
                            cb: DataFrame, m: Int, subLen: Int): DataFrame =
    corpus.filter(queryPred)
      .select(col(idCol).as("query_id"),
        posexplode(subvectors(col(vecCol), m, subLen)))
      .select(col("query_id"), col("pos").as("sub"), col("col").as("qsubv"))
      .join(broadcast(cb), "sub")
      .withColumn("qd2", Dist2(col("qsubv"), col("cvec"), subLen))
      .groupBy(col("query_id"), col("sub"))
      .agg(transform(
        array_sort(collect_list(struct(col("cid"), col("qd2").as("d")))),
        x => x("d")).as("row"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("row").as("r")))),
        x => x("r")).as("lut"))

  /** ADC top-k: score every corpus CODE row against each query's
    * lookup table and keep the k nearest by approximate distance
    * (ascending, ties by corpus id), self-pairs excluded. `dims` is
    * the uniform embedding length (schema contract — probing the data
    * for it would cost a corpus pass). Output:
    * (query_id, corpus_id, adist, rank). */
  def adcTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, m: Int,
              nCentroids: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subLen = dims / m
    // m × nCentroids tiny rows, read by BOTH the encode and LUT
    // branches — checkpoint so each branch doesn't re-run the corpus
    // sample (the Bpe reuse idiom)
    val cb = Fixpoint.cut(codebook(corpus, idCol, vecCol, m, subLen, nCentroids))
    val codes = encode(corpus, idCol, vecCol, cb, m, subLen)
      .select(col(idCol).as("corpus_id"), col("codes"))
    // per-query LUT: lut(sub)(cid) = dist2(query subvector, centroid)
    val lut = queryLut(corpus, idCol, vecCol, queryPred, cb, m, subLen)
    // one codes scan × broadcast queries; O(m) lookups per pair,
    // summed in subspace order (bit-parity with the oracle's
    // fixed-order sum) — as the compiled AdcSum loop (round-21): the
    // aggregate(zip_with(…element_at…)) HOF chain it replaces walked
    // an interpreted tree per pair on this O(corpus × queries) path
    val scored = codes
      .join(broadcast(lut), col("query_id") =!= col("corpus_id"))
      .withColumn("adist", AdcSum(col("codes"), col("lut")))
      .select(col("query_id"), col("corpus_id"), col("adist"))
    TopK.perKey(scored, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("adist")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("adist"), col("rank"))
  }

  /** ADC shortlist + EXACT re-rank — the standard PQ deployment: the
    * compressed scan keeps `kShort` candidates per query, then only
    * those (nQueries × kShort ids, broadcast back against the corpus)
    * are re-scored with the true squared-L2 and the final `k` kept.
    * Buys back most of the quantization's recall loss at the cost of
    * fetching kShort original vectors per query (PqSpec: 0.94 recall@5
    * here vs 0.4 without the re-rank at the same code budget).
    * Output: (query_id, corpus_id, d2, rank). */
  def rerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int, kShort: Int, m: Int,
                 nCentroids: Int, dims: Int): DataFrame = {
    val short = adcTopK(corpus, idCol, vecCol, queryPred, kShort, m,
      nCentroids, dims).select(col("query_id"), col("corpus_id"))
    val qv = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val exact = corpus.select(col(idCol).as("corpus_id"),
        col(vecCol).as("__cv"))
      .join(broadcast(short), "corpus_id")
      .join(broadcast(qv), "query_id")
      .withColumn("d2", Dist2(col("__qv"), col("__cv"), dims))
      .select(col("query_id"), col("corpus_id"), col("d2"))
    TopK.perKey(exact, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("d2")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("d2"), col("rank"))
  }

  /** DuckDB oracle for [[rerankTopK]] over the `embeddings` view: the
    * identical construction — md5-order codebook, per-subspace argmin
    * codes, FILTER-chained fixed-order ADC sum, shortlist, exact
    * re-rank — parameterized to match the Spark call site. */
  def rerankOracleSql(k: Int, kShort: Int, m: Int, nCentroids: Int,
                      dims: Int, queryPredSql: String): String = {
    // same guard as adcTopK: a caller pairing this oracle with
    // mismatched params must fail fast, not silently truncate slices
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subLen = dims / m
    // left-assoc chain == Spark's fold order over sub = 0..m-1
    val adChain = (0 until m)
      .map(i => s"max(qd2) FILTER (sub = $i)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings),
       |hs AS (SELECT vec_id, v,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
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
       |  FROM codes c JOIN qd q ON q.sub = c.sub AND q.cid = c.code
       |  WHERE q.query_id <> c.vec_id),
       |ad AS (SELECT query_id, corpus_id, $adChain AS adist
       |  FROM sc GROUP BY 1, 2),
       |short AS (SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist, corpus_id) AS srn
       |    FROM ad) WHERE srn <= $kShort),
       |ex AS (SELECT s.query_id, s.corpus_id,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(q.v) + 1),
       |        i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))),
       |      (acc, x) -> acc + x) AS d2
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
