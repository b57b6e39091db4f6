package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.TopK
import graft.operators.Fixpoint

/** Scalar quantization for embedding columns — the third compression
  * tier next to sign-LSH (s2) and product quantization (s7/s8): each
  * dimension is independently quantized to one of `levels` uniform
  * cells between the corpus-wide per-dimension min and max, so a
  * D-float vector becomes D small codes (with `levels` = 256 the
  * classic "int8 embedding" layout — parquet's RLE/bit-packing stores
  * the ≤255 codes in one byte each, a 4× scan-bandwidth cut vs float32
  * with NO codebook to train or broadcast beyond 2·D doubles).
  *
  * Where PQ owns the billion-scale regime (m table lookups per pair),
  * SQ is what production vector stores run when recall must stay near
  * exact: the asymmetric distance (true query floats vs reconstructed
  * cell centers) is a full D-term sum, but each corpus byte decodes
  * with two FMAs and the shortlist + exact re-rank erases the residual
  * quantization error exactly as in [[Pq.rerankTopK]].
  *
  * Scale shape: fit = ONE dimension-keyed aggregate (min/max per
  * dimension, map-side combined to dims×partitions rows); the 1-row
  * stats frame rides the `crossJoin(broadcast(…))` scalar idiom;
  * encode and scoring are narrow per-row arithmetic over ONE corpus
  * scan with a per-query bounded heap. Nothing shuffles the vectors
  * themselves.
  *
  * Determinism/oracle contract: cell assignment is
  * `floor((v_d − min_d) / step_d)` — identical IEEE-double arithmetic
  * on both engines — and every distance is a left-associated sum of
  * non-negative terms, bit-equal to the oracle's `list_reduce` fold
  * (the [[Dist2]] argument). Ranks tie-break on corpus id.
  */
object Sq {

  /** One-row per-dimension stats frame `(vmins, steps)`, each an
    * array of length `dims`: steps(d) = (max_d − min_d) / levels.
    * A constant dimension yields step 0, which [[codeAt]] guards to
    * code 0 on both engines (it reconstructs at min_d and contributes
    * the same fixed offset to every asymmetric distance — ranks are
    * unaffected, exactly the right degenerate behavior). */
  def fit(corpus: DataFrame, vecCol: String, dims: Int,
          levels: Int): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"),
          col("vmin").as("m")))), s => s("m")).as("vmins"),
        transform(array_sort(collect_list(struct(col("pos"),
          ((col("vmax") - col("vmin")) / lit(levels)).as("s")))),
          s => s("s")).as("steps"))

  /** Per-dimension code: clamp(floor((v_d − min_d)/step_d), levels−1).
    * v_d = min_d maps to 0 and v_d = max_d to `levels` before the
    * clamp, so codes span [0, levels−1]. A CONSTANT dimension
    * (step = 0) codes to 0 explicitly on both engines (round-11 advice
    * fix: 0/0 is NaN, and NaN through floor/least silently corrupts
    * distances rather than failing — the guard makes the degenerate
    * dimension contribute a fixed reconstruction instead). */
  private def codeAt(v: Column, vm: Column, st: Column, i: Int,
                     levels: Int): Column =
    when(element_at(st, i) === 0, lit(0L))
      .otherwise(least(
        floor((element_at(v, i) - element_at(vm, i)) / element_at(st, i)),
        lit((levels - 1).toLong)))
      .cast("int")

  /** Corpus codes, wide: `(id, codes array<int> of length dims)` —
    * stats attached via the 1-row broadcast idiom. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             stats: DataFrame, dims: Int, levels: Int): DataFrame =
    corpus.crossJoin(broadcast(stats))
      .select(col(idCol), array((1 to dims).map(i =>
        codeAt(col(vecCol), col("vmins"), col("steps"), i, levels)): _*)
        .as("codes"))

  /** Asymmetric squared-L2: query floats vs reconstructed cell centers
    * (min_d + (code_d + 0.5)·step_d), as the codegen'd-LOOP expression
    * [[SqAdist2]] — round 12: the round-11 per-dimension UNROLLED tree
    * overflowed janino's method limit at dims = 64 and silently fell
    * back to interpreted execution (BENCH_r11's stack-trace mystery).
    * Left-assoc sum of non-negative terms == the oracle's fold,
    * bit-equal to the unrolled form (SqAdistSpec). */
  private def adist2(qv: Column, codes: Column, vm: Column, st: Column,
                     dims: Int): Column =
    SqAdist2(qv, codes, vm, st, dims)

  /** SQ shortlist + exact re-rank (the [[Pq.rerankTopK]] deployment
    * shape): one codes scan × broadcast queries keeps `kShort`
    * candidates per query by asymmetric distance, then only those are
    * re-scored with true squared-L2 and the final `k` kept.
    * Self-pairs excluded. Output: (query_id, corpus_id, d2, rank). */
  def rerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int, kShort: Int, dims: Int,
                 levels: Int): DataFrame = {
    val stats = Fixpoint.cut(fit(corpus, vecCol, dims, levels))
    val codes = encode(corpus, idCol, vecCol, stats, dims, levels)
      .select(col(idCol).as("corpus_id"), col("codes"))
    val qv = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = codes
      .crossJoin(broadcast(stats))
      .join(broadcast(qv), col("query_id") =!= col("corpus_id"))
      .withColumn("adist", adist2(col("__qv"), col("codes"),
        col("vmins"), col("steps"), dims))
      .select(col("query_id"), col("corpus_id"), col("adist"))
    val short = TopK.perKey(scored, Seq("query_id"),
        Seq(TopK.ascNullsLast(col("adist")), col("corpus_id")), kShort)
      .select(col("query_id"), col("corpus_id"))
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
    * identical construction — per-dimension min/step, floor-cell
    * codes, fixed-order asymmetric fold, shortlist, exact re-rank. */
  def oracleSql(k: Int, kShort: Int, dims: Int, levels: Int,
                queryPredSql: String): String = {
    val lv1 = levels - 1
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings),
       |st AS (SELECT i, min(v[i]) AS vmin,
       |    (max(v[i]) - min(v[i])) / $levels AS step
       |  FROM e, range(1, ${dims + 1}) t(i) GROUP BY 1),
       |sa AS (SELECT list(vmin ORDER BY i) AS vm,
       |    list(step ORDER BY i) AS stp FROM st),
       |codes AS (SELECT vec_id,
       |    list_transform(range(1, ${dims + 1}),
       |      i -> CAST(CASE WHEN stp[i] = 0 THEN 0
       |        ELSE least(floor((v[i] - vm[i]) / stp[i]), $lv1) END
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
       |  FROM q, codes c, sa WHERE q.query_id <> c.vec_id),
       |short AS (SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist, corpus_id) AS srn
       |    FROM sc) WHERE srn <= $kShort),
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
