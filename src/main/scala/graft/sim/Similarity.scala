package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (BASELINE.json scale extensions):
  * brute-force cosine top-k as the exact baseline, and a
  * sign-hyperplane LSH-bucketed variant as the scale path.
  *
  * 100 TB design: the query side is always the small side — broadcast
  * it; the corpus scans once. Top-k is a bounded per-key heap aggregate
  * ([[graft.operators.TopKAgg]]) with map-side partial combine — never
  * a window sort of the full candidate set, never a global sort. The
  * LSH variant shrinks the candidate set to one bucket per query
  * (probes can be added by unioning neighbor buckets).
  */
object Similarity {

  /** Left-to-right fold dot product — bit-reproducible across engines.
    * Runs the compiled [[DotProduct]] kernel; DotProductSpec pins it
    * bit for bit against the `zip_with` + `aggregate` composition. */
  def dot(x: Column, y: Column): Column = DotProduct(x, y)

  /** Cosine similarity of two raw double-array columns. Prefer
    * pre-normalizing with [[withNormalized]] when one side is reused
    * across many pairs — the norms are then computed once per vector
    * instead of once per pair. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(sqrt(dot(a, a)), lit(0.0)) / nullif(sqrt(dot(b, b)), lit(0.0))

  /** Append `outCol` = vec / ‖vec‖ (norm computed once per row; a
    * zero vector normalizes to nulls rather than an ANSI abort).
    * Evaluates through the compiled [[NormalizeVec]] kernel
    * (round-21): the `transform(v, e => e / nrm)` it replaces walked
    * an interpreted divide tree per element per corpus row. */
  def withNormalized(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, NormalizeVec(col(vecCol)))

  /** Exact brute-force top-k: for each query row, the k most-cosine-similar
    * corpus rows (self excluded). Queries are broadcast; both sides are
    * pre-normalized so each pair costs one fused dot product.
    *
    * Top-k via [[graft.operators.TopK.perKey]] (bounded map-side heaps),
    * NOT a `row_number` window: the window form would shuffle the whole
    * scored corpus × queries candidate set to sort it per query — the
    * heap form ships ≤ k rows per query per mapper through the exchange,
    * which is the difference between O(corpus) and O(k) shuffle volume
    * per query at 100 TB. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = withNormalized(corpus, vecCol, "__cv")
      .select(col(idCol).as("corpus_id"), col("__cv"))
    val q = withNormalized(queries, vecCol, "__qv")
      .select(col(idCol).as("query_id"), col("__qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("cos", dot(col("__qv"), col("__cv")))
      .select(col("query_id"), col("corpus_id"), col("cos"))
    graft.operators.TopK.perKey(scored, Seq("query_id"),
        Seq(graft.operators.TopK.descNullsLast(col("cos")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Smallest sign-bucket width b in [4, 16] whose 2^b cells hold the
    * average occupancy at ≤ `targetCell` vectors (round-18): the
    * widenFactor lesson applied to hyperplane LSH. A FIXED width
    * under-buckets as the corpus grows — measured at the sf3d decade,
    * d5's pinned 4 bits left ~1.3k vectors per (label, cell) at 200k
    * vectors and the candidate stage went near-linear-in-n per decade;
    * deriving b from the count keeps Σ_cell |cell|² bounded at any
    * corpus size. Integer-only and replayable as a count-guarded CASE
    * ladder in SQL (the mm12 w-switch idiom), so the derivation itself
    * sits under the d20 hash gate. Capped at 16: past that,
    * axis-aligned sign bits stop being independent enough and the
    * right move is IVF (s7/s17), not more hyperplanes. */
  def adaptiveBits(n: Long, targetCell: Long = 64L, maxBits: Int = 16): Int = {
    var b = 4
    while (b < maxBits && (1L << b) * targetCell < n) b += 1
    b
  }

  /** Sign-hyperplane LSH bucket id from the first `nBits` dimensions:
    * bit i set iff vec[i] >= 0. (Axis-aligned hyperplanes — deterministic
    * and engine-portable; random rotations would need a seed table.) */
  def signBucket(vec: Column, nBits: Int): Column =
    (0 until nBits).map(i =>
      when(element_at(vec, i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Embedding near-dup candidate pairs with BOUNDED fan-out: pairs are
    * enumerated only inside (label, sign-bucket) cells, with Hamming-1
    * multi-probe on the pair's lower-id side (a near-identical vector
    * pair differs in at most ~1 boundary sign bit, and both engines of
    * the oracle apply the same bucketing, so the contract stays
    * hash-checkable). Replaces the label-blocked ALL-pairs join: a hot
    * label's pair count drops from |label|² to Σ_cell |cell|²×(nBits+1),
    * and nBits scales with the corpus (cells ≈ corpus / target cell
    * size) — the same knob an IVF index turns.
    *
    * Each unordered pair appears EXACTLY once: the probe list of the
    * lower id contains nBits+1 distinct buckets, so at most one matches
    * the higher id's bucket, and `id_a < id_b` kills the mirror row.
    *
    * Output: (label, id_a, id_b, cos) for every candidate pair — feed a
    * threshold filter or a global top-N (TakeOrderedAndProject) next. */
  def nearDupPairs(df: DataFrame, labelCol: String, idCol: String,
                   vecCol: String, nBits: Int): DataFrame = {
    // persisted: probe side + corpus side of the self-join below;
    // tracked so PersistRegistry.clear can release it
    val e = graft.io.PersistRegistry.trackPersist(
      withNormalized(df, vecCol, "__nv")
        .select(col(labelCol).as("label"), col(idCol).as("__id"), col("__nv"),
          signBucket(col(vecCol), nBits).as("__b0")))
    val a = e
      .withColumn("__probe", explode(array(col("__b0") +: (0 until nBits).map(i =>
        col("__b0").bitwiseXOR(lit(1 << i))): _*)))
      .select(col("label"), col("__id").as("id_a"), col("__nv").as("__va"),
        col("__probe"))
    val b = e.select(col("label"), col("__id").as("id_b"),
      col("__nv").as("__vb"), col("__b0").as("__probe"))
    a.join(b, Seq("label", "__probe"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("__va"), col("__vb")))
      .select(col("label"), col("id_a"), col("id_b"), col("cos"))
  }

  /** ANN top-k: candidates restricted to the query's sign bucket —
    * plus, with `probeHamming1`, every bucket one bit-flip away
    * (standard multi-probe LSH: recall rises from scanning (nBits+1)/2^nBits
    * of the corpus instead of 1/2^nBits, still a bounded candidate set).
    * The probe fan-out happens on the (small, broadcast) QUERY side; the
    * corpus is still bucketed once. */
  /** Hard-negative mining for contrastive training: per query, the
    * MOST similar same-LSH-bucket vectors that are still below the
    * positive/near-dup band (`cos < maxCos`) — exactly the negatives
    * an embedding trainer wants (easy negatives teach nothing;
    * above-band candidates are probable positives and would poison
    * the loss). Same bounded candidate generation as [[annTopK]]
    * (one corpus bucketing, broadcast queries, per-query bounded
    * heap); the band filter runs before the heap so k survivors are
    * all valid negatives. Output: (query_id, corpus_id, cos, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nBits: Int,
                    maxCos: Double): DataFrame = {
    val c = withNormalized(corpus, vecCol, "__cv")
      .select(col(idCol).as("corpus_id"), col("__cv"),
        signBucket(col(vecCol), nBits).as("__bucket"))
    val q = withNormalized(queries, vecCol, "__qv")
      .select(col(idCol).as("query_id"), col("__qv"),
        signBucket(col(vecCol), nBits).as("__bucket"))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", dot(col("__qv"), col("__cv")))
      .filter(col("cos") < lit(maxCos))
      .select(col("query_id"), col("corpus_id"), col("cos"))
    graft.operators.TopK.perKey(scored, Seq("query_id"),
        Seq(graft.operators.TopK.descNullsLast(col("cos")), col("corpus_id")), k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nBits: Int,
              probeHamming1: Boolean = false): DataFrame = {
    val c = withNormalized(corpus, vecCol, "__cv")
      .select(col(idCol).as("corpus_id"), col("__cv"),
        signBucket(col(vecCol), nBits).as("__bucket"))
    val qBase = withNormalized(queries, vecCol, "__qv")
      .select(col(idCol).as("query_id"), col("__qv"),
        signBucket(col(vecCol), nBits).as("__b0"))
    val q =
      if (!probeHamming1) qBase.withColumn("__bucket", col("__b0")).drop("__b0")
      else qBase.withColumn("__bucket",
          explode(array(col("__b0") +: (0 until nBits).map(i =>
            col("__b0").bitwiseXOR(lit(1 << i))): _*)))
        .drop("__b0")
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", dot(col("__qv"), col("__cv")))
      .select(col("query_id"), col("__bucket"), col("corpus_id"), col("cos"))
    // bounded heaps, not a window — see cosineTopK
    graft.operators.TopK.perKey(scored, Seq("query_id"),
        Seq(graft.operators.TopK.descNullsLast(col("cos")), col("corpus_id")), k)
      .select(col("query_id"), col("__bucket").as("bucket"), col("corpus_id"),
        col("cos"), col("rank"))
  }
}
