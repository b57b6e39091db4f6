package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-only bridge into `private[sim]` Pq internals (CellAssignSpec
  * lives in package graft). */
object PqTestAccess {
  def queryLut(corpus: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, cb: DataFrame, m: Int,
               subLen: Int): DataFrame =
    Pq.queryLut(corpus, idCol, vecCol, queryPred, cb, m, subLen)
}

/** The built-in compositions the compiled kernels replaced, kept as the
  * bit-parity references of the kernel specs. None runs on a query
  * path. */
object ReferenceForms {

  /** `zip_with` product + `aggregate` sum — [[DotProduct]]'s reference. */
  def dotHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, z) => acc + z)

  /** `nullif(sqrt(dot))` + `transform` — [[NormalizeVec]]'s reference. */
  def withNormalizedHof(df: DataFrame, vecCol: String,
                        outCol: String): DataFrame =
    df.withColumn("__nrm",
        nullif(sqrt(DotProduct(col(vecCol), col(vecCol))), lit(0.0)))
      .withColumn(outCol, transform(col(vecCol), e => e / col("__nrm")))
      .drop("__nrm")

  /** `transform(sequence)` + `concat_ws` — [[graft.text.NGrams]]'s
    * reference. */
  def ngramsHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** The `len`-term unrolled `element_at` sum — [[Dist2]]'s reference
    * and the distance of the aggregate argmin forms [[CellAssign]]
    * replaced. */
  def dist2Unrolled(a: Column, b: Column, len: Int): Column =
    (1 to len).map { i =>
      val d = element_at(a, i) - element_at(b, i)
      d * d
    }.reduce(_ + _)
}
