package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Per-row dot product over two `array<double>` columns — the inner
  * loop of every similarity operator (s1/s2/s3 top-k, d5 embedding
  * near-dup), compiled through [[graft.Kernel]].
  *
  * Replaces the `aggregate(zip_with(a, b, *), 0.0, +)` higher-order
  * composition: HOFs are CodegenFallback (each pair walks an
  * interpreted lambda per element AND allocates the zipped
  * intermediate array), which breaks the surrounding WholeStageCodegen
  * span right at the O(corpus × queries × dim) hot spot. The kernel is
  * one primitive loop: no allocation, no per-element lambda.
  *
  * Semantics are bit-identical to the HOF form (asserted in
  * DotProductSpec): left-to-right IEEE summation from +0.0, NULL if
  * either array is NULL, if the lengths differ (zip_with pads with
  * null), or if any element is NULL.
  */
object DotProduct {
  private val vec = ArrayType(DoubleType)

  /** Column factory mirroring [[Similarity.dot]]. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      expr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The same call over expressions (the `graft_dot` SQL builder). */
  def expr(a: Expression, b: Expression): Expression =
    graft.Kernel.expr(this, "dot", DoubleType, Seq(a, b), Seq(vec, vec))

  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      sum += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    sum
  }
}
