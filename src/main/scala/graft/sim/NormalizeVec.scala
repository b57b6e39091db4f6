package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Per-row L2 normalization `v / ‖v‖`, compiled through
  * [[graft.Kernel]] — the shared pre-normalization of every cosine
  * operator ([[Similarity.withNormalized]]: s1/s3/s13/s16/s17 ANN
  * ranking, the d14 SemDedup pair stage, the d5/d20/st30 embedding
  * near-dup tiers).
  *
  * Replaces the composition `nullif(sqrt(dot(v, v)), 0.0)` +
  * `transform(v, e => e / nrm)`: `ArrayTransform` is CodegenFallback,
  * so every corpus row walked an interpreted divide tree per element.
  * The kernel is one loop per row, norm and divisions fused.
  *
  * Bit-parity with the composition (pinned in CellAssignSpec):
  *  - ‖v‖ = sqrt of the left-to-right IEEE sum of squares from +0.0
  *    (DotProduct's fold — the seed cannot change the first partial
  *    sum since every term is a square);
  *  - out(i) = v(i) / ‖v‖, the same IEEE division;
  *  - a NULL vector yields NULL; a zero-norm vector (nullif) or one
  *    carrying a NULL element (null dot) yields an all-NULL element
  *    array of the same length — exactly what `e / NULL` produced per
  *    element; an empty vector yields the empty array. */
object NormalizeVec {
  /** `v / ‖v‖` column over an `array<double>` column. */
  def apply(v: Column): Column =
    graft.Kernel.call(this, "normalize",
      ArrayType(DoubleType, containsNull = true), Seq(v),
      Seq(ArrayType(DoubleType)), nullOut = false)

  def normalize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var sum = 0.0
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) {
      if (v.isNullAt(i)) anyNull = true
      else { val e = v.getDouble(i); sum += e * e }
      i += 1
    }
    val out = new Array[Any](n)
    if (!anyNull && sum != 0.0) {
      val nrm = math.sqrt(sum)
      var j = 0
      while (j < n) { out(j) = v.getDouble(j) / nrm; j += 1 }
    }
    // anyNull or zero norm: all-null elements, the e / NULL contract
    new GenericArrayData(out)
  }
}
