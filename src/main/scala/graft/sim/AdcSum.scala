package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** ADC table-lookup sum Σ_i lut[i][codes[i]], compiled through
  * [[graft.Kernel]] — the per-(query, candidate) asymmetric-distance
  * read of the PQ scoring scan (s7 full-corpus, s8 probed-cells).
  *
  * Replaces `aggregate(zip_with(codes, lut, (c, row) =>
  * element_at(row, c + 1)), 0.0, _ + _)` — both HOFs are
  * CodegenFallback, so every (query, corpus) pair on the O(corpus ×
  * queries) hot path walked an interpreted zip/lambda/element_at tree
  * per subspace. The kernel is one constant-size loop at any m.
  *
  * Bit-parity with the HOF composition (pinned in CellAssignSpec):
  * left-to-right IEEE summation from +0.0 (each term is a
  * non-negative d2, so the seed cannot change the first partial sum),
  * and NULL whenever the HOF form was NULL — either input NULL, the
  * two lengths disagreeing (zip_with pads the short side with null →
  * null term → null sum), a null element on either side, or a code
  * outside its lut row (element_at's out-of-bounds null). */
object AdcSum {
  /** Column factory: (codes array<int>, lut array<array<double>>). */
  def apply(codes: Column, lut: Column): Column =
    graft.Kernel.call(this, "adcSum", DoubleType, Seq(codes, lut),
      Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType))))

  def adcSum(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val n = codes.numElements()
    if (lut.numElements() != n) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i) || lut.isNullAt(i)) return null
      val row = lut.getArray(i)
      val code = codes.getInt(i)
      if (code < 0 || code >= row.numElements() || row.isNullAt(code))
        return null
      sum += row.getDouble(code)
      i += 1
    }
    sum
  }
}
