package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** SQ asymmetric squared-L2, compiled through [[graft.Kernel]]: query
  * floats vs reconstructed scalar-quantization cell centers,
  * Σ_i (qv[i] − (vm[i] + (codes[i] + 0.5)·st[i]))².
  *
  * Replaces the per-dimension UNROLLED Column tree [[Sq]] round 11
  * shipped: at dims = 64 that tree is ~1300 expression nodes (every
  * `element_at` carries its own null/bounds checks in generated code),
  * which pushed the generated `processNext()` past janino's method
  * limit — BENCH_r11's unattributed `InternalCompilerException` stack
  * trace was exactly this expression failing to compile and the whole
  * stage silently falling back to interpreted execution on the
  * O(corpus × queries) hot path. A loop is the correct shape at ANY
  * dimensionality: constant code size, and the surrounding
  * WholeStageCodegen span stays compiled.
  *
  * Semantics are bit-identical to the unrolled form (SqAdistSpec
  * asserts it): left-to-right IEEE summation from +0.0 (every term is
  * a square, so the +0.0 seed cannot change the first partial sum),
  * `(double)(code + 0.5)` widening exactly as `element_at(codes, i) +
  * lit(0.5)` widened, NULL if any array is NULL, any element is NULL,
  * the four lengths disagree, or (when `expectedDims` ≥ 0) the length
  * differs from the declared dimensionality — the unrolled form's
  * out-of-bounds-null contract, restored for consistently-mis-sized
  * vectors (round-13 ADVICE fix).
  */
object SqAdist2 {
  private val vec = ArrayType(DoubleType)

  /** Column factory: (query vec, codes, per-dim mins, per-dim steps).
    * `expectedDims` ≥ 0 additionally nulls any row whose arrays are not
    * exactly that long (the declared-dimensionality contract). */
  def apply(qv: Column, codes: Column, vm: Column, st: Column,
            expectedDims: Int = -1): Column =
    graft.Kernel.call(this, "sqAdist2", DoubleType,
      Seq(qv, codes, vm, st, lit(expectedDims)),
      Seq(vec, ArrayType(IntegerType), vec, vec, IntegerType))

  def sqAdist2(qv: ArrayData, cd: ArrayData, vm: ArrayData, st: ArrayData,
               expectedDims: Int): java.lang.Double = {
    val n = qv.numElements()
    if (cd.numElements() != n || vm.numElements() != n ||
        st.numElements() != n) return null
    // vectors CONSISTENTLY shorter/longer than the configured dims
    // would otherwise produce a distance where the round-11 unrolled
    // element_at tree surfaced the mismatch as null
    if (expectedDims >= 0 && n != expectedDims) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (qv.isNullAt(i) || cd.isNullAt(i) || vm.isNullAt(i) ||
          st.isNullAt(i)) return null
      val d = qv.getDouble(i) -
        (vm.getDouble(i) + (cd.getInt(i) + 0.5) * st.getDouble(i))
      sum += d * d
      i += 1
    }
    sum
  }
}
