package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Squared L2 over the first `len` elements of two `array<double>`
  * columns, compiled through [[graft.Kernel]] — the per-pair distance of
  * PQ encode and re-rank ([[Pq]]), SQ and IVF scoring ([[Sq]],
  * [[IvfSq]], [[IvfPq]], [[IvfAnn]]). [[sum]] is the one squared-distance
  * loop of the engine: [[graft.cluster.ArgminDist2]] and
  * [[CellAssign.topN]] run it per centroid.
  *
  * Replaces the `len`-term unrolled `element_at` Column tree
  * (`Σ_i (a[i] − b[i])²`): at large `len`, or many such trees in one
  * projection, that form overflowed janino's method limit (the
  * SqAdist2 failure at dims = 64; m16's 16 codegen fallbacks).
  * A loop is constant-size at any `len`.
  *
  * Parity with the unrolled form (pinned in KernelPathsSpec, and via
  * the encode/assign specs that compare against it):
  *  - left-to-right IEEE summation from +0.0; the first term is a
  *    square (never −0.0), so `0.0 + t1 == t1` bit for bit;
  *  - NULL when either array is NULL or any of the first `len`
  *    elements is NULL; elements past `len` are ignored;
  *  - an array shorter than `len` fails the query with an
  *    `ArrayIndexOutOfBoundsException`, as `element_at` does under ANSI
  *    (the Spark 4 default). A row that is both short and carries a
  *    null is not pinned: the unrolled form's answer there can depend
  *    on whether subexpression elimination hoists the later terms.
  */
object Dist2 {
  private val vec = ArrayType(DoubleType)

  /** Marks a null element in [[sum]]'s result: a real sum of squares is
    * never negative. */
  private[graft] final val NullD2 = -1.0

  /** `Σ_{i<len} (a[i] − b[i])²` column; `len` ≥ 1. */
  def apply(a: Column, b: Column, len: Int): Column = {
    require(len >= 1, s"dist2 length $len")
    graft.Kernel.call(this, "dist2", DoubleType, Seq(a, b, lit(len)),
      Seq(vec, vec, IntegerType))
  }

  def dist2(a: ArrayData, b: ArrayData, len: Int): java.lang.Double = {
    val short = math.min(a.numElements(), b.numElements())
    if (short < len) throw new ArrayIndexOutOfBoundsException(
      s"The index ${short + 1} is out of bounds. The array has $short elements.")
    val s = sum(a, b, len)
    if (s == NullD2) null else s
  }

  /** `Σ_{i<len} (v[i] − c[i])²` summed left to right from +0.0, or
    * [[NullD2]] when one of those elements is null. Both arrays hold at
    * least `len` elements. */
  private[graft] def sum(v: ArrayData, c: ArrayData, len: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < len) {
      if (v.isNullAt(i) || c.isNullAt(i)) return NullD2
      val d = v.getDouble(i) - c.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
}
