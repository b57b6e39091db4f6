package graft.cluster

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.sim.Dist2

/** Nearest-centroid argmin over `dims` dimensions as ONE compiled
  * per-row kernel ([[graft.Kernel]]) — the map-only form of Lloyd's
  * assign step.
  *
  * Arguments: the corpus vector (`array<double>`) and the centroid
  * table collapsed into a single broadcast row:
  * `array<struct<cid int, cvec array<double>>>`, sorted ascending by
  * cid. Returns `struct(cid, d2)` — the centroid with the minimum
  * squared distance, ties to the SMALLEST cid.
  *
  * Why a kernel and not composition: the explode + groupBy(id) argmin
  * this replaces re-shuffles the whole k×-exploded corpus once per
  * Lloyd round, and the round-20 attempt to unroll k·dims subtraction
  * terms into one projection overflowed janino's method limit (16
  * codegen fallbacks, 7.2 s → 18.3 s — see the measured note in
  * [[PortableKMeans.assign]]). A loop is constant-size regardless of
  * k·dims, keeps whole-stage codegen intact, and makes assign a pure
  * projection: zero corpus shuffles per round.
  *
  * Bit-parity with the aggregate form it replaces
  * (`min(struct(dist2(v, cvec, dims), cid))`), pinned in
  * PortableMlSpec:
  *  - d2 is [[Dist2.sum]], the same left-to-right fold from +0.0 as the
  *    `Dist2` kernel and the unrolled term sum before it;
  *  - candidates are visited in ascending-cid order with a strict
  *    `Double.compare < 0` replacement rule — the first minimum wins,
  *    exactly the lexicographic `min(struct(d2, cid))` winner (d2 is a
  *    non-negative sum, so the −0.0/NaN corners of double ordering are
  *    unreachable);
  *  - a centroid shorter than `dims` (or carrying a null element)
  *    would have produced a null d2 — here it is skipped (null d2 loses
  *    every `min`); a vector shorter than `dims`, or one whose every
  *    candidate is skipped, yields null, as the all-null aggregate did.
  */
object ArgminDist2 {
  private[graft] val centsType: DataType = ArrayType(StructType(Seq(
    StructField("cid", IntegerType), StructField("cvec", ArrayType(DoubleType)))))

  /** Column factory: `argmin(v, cents)` with `cents` the sorted
    * single-row centroid array — see the object doc. */
  def apply(v: Column, cents: Column, dims: Int): Column =
    graft.Kernel.call(this, "argmin",
      StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("d2", DoubleType, nullable = false))),
      Seq(v, cents, lit(dims)),
      Seq(ArrayType(DoubleType), centsType, IntegerType))

  def argmin(v: ArrayData, cents: ArrayData, dims: Int): InternalRow = {
    if (v.numElements() < dims) return null
    var best = -1
    var bestD = 0.0
    var found = false
    var j = 0
    val k = cents.numElements()
    while (j < k) {
      if (!cents.isNullAt(j)) {
        val cr = cents.getStruct(j, 2)
        val cv = cr.getArray(1)
        if (cv.numElements() >= dims) {
          val s = Dist2.sum(v, cv, dims)
          if (s != Dist2.NullD2 &&
              (!found || java.lang.Double.compare(s, bestD) < 0)) {
            found = true; bestD = s; best = cr.getInt(0)
          }
        }
      }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](best, bestD))
  }
}
