package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cluster.ArgminDist2

/** Map-only nearest-cell assignment over a bounded centroid table —
  * the [[graft.cluster.ArgminDist2]] (round-21, m16) treatment applied
  * to the IVF / SemDedup assign stages (s3/s8/s12/s16/s17, d14 family,
  * mm4): the `crossJoin(broadcast(cells)) → dist2 → groupBy(id) →
  * min(struct(d2, cell))` composition explodes the corpus ×nCells and
  * pays a corpus-keyed Exchange per assignment; collapsing the
  * (bounded, ≤65536-row — the coarseCells contract) centroid table
  * into ONE broadcast row and evaluating the argmin as a compiled
  * per-row kernel ([[graft.Kernel]]) makes assignment a pure
  * projection: zero corpus shuffles, same winner.
  *
  * Bit-parity with the aggregate form (the ArgminDist2 scaladoc
  * argument, pinned in CellAssignSpec on real embeddings): candidates
  * visited in ascending-cid order (collapse sorts by cid) with strict
  * `<` replacement ≡ lexicographic `min(struct(d2, cid))`; d2 is
  * [[Dist2.sum]], the left-to-right fold from +0.0 of the [[Dist2]]
  * kernel and of the unrolled term sum before it (first term a square,
  * never −0.0).
  */
object CellAssign {

  /** Collapse a bounded centroid table into ONE row holding
    * `outCol` = `array<struct<cid int, cvec array<double>>>` sorted
    * ascending by cid — the broadcast shape [[nearest]] and [[topN]]
    * consume. The single-partition aggregate sees
    * only the (≤65536-row) centroid table, never the corpus. */
  def collapse(cells: DataFrame, cellCol: String, vecCol: String,
               outCol: String = "__cents"): DataFrame =
    cells.agg(sort_array(collect_list(struct(
      col(cellCol).cast("int").as("cid"), col(vecCol).as("cvec")))).as(outCol))

  /** `struct(cid, d2)` of the nearest centroid (ties to the smallest
    * cid) — see [[ArgminDist2]]. */
  def nearest(v: Column, cents: Column, dims: Int): Column =
    ArgminDist2(v, cents, dims)

  /** `array<int>` of the `n` nearest centroid ids ordered by
    * (d2, cid) ascending — the map-only form of the bounded
    * `row_number().over(Window.partitionBy(id).orderBy(d2, cid))
    * .filter(rank <= n)` probe/routing idiom, as one compiled
    * insertion loop per row. Fewer than `n` candidates yield them
    * all; a null or unusable vector (shorter than `dims` —
    * unreachable for the fixed-dims embedding tables) yields the empty
    * array.
    *
    * Tie/skip semantics match [[ArgminDist2]]: ascending-cid visit
    * with strict lexicographic displacement (an equal-d2 later cid
    * never displaces an earlier one — the window's (d2, cid) order),
    * and a centroid with a short/null-element vector is skipped (its
    * d2 would have been null). */
  def topN(v: Column, cents: Column, dims: Int, n: Int): Column = {
    require(dims >= 1 && n >= 1)
    graft.Kernel.call(this, "argTopN",
      ArrayType(IntegerType, containsNull = false),
      Seq(v, cents, lit(dims), lit(n)),
      Seq(ArrayType(DoubleType), ArgminDist2.centsType, IntegerType, IntegerType),
      nullIn = false, nullOut = false)
  }

  private val noCells = new GenericArrayData(new Array[Int](0))

  def argTopN(v: ArrayData, cents: ArrayData, dims: Int, n: Int): ArrayData = {
    if (v == null || cents == null || v.numElements() < dims) return noCells
    val k = cents.numElements()
    val bestD = new Array[Double](n)
    val bestC = new Array[Int](n)
    var count = 0
    var j = 0
    while (j < k) {
      if (!cents.isNullAt(j)) {
        val cr = cents.getStruct(j, 2)
        val cv = cr.getArray(1)
        if (cv.numElements() >= dims) {
          val s = Dist2.sum(v, cv, dims)
          if (s != Dist2.NullD2) {
            val c = cr.getInt(0)
            // insertion position: strictly after every kept entry with
            // (d2, cid) <= (s, c) — cids ascend, so ties keep the
            // earlier cid, the window's lexicographic order
            var p = count
            while (p > 0 && java.lang.Double.compare(s, bestD(p - 1)) < 0) p -= 1
            if (p < n) {
              val last = math.min(count, n - 1)
              var q = last
              while (q > p) {
                bestD(q) = bestD(q - 1); bestC(q) = bestC(q - 1); q -= 1
              }
              bestD(p) = s; bestC(p) = c
              if (count < n) count += 1
            }
          }
        }
      }
      j += 1
    }
    if (count == 0) noCells
    else new GenericArrayData(java.util.Arrays.copyOf(bestC, count))
  }
}
