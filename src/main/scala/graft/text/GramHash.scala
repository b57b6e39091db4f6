package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Per-row n-gram hash kernel ([[graft.Kernel]]): token array →
  * `array<long>` of `hash60(concat_ws(" ", tok_i … tok_{i+n−1}))` for
  * every position, in order, duplicates KEPT — the positional-anchor
  * build of the span (d15) and content-defined-chunk (d12) dedup
  * pipelines.
  *
  * Replaces the higher-order composition
  * `when(size(ts) >= n, transform(sequence(1, size−n+1),
  * i => hash60(concat_ws(" ", ts[i]…ts[i+n−1])))).otherwise([])` —
  * `ArrayTransform` is CodegenFallback, so every gram of every document
  * walked an interpreted concat+md5+conv expression tree per position.
  * The kernel is one loop per row.
  *
  * Bit-exact parity with the built-in composition (pinned in
  * ShingleMinHashSpec's sibling test + the d12/d15 oracle hashes):
  *  - gram text  = concat_ws(" ", …) — null tokens skipped (never
  *    produced by split(), mirrored for exactness);
  *  - hash60     = first 15 lowercase-hex chars of md5(utf8 bytes)
  *    parsed base-16 (< 2^60, the TextOps.hash60 contract);
  *  - `size(ts) < n` AND `ts` NULL both yield the EMPTY array — the
  *    `when`'s otherwise-branch caught both cases in the HOF form.
  */
object GramHash {
  /** `array<long>` gram-hash column over a token-array column. */
  def apply(toks: Column, n: Int): Column = {
    require(n >= 1)
    graft.Kernel.call(this, "gramHash",
      ArrayType(LongType, containsNull = false), Seq(toks, lit(n)),
      Seq(ArrayType(StringType), IntegerType), nullIn = false, nullOut = false)
  }

  private val empty = new GenericArrayData(new Array[Long](0))

  def gramHash(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null) return empty
    val len = toks.numElements()
    if (len < n) return empty
    val out = new Array[Long](len - n + 1)
    val md = ShingleMinHash.digest.get()
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder(64)
      var j = 0
      var first = true
      while (j < n) {
        if (!toks.isNullAt(i + j)) { // concat_ws skips nulls
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(i + j).toString)
          first = false
        }
        j += 1
      }
      md.reset()
      val hex = ShingleMinHash.hex15(md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      out(i) = java.lang.Long.parseLong(hex, 16)
      i += 1
    }
    new GenericArrayData(out)
  }
}
