package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row word n-gram kernel ([[graft.Kernel]]): token array →
  * `array<string>` of `concat_ws(" ", tok_i … tok_{i+n−1})` for every
  * position, in order, duplicates KEPT — the string-emitting sibling of
  * [[GramHash]]: the gram TEXT itself is the group/join key of the
  * heavy-hitter (hh1/st21), repetition (t14), bigram-LM (t21) and
  * n-gram-Jaccard (d4) paths, and `array_distinct(…)` of it is the
  * shingle set of the whole MinHash dedup family, so those callers
  * cannot take the hash-emitting kernel.
  *
  * Replaces the higher-order composition
  * `when(size(ts) >= n, transform(sequence(0, size−n),
  * i => concat_ws(" ", ts[i+1]…ts[i+n]))).otherwise([])` —
  * `ArrayTransform` is CodegenFallback, so every gram of every document
  * walked an interpreted concat tree per position AND dropped the whole
  * enclosing projection out of whole-stage codegen. The kernel is one
  * loop per row building each gram with `UTF8String.concatWs`
  * (byte-level, no String round-trip).
  *
  * Bit-exact parity with the built-in composition (pinned in
  * ShingleMinHashSpec's sibling test + the t14/hh1/d4 oracle hashes):
  *  - gram text = concat_ws(" ", …) — null tokens skipped (never
  *    produced by split(), mirrored for exactness; `UTF8String.concatWs`
  *    skips null inputs identically);
  *  - `size(ts) < n` AND `ts` NULL both yield the EMPTY array — the
  *    `when`'s otherwise-branch caught both cases in the HOF form
  *    (size(NULL) is NULL, which fails the `>= n` predicate).
  */
object NGrams {
  /** `array<string>` n-gram column over a token-array column. */
  def apply(toks: Column, n: Int): Column = {
    require(n >= 1)
    graft.Kernel.call(this, "ngrams",
      ArrayType(StringType, containsNull = false), Seq(toks, lit(n)),
      Seq(ArrayType(StringType), IntegerType), nullIn = false, nullOut = false)
  }

  private val empty = new GenericArrayData(new Array[AnyRef](0))
  private val space = UTF8String.fromString(" ")

  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null) return empty
    val len = toks.numElements()
    if (len < n) return empty
    val out = new Array[AnyRef](len - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        // concatWs skips nulls, exactly concat_ws's semantics
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      // concatWs copies bytes into a fresh UTF8String, so the result
      // does not alias the (reused) UnsafeRow buffer behind `toks`
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
