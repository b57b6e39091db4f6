package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row shingle + MinHash-signature kernel ([[graft.Kernel]]) for
  * the STATELESS streaming near-dedup lines (st28/st31): one compiled
  * pass from raw `text` to `struct(shs array<string>, sig array<long>)`.
  *
  * Replaces the higher-order composition
  * `array_distinct(transform(sequence, …concat_ws…))` +
  * `transform(shs, …md5/conv/pmod…)` + `numPerm × array_min(transform)`
  * — every HOF is CodegenFallback, so each of the ~hundred shingles per
  * arriving document walked an interpreted expression tree several
  * times (measured at sf0.1, 32 cpus: the stream-side shingle+hash
  * projection alone cost 3.0 s warm for ~6k docs while the batch
  * index side hashes 5× more documents in 1.3 s through codegen'd
  * per-row md5). The streaming side cannot switch to the batch
  * explode + groupBy shape without acquiring a state store — in-row is
  * what keeps st28/st31 stateless — so the in-row kernel gets compiled
  * instead.
  *
  * Bit-exact parity with the built-in composition (pinned in
  * ShingleMinHashSpec and by the st28/st31 oracle hashes):
  *  - tokens  = split(trim(text), "\\s+")   (UTF8String trim — ASCII
  *    space only — and Java-regex split with limit −1, exactly
  *    Spark's StringTrim/StringSplit semantics);
  *  - shingles = first-occurrence-distinct n-token windows joined by
  *    one space (array_distinct ∘ transform order);
  *  - h30     = conv(substring(md5(sh), 1, 15), 16, 10) % 2^30 —
  *    lowercase-hex md5 of the shingle's UTF-8 bytes;
  *  - sig(i)  = min over shingles of (h30·permA(i+off) + permB(i+off))
  *    mod (2^31 − 1), for i in 0 until numPerm — every intermediate
  *    below 2^61 (the Dedup.permA/permB contract).
  *
  * Empty/short texts (< n tokens) yield `shs = []` and `sig = []`: no
  * signature rather than a sentinel one. Callers filter
  * `size(shs) > 0` first; one that forgets reads past the end of `sig`
  * (an error under ANSI) instead of band-colliding every empty
  * document on an all-`Long.MaxValue` sentinel. A NULL text yields
  * NULL.
  */
object ShingleMinHash {
  private[text] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /** First 15 lowercase-hex chars of a 16-byte digest. */
  private[text] def hex15(d: Array[Byte]): String = {
    val out = new Array[Char](15)
    var i = 0
    while (i < 15) {
      val b = d(i / 2) & 0xff
      out(i) = HEX(if (i % 2 == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** `struct(shs, sig)` column over a text column. The permutation
    * tables are built here, once per column, and reach the kernel as
    * two constant arguments. */
  def apply(text: Column, n: Int, numPerm: Int,
            permOffset: Int = 0): Column = {
    require(n >= 1 && numPerm >= 1 && permOffset >= 0)
    def table(f: Int => Long): Column = ColumnBridge.column(Literal(
      UnsafeArrayData.fromPrimitiveArray(
        Array.tabulate(numPerm)(i => f(permOffset + i))),
      ArrayType(LongType, containsNull = false)))
    graft.Kernel.call(this, "shingleMinHash",
      StructType(Seq(
        StructField("shs", ArrayType(StringType, containsNull = false)),
        StructField("sig", ArrayType(LongType, containsNull = false)))),
      Seq(text, lit(n), table(graft.dedup.Dedup.permA),
        table(graft.dedup.Dedup.permB)),
      Seq(StringType, IntegerType, ArrayType(LongType), ArrayType(LongType)),
      nullOut = false)
  }

  private val P = 2147483647L
  private val splitPat = UTF8String.fromString("\\s+")

  def shingleMinHash(text: UTF8String, n: Int, as: ArrayData,
                     bs: ArrayData): InternalRow = {
    val toks = text.trim().split(splitPat, -1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length >= n) {
      var i = 0
      val last = toks.length - n
      while (i <= last) {
        // concat_ws(" ", tok_i .. tok_{i+n-1})
        var len = n - 1
        var j = 0
        while (j < n) { len += toks(i + j).numBytes(); j += 1 }
        val sb = new java.lang.StringBuilder(len)
        j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j).toString)
          j += 1
        }
        seen.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    val numPerm = if (seen.isEmpty) 0 else as.numElements()
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val md = digest.get()
    val it = seen.iterator()
    while (it.hasNext) {
      val sh = it.next()
      md.reset()
      val hex = hex15(md.digest(sh.getBytes))
      val h30 = java.lang.Long.parseLong(hex, 16) % 1073741824L
      var i = 0
      while (i < numPerm) {
        val v = (h30 * as.getLong(i) + bs.getLong(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    val shsArr = new Array[AnyRef](seen.size())
    var k = 0
    val it2 = seen.iterator()
    while (it2.hasNext) { shsArr(k) = it2.next(); k += 1 }
    InternalRow(new GenericArrayData(shsArr),
      new GenericArrayData(mins))
  }
}
