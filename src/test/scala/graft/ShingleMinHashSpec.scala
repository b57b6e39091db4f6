package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity gate for the compiled in-row shingle+MinHash kernel
  * (graft.text.ShingleMinHash) against the built-in HOF composition it
  * replaced on the stateless streaming dedup lines (st28/st31): same
  * shingle set, same order, same signature mins — on real sf0.001
  * documents AND edge-case rows (short text, repeated tokens, tabs
  * inside, leading/trailing whitespace, empty string). */
class ShingleMinHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val P = 2147483647L

  private def hofForm(n: Int, numPerm: Int) = {
    // ngramsHof, NOT TextOps.shingles: since round-21 the production
    // shingles path routes through the compiled NGrams kernel, and the
    // reference here must stay the original built-in HOF composition
    val shs = array_distinct(graft.sim.ReferenceForms.ngramsHof(
      graft.text.TextOps.tokens(col("text")), n))
    val h30s = transform(shs,
      sh => pmod(graft.text.TextOps.hash60(sh), lit(1073741824L)))
    struct(
      shs.as("shs"),
      array((0 until numPerm).map(i =>
        array_min(transform(h30s, h =>
          (h * graft.dedup.Dedup.permA(i) + graft.dedup.Dedup.permB(i)) % P)))
        : _*).as("sig"))
  }

  private def check(df: org.apache.spark.sql.DataFrame, n: Int,
                    numPerm: Int): Unit = {
    val both = df
      .select(col("text"),
        hofForm(n, numPerm).as("ref"),
        graft.text.ShingleMinHash(col("text"), n, numPerm).as("got"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val ref = r.getStruct(1)
      val got = r.getStruct(2)
      assert(ref.getSeq[String](0) === got.getSeq[String](0),
        s"shingle mismatch for text=${r.getString(0).take(60)}…")
      val refSig = ref.getSeq[Long](1)
      val gotSig = got.getSeq[Long](1)
      if (ref.getSeq[String](0).nonEmpty)
        assert(refSig === gotSig,
          s"sig mismatch for text=${r.getString(0).take(60)}…")
      // empty shingle set: HOF yields null mins, the kernel an empty
      // sig — both unusable, both filtered by size(shs) > 0
      else assert(gotSig.isEmpty, s"sig ${gotSig} for an empty shingle set")
    }
  }

  test("kernel ≡ HOF composition on real sf0.001 documents (16 perms)") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
    check(docs, n = 3, numPerm = 16)
  }

  test("kernel ≡ HOF composition at 32 perms (the st31 two-family width)") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).limit(200)
    check(docs, n = 3, numPerm = 32)
  }

  // GramHash: the BATCH-side positional sibling (d12/d15 gram build) —
  // duplicates kept, order preserved, hash60 (full 60-bit) parity
  private def gramHofForm(n: Int) = {
    val ts = graft.text.TextOps.tokens(col("text"))
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)), i =>
        graft.text.TextOps.hash60(concat_ws(" ",
          (0 until n).map(j => element_at(ts, i + j)): _*))))
      .otherwise(array().cast("array<long>"))
  }

  private def checkGrams(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val both = df.select(col("text"),
        gramHofForm(n).as("ref"),
        graft.text.GramHash(graft.text.TextOps.tokens(col("text")), n).as("got"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"gram mismatch for text=${r.getString(0).take(60)}…")
    }
  }

  test("GramHash ≡ transform(sequence)+hash60 on real sf0.001 documents") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
    checkGrams(docs, n = 3)
    checkGrams(docs.limit(100), n = 2)
  }

  test("GramHash edge cases: short/empty/whitespace/duplicate text") {
    val rows = Seq(
      "", "   ", "one", "one two", "one two three",
      "a b c a b c a b c",
      "  leading and trailing  ",
      "tab\tseparated\ttokens here now",
      "unicode æøå 中文 tokens mixed in here"
    ).toDF("text")
    checkGrams(rows, n = 3)
  }

  // NGrams: the string-emitting batch sibling (hh1/st21/t14/t21/d4 gram
  // build + the MinHash shingle sets) — duplicates kept, order
  // preserved, exact gram strings
  private def checkNGrams(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val ts = graft.text.TextOps.tokens(col("text"))
    val both = df.select(col("text"),
        graft.sim.ReferenceForms.ngramsHof(ts, n).as("ref"),
        graft.text.NGrams(ts, n).as("got"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"ngram mismatch for text=${r.getString(0).take(60)}…")
    }
  }

  test("NGrams ≡ transform(sequence)+concat_ws on real sf0.001 documents") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
    checkNGrams(docs, n = 3)
    checkNGrams(docs.limit(100), n = 2)
  }

  test("NGrams edge cases: short/empty/whitespace/duplicate/unicode text") {
    val rows = Seq(
      "", "   ", "one", "one two", "one two three",
      "a b c a b c a b c",
      "  leading and trailing  ",
      "tab\tseparated\ttokens here now",
      "unicode æøå 中文 tokens mixed in here"
    ).toDF("text")
    checkNGrams(rows, n = 3)
    checkNGrams(rows, n = 2)
    checkNGrams(rows, n = 1)
  }

  test("edge cases: short/empty/whitespace-heavy/duplicate-shingle text") {
    val rows = Seq(
      "",
      "   ",
      "one",
      "one two",
      "one two three",
      "a b c a b c a b c",      // duplicate shingles — distinct order
      "  leading and trailing  ",
      "tab\tseparated\ttokens here now",
      "newline\nseparated tokens appear here",
      "unicode æøå 中文 tokens mixed in here"
    ).toDF("text")
    check(rows, n = 3, numPerm = 16)
  }
}
