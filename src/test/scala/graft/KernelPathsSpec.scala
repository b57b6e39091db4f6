package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{AdcSum, CellAssign, Dist2, DotProduct, NormalizeVec, ReferenceForms, SqAdist2}
import graft.text.{GramHash, NGrams, ShingleMinHash}

/** Every per-row kernel gives the same rows on every execution path:
  * whole-stage codegen on and off, crossed with the projection factory
  * forced to generated code (`CODEGEN_ONLY`) or to interpreted eval
  * (`NO_CODEGEN`). With whole-stage off and `NO_CODEGEN`, the kernel
  * runs through StaticInvoke's reflective eval; the other three run
  * generated code. The inputs are the corner cases: null arrays and
  * elements, empty arrays, NaN, ±0.0, ragged lengths, vectors shorter
  * than `dims`, ADC codes outside their lut row, texts shorter than
  * `n`.
  *
  * Also pinned per kernel: the output type and nullability, and that
  * the kernel's projection plans inside a `*(n)` whole-stage span.
  * Inputs are in-memory rows behind an RDD scan, so the optimizer
  * cannot fold the projection into a local relation. */
class KernelPathsSpec extends AnyFunSuite {
  // a session of its own: the codegen settings below stay here
  private lazy val spark = SparkTestSession.spark.newSession()

  private val settings =
    for (wholeStage <- Seq("true", "false");
         factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) yield (wholeStage, factory)

  private def under[T](wholeStage: String, factory: String)(f: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    spark.conf.set("spark.sql.codegen.factoryMode", factory)
    try f finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  /** Rows `(id, cols…)` as a two-partition RDD-backed frame. */
  private def frame(cols: Seq[(String, DataType)], rows: Seq[Any]*): DataFrame = {
    val schema = StructType(StructField("id", IntegerType, nullable = false) +:
      cols.map { case (n, t) => StructField(n, t) })
    val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private val vec = ArrayType(DoubleType)
  private val nan = Double.NaN

  /** Doubles by `doubleToLongBits`: −0.0 ≠ +0.0 and NaN = NaN, which
    * `==` on boxed array elements gets backwards. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(canon)
    case s: collection.Seq[_] => s.map(canon)
    case other => other
  }

  /** Runs `out` over `df` on all four paths and checks they agree, the
    * output field, and (for a kernel) the whole-stage span. Returns the
    * rows by id. */
  private def check(df: DataFrame, out: Column, dataType: DataType,
                    nullable: Boolean, kernel: Boolean = true): Seq[Row] = {
    val q = df.select(col("id"), out.as("out"))
    val field = q.schema("out")
    assert(field.dataType == dataType, s"output type ${field.dataType.simpleString}")
    assert(field.nullable == nullable, s"output nullable ${field.nullable}")
    val plan = q.queryExecution.executedPlan.toString
    assert(!kernel ||
      """\*\(\d+\) Project \[[^\n]*static_invoke\(""".r.findFirstIn(plan).isDefined,
      s"kernel projection outside a whole-stage span:\n$plan")
    val runs = settings.map { case (ws, fm) =>
      (ws, fm) -> under(ws, fm)(q.collect().sortBy(_.getInt(0)).toSeq)
    }
    val (base, rows) = runs.head
    runs.tail.foreach { case (s, r) =>
      assert(canon(r) == canon(rows), s"$s disagrees with $base:\n${r.mkString("\n")}\nvs\n${rows.mkString("\n")}")
    }
    rows
  }

  private def outs(rows: Seq[Row]): Seq[Any] = rows.map(_.get(1))

  test("DotProduct") {
    val df = frame(Seq("a" -> vec, "b" -> vec),
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),
      Seq(null, Seq(1.0)),
      Seq(Seq(1.0, null), Seq(1.0, 2.0)),
      Seq(Seq(), Seq()),
      Seq(Seq(nan, 1.0), Seq(1.0, 1.0)),
      Seq(Seq(-0.0), Seq(0.0)),
      Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
    val got = outs(check(df, DotProduct(col("a"), col("b")), DoubleType, nullable = true))
    assert(got.take(4) == Seq(11.0, null, null, 0.0))
    assert(got(4).asInstanceOf[Double].isNaN && got(6) == null)
  }

  test("NormalizeVec") {
    val df = frame(Seq("v" -> vec),
      Seq(Seq(3.0, 4.0)), Seq(null), Seq(Seq(1.0, null)), Seq(Seq()),
      Seq(Seq(0.0, -0.0)), Seq(Seq(-0.0, 2.0)), Seq(Seq(nan, 1.0)))
    val got = outs(check(df, NormalizeVec(col("v")),
      ArrayType(DoubleType, containsNull = true), nullable = true))
    assert(got.take(5) == Seq(Seq(0.6, 0.8), null, Seq(null, null), Seq(), Seq(null, null)))
    // nullability follows the input column, as it did
    assert(!spark.range(1).select(NormalizeVec(array(lit(1.0)))).schema.head.nullable)
  }

  test("AdcSum") {
    val lut = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val df = frame(Seq("codes" -> ArrayType(IntegerType), "lut" -> ArrayType(vec)),
      Seq(Seq(0, 1), lut),
      Seq(null, lut),
      Seq(Seq(0, 1), null),
      Seq(Seq(0, 0, 0), lut),          // length mismatch
      Seq(Seq(0, 2), lut),             // code past its lut row
      Seq(Seq(-1, 0), lut),            // negative code
      Seq(Seq(0, null), lut),          // null code
      Seq(Seq(0, 1), Seq(Seq(1.0), null)),
      Seq(Seq(0, 1), Seq(Seq(nan), Seq(-0.0, -0.0))),
      Seq(Seq(), Seq()))
    val got = outs(check(df, AdcSum(col("codes"), col("lut")), DoubleType, nullable = true))
    assert(got.take(8) == Seq(5.0, null, null, null, null, null, null, null))
    assert(got(8).asInstanceOf[Double].isNaN && got(9) == 0.0)
  }

  test("SqAdist2") {
    val df = frame(Seq("qv" -> vec, "codes" -> ArrayType(IntegerType),
        "vm" -> vec, "st" -> vec),
      Seq(Seq(1.0, 2.0), Seq(3, 4), Seq(0.0, 0.0), Seq(0.5, 0.5)),
      Seq(null, Seq(3, 4), Seq(0.0, 0.0), Seq(0.5, 0.5)),
      Seq(Seq(1.0, 2.0), Seq(3, null), Seq(0.0, 0.0), Seq(0.5, 0.5)),
      Seq(Seq(1.0, 2.0), Seq(3), Seq(0.0, 0.0), Seq(0.5, 0.5)),
      Seq(Seq(nan, -0.0), Seq(0, 0), Seq(0.0, -0.0), Seq(0.0, 0.0)),
      Seq(Seq(), Seq(), Seq(), Seq()))
    val free = outs(check(df, SqAdist2(col("qv"), col("codes"), col("vm"), col("st")),
      DoubleType, nullable = true))
    assert(free(0) == 0.625 && free.slice(1, 4) == Seq(null, null, null))
    assert(free(4).asInstanceOf[Double].isNaN && free(5) == 0.0)
    // declared dims: 2-long vectors are short of 3
    val dims3 = outs(check(df, SqAdist2(col("qv"), col("codes"), col("vm"), col("st"), 3),
      DoubleType, nullable = true))
    assert(dims3.forall(_ == null))
  }

  private val centsType = ArrayType(StructType(Seq(
    StructField("cid", IntegerType), StructField("cvec", vec))))
  private val cents = Seq(Row(0, Seq(0.0, 0.0)), Row(1, Seq(1.0, 1.0)),
    Row(2, Seq(1.0, 1.0)), Row(3, Seq(5.0)), null, Row(4, Seq(9.0, null)))

  private def centroidRows = frame(Seq("v" -> vec, "cents" -> centsType),
    Seq(Seq(0.9, 1.2), cents),          // tie 1 vs 2 → 1
    Seq(Seq(-0.0, 0.0), cents),
    Seq(null, cents),
    Seq(Seq(1.0), cents),               // shorter than dims
    Seq(Seq(1.0, null), cents),         // every candidate skipped
    Seq(Seq(nan, 0.0), cents),
    Seq(Seq(0.9, 1.2, 7.0), cents),     // extra element ignored
    Seq(Seq(0.9, 1.2), null),
    Seq(Seq(0.9, 1.2), Seq()))

  private val argminType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))

  test("ArgminDist2 (CellAssign.nearest)") {
    val got = outs(check(centroidRows, CellAssign.nearest(col("v"), col("cents"), 2),
      argminType, nullable = true))
    assert(got(0).asInstanceOf[Row].getInt(0) == 1)
    assert(got(1) == Row(0, 0.0))
    assert(got.slice(2, 5) == Seq(null, null, null) && got.slice(7, 9) == Seq(null, null))
    assert(got(6) == got(0))
  }

  test("ArgTopNDist2 (CellAssign.topN)") {
    val got = outs(check(centroidRows, CellAssign.topN(col("v"), col("cents"), 2, 3),
      ArrayType(IntegerType, containsNull = false), nullable = false))
    assert(got(0) == Seq(1, 2, 0) && got(1) == Seq(0, 1, 2))
    assert(got.slice(2, 5) == Seq(Seq(), Seq(), Seq()) && got.slice(7, 9) == Seq(Seq(), Seq()))
  }

  private val toks = ArrayType(StringType)
  private def tokenRows = frame(Seq("t" -> toks),
    Seq(Seq("a", "b", "c", "a", "b", "c")), Seq(null), Seq(Seq()), Seq(Seq("one", "two")),
    Seq(Seq("x", null, "y", "z")), Seq(Seq("æøå", "中文", "", "end")))

  test("NGrams") {
    val got = outs(check(tokenRows, NGrams(col("t"), 3),
      ArrayType(StringType, containsNull = false), nullable = false))
    assert(got.take(5) == Seq(Seq("a b c", "b c a", "c a b", "a b c"), Seq(), Seq(), Seq(),
      Seq("x y", "y z")))
  }

  test("GramHash") {
    val got = outs(check(tokenRows, GramHash(col("t"), 3),
      ArrayType(LongType, containsNull = false), nullable = false))
    assert(got.slice(1, 4) == Seq(Seq(), Seq(), Seq()))
    val first = got.head.asInstanceOf[collection.Seq[Long]]
    assert(first.length == 4 && first.head == first(3) && first.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("ShingleMinHash, with an empty sig for a text without shingles") {
    val df = frame(Seq("text" -> StringType),
      Seq("the quick brown fox jumps"), Seq(null), Seq(""), Seq("   "),
      Seq("two words"), Seq("  a b c a b c  "), Seq("tab\tsplit text here"))
    val got = outs(check(df, ShingleMinHash(col("text"), 3, 8, 4),
      StructType(Seq(
        StructField("shs", ArrayType(StringType, containsNull = false)),
        StructField("sig", ArrayType(LongType, containsNull = false)))),
      nullable = true)).map(r => Option(r.asInstanceOf[Row]))
    assert(got(1).isEmpty)
    got.slice(2, 5).foreach { r =>
      assert(r.get.getSeq[String](0).isEmpty && r.get.getSeq[Long](1).isEmpty, r)
    }
    Seq(0, 5, 6).foreach { i =>
      assert(got(i).get.getSeq[Long](1).length == 8 && got(i).get.getSeq[String](0).nonEmpty)
    }
    assert(got(5).get.getSeq[String](0) == Seq("a b c", "b c a", "c a b"))
    assert(!spark.range(1).select(ShingleMinHash(lit("a b c"), 3, 8)).schema.head.nullable)
  }

  private def dist2Rows = frame(Seq("a" -> vec, "b" -> vec),
    Seq(Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 3.0)),
    Seq(null, Seq(1.0, 2.0, 3.0)),
    Seq(Seq(1.0, 2.0, 3.0), null),
    Seq(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)),
    Seq(Seq(nan, 0.0, 0.0), Seq(0.0, 0.0, 0.0)),
    Seq(Seq(-0.0, -0.0, 0.0), Seq(0.0, 0.0, -0.0)),
    Seq(Seq(1.0, 1.0, 1.0, 9.0), Seq(0.0, 0.0, 0.0)))   // past len: ignored

  test("Dist2 ≡ the unrolled element_at sum it replaced, on every path") {
    val got = check(dist2Rows, Dist2(col("a"), col("b"), 3), DoubleType, nullable = true)
    val ref = check(dist2Rows, ReferenceForms.dist2Unrolled(col("a"), col("b"), 3),
      DoubleType, nullable = true, kernel = false)
    assert(canon(got) == canon(ref))
    assert(outs(got).take(4) == Seq(0.25 + 9.0, null, null, null))
    assert(outs(got)(4).asInstanceOf[Double].isNaN && outs(got)(6) == 3.0)
    assert(java.lang.Double.doubleToRawLongBits(outs(got)(5).asInstanceOf[Double]) == 0L)
  }

  test("Dist2 on a vector shorter than len fails like element_at under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val short = frame(Seq("a" -> vec, "b" -> vec), Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))
    def outOfBounds(c: Column): Boolean = {
      val e = intercept[Exception](short.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArrayIndexOutOfBoundsException])
    }
    settings.foreach { case (ws, fm) =>
      under(ws, fm) {
        assert(outOfBounds(Dist2(col("a"), col("b"), 3)), s"kernel ($ws, $fm)")
        assert(outOfBounds(Dist2(col("b"), col("a"), 3)), s"kernel ($ws, $fm)")
        assert(outOfBounds(ReferenceForms.dist2Unrolled(col("a"), col("b"), 3)),
          s"unrolled ($ws, $fm)")
      }
    }
  }
}
