package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity gate for the round-21 map-only cell-assignment kernels
  * (graft.sim.CellAssign.nearest / topN / the rewritten Pq.encode)
  * against the explode+aggregate / window forms they replaced on the
  * s3/s7/s8/s12/s16/s17/d14/mm4 paths — on real sf0.001 embeddings
  * with a duplicated centroid forcing exact ties at every row. */
class CellAssignSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select($"vec_id", $"embedding".cast("array<double>").as("v"))

  // 7 distinct centroids + 1 duplicate (cid 7 == cid 3) so every row
  // carries an exact (d2, cid) tie the order must resolve identically
  private def centroids = {
    val base = emb.orderBy($"vec_id").limit(7)
      .withColumn("cid", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"vec_id")) - 1)
        .cast("int"))
      .select($"cid", $"v".as("cvec"))
    base.unionByName(base.filter($"cid" === 3)
      .select(lit(7).cast("int").as("cid"), $"cvec"))
  }

  test("CellAssign.collapse + nearest ≡ explode+min(struct) on real" +
      " embeddings with exact ties") {
    val cents = centroids
    val oldForm = emb.crossJoin(broadcast(cents))
      .withColumn("d2", graft.sim.ReferenceForms.dist2Unrolled($"v", $"cvec", 64))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cid")).as("mn"))
      .select($"vec_id", $"mn.cid".as("cid"), $"mn.d2".as("d2"))
    val newForm = emb.crossJoin(broadcast(
        graft.sim.CellAssign.collapse(cents, "cid", "cvec")))
      .select($"vec_id",
        graft.sim.CellAssign.nearest($"v", $"__cents", 64).as("mn"))
      .select($"vec_id", $"mn.cid".as("cid"), $"mn.d2".as("d2"))
    assert(newForm.exceptAll(oldForm).isEmpty
        && oldForm.exceptAll(newForm).isEmpty,
      "collapse+nearest diverged from the aggregate form")
    assert(newForm.filter($"cid" === 7).count() === 0) // ties → smaller cid
  }

  test("ArgTopNDist2 ≡ the row_number window top-n it replaced" +
      " (rank order, ties, n > candidates)") {
    val cents = centroids
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"d2", $"cid")
    val centsRow = graft.sim.CellAssign.collapse(cents, "cid", "cvec")
    for (n <- Seq(1, 3, 20)) {
      // the window form, with rank kept so ORDER is compared too
      val oldForm = emb.crossJoin(broadcast(cents))
        .withColumn("d2", graft.sim.ReferenceForms.dist2Unrolled($"v", $"cvec", 64))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= n)
        .select($"vec_id", $"rk", $"cid")
      val newForm = emb.crossJoin(broadcast(centsRow))
        .select($"vec_id", posexplode(
          graft.sim.CellAssign.topN($"v", $"__cents", 64, n)))
        .select($"vec_id", ($"pos" + 1).cast("int").as("rk"),
          $"col".as("cid"))
      assert(newForm.exceptAll(oldForm).isEmpty
          && oldForm.exceptAll(newForm).isEmpty,
        s"top-$n kernel diverged from the window form")
      // the duplicated centroid must never OUTRANK its smaller twin
      val badOrder = newForm.as[(Long, Int, Int)].collect()
        .groupBy(_._1).values.count { rows =>
          val byRk = rows.sortBy(_._2).map(_._3)
          byRk.indexOf(7) >= 0 && byRk.indexOf(7) < byRk.indexOf(3)
        }
      assert(badOrder === 0)
    }
  }

  test("AdcSum ≡ aggregate(zip_with(codes, lut, element_at)) on real" +
      " PQ codes and LUTs (plus null/mismatch corners)") {
    val (m, subLen, nCentroids) = (16, 4, 64)
    val cb = graft.sim.Pq.codebook(emb, "vec_id", "v", m, subLen, nCentroids)
      .localCheckpoint()
    val codes = graft.sim.Pq.encode(emb, "vec_id", "v", cb, m, subLen)
      .select($"vec_id".as("corpus_id"), $"codes")
    val lut = graft.sim.PqTestAccess.queryLut(emb, "vec_id", "v",
      col("vec_id") < 10, cb, m, subLen)
    val both = codes.join(broadcast(lut), $"query_id" =!= $"corpus_id")
      .select($"query_id", $"corpus_id",
        aggregate(zip_with($"codes", $"lut",
          (c, row) => element_at(row, c + 1)), lit(0.0), _ + _).as("ref"),
        graft.sim.AdcSum($"codes", $"lut").as("got"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(3)) === 0,
        s"adist mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // null/mismatch corners: the HOF form nulls on a null input and a
    // length mismatch — so must the kernel. (An OUT-OF-RANGE code is
    // NOT comparable: under Spark 4's default ANSI mode element_at
    // THROWS there, while the kernel yields null — unreachable on the
    // declared paths, where codes come from the same codebook the LUT
    // is built over, so every code < nCentroids = every row's length.)
    val corners = Seq(
      (Some(Seq(0, 1)), Some(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))), // ok
      (None, Some(Seq(Seq(1.0)))),                                // null codes
      (Some(Seq(0, 0, 0)), Some(Seq(Seq(1.0), Seq(2.0))))         // len mismatch
    ).toDF("codes", "lut")
    val got = corners.select(
        aggregate(zip_with($"codes", $"lut",
          (c, row) => element_at(row, c + 1)), lit(0.0), _ + _).as("ref"),
        graft.sim.AdcSum($"codes", $"lut").as("got"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null-parity broke: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) === 0)
    }
  }

  test("NormalizeVec ≡ nullif(sqrt(dot))+transform on real embeddings" +
      " (plus zero/empty/null-element corners)") {
    def both(df: org.apache.spark.sql.DataFrame) = {
      val ref = graft.sim.ReferenceForms
        .withNormalizedHof(df, "v", "ref")
      ref.withColumn("got", graft.sim.NormalizeVec($"v"))
        .select($"ref", $"got").collect()
    }
    val rows = both(emb)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ref = r.getSeq[Any](0)
      val got = r.getSeq[Any](1)
      assert(ref.length === got.length)
      ref.zip(got).foreach {
        case (a: java.lang.Double, b: java.lang.Double) =>
          assert(java.lang.Double.compare(a, b) === 0, s"elem mismatch $a $b")
        case (a, b) => assert((a == null) === (b == null), s"null mismatch")
      }
    }
    val corners = Seq(
      Some(Seq(3.0, 4.0)),        // plain
      Some(Seq(0.0, 0.0)),        // zero norm → all-null elements
      Some(Seq.empty[Double]),    // empty → empty
      None                        // null vector → null
    ).toDF("v")
    both(corners).foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) {
        val ref = r.getSeq[Any](0); val got = r.getSeq[Any](1)
        assert(ref === got)
      }
    }
  }

  test("rewritten Pq.encode ≡ the explode+argmin encode it replaced" +
      " (real embeddings, m=16, nCentroids=64)") {
    val (m, subLen, nCentroids, dims) = (16, 4, 64, 64)
    val cb = graft.sim.Pq.codebook(emb, "vec_id", "v", m, subLen, nCentroids)
      .localCheckpoint()
    // the pre-round-21 composition, verbatim
    val subv = transform(sequence(lit(0), lit(m - 1)),
      i => slice($"v", i * subLen + 1, lit(subLen)))
    val oldForm = emb
      .select($"vec_id", posexplode(subv))
      .select($"vec_id", $"pos".as("sub"), $"col".as("subv"))
      .join(broadcast(cb), "sub")
      .withColumn("d2", graft.sim.ReferenceForms.dist2Unrolled($"subv", $"cvec", subLen))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"d2", $"cid")).as("mn"))
      .groupBy($"vec_id")
      .agg(transform(
        array_sort(collect_list(struct($"sub", $"mn.cid".as("c")))),
        x => x("c")).as("codes"))
      .select($"vec_id", $"codes".cast("array<int>").as("codes"))
    val newForm = graft.sim.Pq.encode(emb, "vec_id", "v", cb, m, subLen)
      .select($"vec_id", $"codes".cast("array<int>").as("codes"))
    assert(newForm.exceptAll(oldForm).isEmpty
        && oldForm.exceptAll(newForm).isEmpty,
      "rewritten encode diverged from the explode+argmin form")
  }
}
