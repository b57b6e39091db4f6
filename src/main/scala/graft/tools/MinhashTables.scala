package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement main (round-19): what the second MinHash table
  * (d21) actually buys — per corpus dir, the candidate/verified-pair
  * counts of table 1 alone, table 2 alone, and the union, split by
  * how many tables surfaced each verified (jaccard ≥ 0.5) pair. A
  * non-trivial single-table count is the load-bearing evidence for
  * the `tables_hit` column; the union-minus-table1 verified count is
  * the recall the second family buys at the measured corpus.
  *
  *   sbt "runMain graft.tools.MinhashTables /root/testdata/sf0.01"
  *   sbt "runMain graft.tools.MinhashTables /root/repo/target/sf2w"
  */
object MinhashTables {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.dedup.Dedup
    val docs = graft.io.Tables.documents(spark, sfDir)
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 3).persist()
    val sigs1 = Dedup.minhashSignatures(sh, 16)
    val sigs2 = Dedup.minhashSignatures(sh, 16, permOffset = 16)
    val c1 = Dedup.lshCandidates(sigs1, 4, 4).withColumn("t", lit(1L))
    val c2 = Dedup.lshCandidates(sigs2, 4, 4).withColumn("t", lit(2L))
    val cands = c1.unionByName(c2)
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("t")).as("tables_hit"))
      .persist()
    val ver = Dedup.verifyJaccard(cands.select(col("id_a"), col("id_b")),
        sh, sigs1.select(col("id"), col("n_sh")))
      .join(cands, Seq("id_a", "id_b"))
      .persist()
    val candHist = cands.groupBy(col("tables_hit")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verHist = ver.filter(col("jaccard") >= 0.5)
      .groupBy(col("tables_hit")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def f(m: Map[Long, Long]) =
      f"t1only=${m.getOrElse(1L, 0L)} t2only=${m.getOrElse(2L, 0L)} " +
        f"both=${m.getOrElse(3L, 0L)} total=${m.values.sum}"
    println(s"[minhash-tables] $sfDir candidates: ${f(candHist)}")
    println(s"[minhash-tables] $sfDir verified j>=0.5: ${f(verHist)}")
    val t1 = verHist.getOrElse(1L, 0L) + verHist.getOrElse(3L, 0L)
    val tot = verHist.values.sum
    if (tot > 0)
      println(f"[minhash-tables] table-1-only recall of the union: " +
        f"${t1.toDouble / tot}%.3f (second table buys ${tot - t1} pairs)")
    // exact candidate recall vs ground truth at mid-similarity
    // thresholds — where 4×4 banding's per-table catch probability
    // (1−(1−s^4)^4) leaves room for the second family. Ground truth =
    // all co-shingle pairs' exact Jaccard (shingle-keyed join, never
    // blind all-pairs).
    val truth = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sigs1.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sigs1.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("j", col("n_inter").cast("double")
        / (col("n_a") + col("n_b") - col("n_inter")))
      .persist()
    Seq(0.3, 0.4, 0.5).foreach { th =>
      val tpairs = truth.filter(col("j") >= th)
        .select(col("id_a"), col("id_b"))
      val nT = tpairs.count()
      val r1 = tpairs.join(cands.filter(col("tables_hit") =!= 2L),
        Seq("id_a", "id_b"), "left_semi").count()
      val rU = tpairs.join(cands, Seq("id_a", "id_b"), "left_semi").count()
      if (nT > 0)
        println(f"[minhash-tables] j>=$th truth=$nT " +
          f"recall t1=${r1.toDouble / nT}%.3f union=${rU.toDouble / nT}%.3f")
    }
    // r=2, b=8 banding arm (round-20, VERDICT item 2): the s-curve
    // variant d22/d23 declare — same signatures, 8 bands of 2 rows, so
    // P(catch | J=0.5) ≈ 0.90 per family. Measures single-family (d22)
    // and the derived-F=2 union (d23) against the same exact truth.
    val r2c1 = Dedup.lshCandidates(sigs1, 8, 2).withColumn("t", lit(1L))
    val r2c2 = Dedup.lshCandidates(sigs2, 8, 2).withColumn("t", lit(2L))
    val r2cands = r2c1.unionByName(r2c2)
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("t")).as("tables_hit"))
      .persist()
    Seq(0.3, 0.4, 0.5).foreach { th =>
      val tpairs = truth.filter(col("j") >= th)
        .select(col("id_a"), col("id_b"))
      val nT = tpairs.count()
      val r1 = tpairs.join(r2cands.filter(col("tables_hit") =!= 2L),
        Seq("id_a", "id_b"), "left_semi").count()
      val rU = tpairs.join(r2cands, Seq("id_a", "id_b"), "left_semi").count()
      if (nT > 0)
        println(f"[minhash-tables] r2b8 j>=$th truth=$nT " +
          f"recall f1=${r1.toDouble / nT}%.3f unionF2=${rU.toDouble / nT}%.3f")
    }
    println(s"[minhash-tables] r2b8 candidate rows: ${r2cands.count()}" +
      s" (4x4 two-table: ${cands.count()})")
    spark.stop()
  }
}
