package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement main (round-18): recall@5 of the hierarchical-IVF
  * knob grid vs the exact brute-force top-k, on the sf0.01 gate
  * corpus — the data behind choosing s17's declared (nprobe,
  * nprobeSup, nAssignSup). Prints one line per setting with the
  * probed-candidate volume so the recall/cost trade is explicit.
  *
  *   sbt "runMain graft.tools.AnnKnobs /root/testdata/sf0.01"
  */
object AnnKnobs {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.io.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = graft.sim.Similarity.cosineTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "v", k = 5)
      .select(col("query_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // round-19 grid: the count-adaptive probe scale (s17's derived
    // np = max(nprobe, ceil(scale·sqrt(nCells)))) swept next to the
    // fixed settings, at any corpus dir (incl. target/sf3d)
    for {
      (np, scale) <- Seq((8, 0.0), (8, 1.0), (8, 2.0), (8, 3.0))
      nps <- Seq(2, 3)
      nas <- Seq(3)
    } {
      val t0 = System.nanoTime()
      val hier = graft.sim.IvfAnn.hierTopK(e, "vec_id", "v",
          queryPred = col("vec_id") < 10, k = 5, targetCell = 64,
          nprobe = np, dims = 64, nprobeSup = nps, nAssignSup = nas,
          nprobeScale = scale)
        .select(col("query_id"), col("corpus_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & hier).size.toDouble / exact.size
      println(f"[ann-knobs] nprobe=$np scale=$scale nprobeSup=$nps " +
        f"nAssignSup=$nas recall@5=$recall%.3f " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    spark.stop()
  }
}
