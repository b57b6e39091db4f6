package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** Dev measurement main (round-17): planted-pair recall of the
  * widened banded-LSH candidate stage, single-table vs two-table
  * (contiguous + strided compositions), on a documents fixture past
  * bucket capacity (tools/gen_widen.py → target/sf2w, 120k docs →
  * w=2 at 16-bit bands). Ground truth is the mm5 fixture layout:
  * every within-group-of-8 pair is a planted near-dup (dHash ≤ 6
  * bits apart by construction), so recall = found same_group pairs /
  * (nGroups · 28). Prints one line per table count.
  *
  *   sbt "runMain graft.tools.WidenRecall /root/repo/target/sf2w"
  */
object WidenRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/target/sf2w"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.io.Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val planted = (nDocs / 8) * 28
    val bands = Fixpoint.cut(graft.multimodal.Multimodal.dHashBands(
      graft.multimodal.Multimodal.synthPpmGroupPayload(docs, "doc_id")))
    Seq(1, 2).foreach { t =>
      val t0 = System.nanoTime()
      val got = graft.dedup.BandedLsh.hammingPairsTables(
          bands, bandBits = 16, maxHamming = 6, tables = t)
        .select(col("id_a"), col("id_b"),
          ((col("id_a") - col("id_a") % 8) ===
            (col("id_b") - col("id_b") % 8)).as("same_group"))
      val agg = got.agg(count(lit(1)),
        sum(when(col("same_group"), 1L).otherwise(0L))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      val sg = Option(agg.get(1)).map(_.toString.toLong).getOrElse(0L)
      println(f"[widen-recall] tables=$t pairs=${agg.getLong(0)} " +
        f"same_group=$sg recall=${sg.toDouble / planted}%.4f " +
        f"(${planted} planted) ${secs}%.1fs")
    }
    spark.stop()
  }
}
