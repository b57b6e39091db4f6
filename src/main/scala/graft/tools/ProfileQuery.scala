package graft.tools

import graft.SparkEntry

/** Dev utility: time one named SparkEntry query (bench conditions —
  * noop sink), optionally several times to separate plan/codegen cost
  * from execution. Args: queryName [sfDir] [reps]. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()
    (1 to reps).foreach { i =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[profile] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
