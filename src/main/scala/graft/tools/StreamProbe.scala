package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe (round-21): decompose a streaming line's wall time into
  * micro-batch phases using the engine's own progress events —
  * `durationMs` (addBatch / getBatch / walCommit / queryPlanning /
  * triggerExecution / commitOffsets) and state-operator timings per
  * batch — plus a machinery floor (trivial stream: same source, no
  * state) for contrast. Args: queryName [sfDir]. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = if (args.length > 0) args(0) else "st9_stream_join"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUF", "10"))
    // A/B knob: SPARK_GRAFT_CKPT=<dir> redirects the streaming temp
    // checkpoints (state store deltas + offset/commit logs)
    sys.env.get("SPARK_GRAFT_CKPT").foreach(d =>
      spark.conf.set("spark.sql.streaming.checkpointLocation", d))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()

    val progress = scala.collection.mutable.ArrayBuffer[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          progress += e.progress.json
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })

    // machinery floor: same parquet stream source, stateless projection
    locally {
      val t0 = System.nanoTime()
      graft.streaming.StreamOps.drainToTable(
        graft.io.Tables.stream(spark, sfDir, "events")
          .select(count(lit(1)).as("n")),
        "complete", "probe_floor")
      println(f"[streamprobe] floor_total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    Thread.sleep(500)
    println("[streamprobe] floor progress:")
    progress.foreach(p => println("  " + p))
    progress.clear()

    locally {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[streamprobe] $name total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    Thread.sleep(500)
    println(s"[streamprobe] $name progress:")
    progress.foreach(p => println("  " + p))
    spark.stop()
  }
}
