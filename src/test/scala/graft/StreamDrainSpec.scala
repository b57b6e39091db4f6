package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.streaming.{LocalCheckpointFileManager, StreamOps}

/** `StreamOps.drainToTable` runs a stream without forking processes for
  * its checkpoint renames and file modes and without a fresh executor
  * class loader per run, and leaves the caller's session confs as it
  * found them. The manager it picks, graft's
  * `LocalCheckpointFileManager` (Spark's FileSystem-based one setting
  * modes through `java.nio`), writes the same files with the same modes
  * as Spark's and restarts a stream exactly like the FileContext manager
  * it replaces — including from a checkpoint either of Spark's managers
  * wrote. */
class StreamDrainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"
  private val FileContextManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileContextBasedCheckpointFileManager"
  private val FileSystemManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileSystemBasedCheckpointFileManager"
  private val GraftManager = classOf[LocalCheckpointFileManager].getName
  private val Keys = Seq(StreamOps.CheckpointManagerKey, StreamOps.IsolationKey)

  /** The commands of every process the JVM started while `body` ran. */
  private def launches(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("graft_drain", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(f) }
  }

  private def program(cmd: String): String =
    cmd.trim.split("\\s+").head.split('/').last

  private def st1(): Seq[String] =
    SparkEntry.queries("st1_stream_daily")(spark, Sf)
      .collect().map(_.toString).toSeq.sorted

  /** Set `confs` as a caller would, run `body`, then unset them. */
  private def withCallerConfs[A](confs: Map[String, String])(body: => A): A = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.keys.foreach(spark.conf.unset)
  }

  private def confState: Map[String, Option[String]] =
    Keys.map(k => k ->
      (if (SessionBridge.isSet(spark, k)) Some(spark.conf.get(k)) else None)).toMap

  test("a drain forks no readlink; a caller-chosen FileContext manager is kept") {
    val drained = launches(st1())
    val byProgram = drained.groupBy(program).view.mapValues(_.size).toMap
    // the caller's choice wins over the helper's, so this drain shows
    // what each stream cost before the helper picked the manager
    val control = withCallerConfs(Map(StreamOps.CheckpointManagerKey -> FileContextManager)) {
      launches(st1())
    }
    val controlByProgram = control.groupBy(program).view.mapValues(_.size).toMap
    // Spark's own FileSystem manager, as the caller's choice: what each
    // stream cost before graft's manager set modes through java.nio
    val sparkFs = withCallerConfs(Map(StreamOps.CheckpointManagerKey -> FileSystemManager)) {
      launches(st1())
    }
    val sparkFsByProgram = sparkFs.groupBy(program).view.mapValues(_.size).toMap
    info(s"process launches per st1 drain: graft's manager $byProgram, " +
      s"Spark's FileSystem manager $sparkFsByProgram, FileContext manager $controlByProgram")
    assert(byProgram.getOrElse("readlink", 0) == 0,
      s"the drain forked readlink: ${drained.filter(program(_) == "readlink").take(3)}")
    assert(byProgram.getOrElse("chmod", 0) == 0,
      s"the drain forked chmod: ${drained.filter(program(_) == "chmod").take(3)}")
    // without Hadoop's native library the FileContext manager forks a
    // readlink per rename and Spark's FileSystem manager a chmod per
    // file created; the zeros above are meaningful only if the
    // recording sees those launches
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      assert(controlByProgram.getOrElse("readlink", 0) > 0,
        s"the FileContext control forked no readlink: $controlByProgram")
      assert(sparkFsByProgram.getOrElse("chmod", 0) > 0,
        s"the FileSystem control forked no chmod: $sparkFsByProgram")
    }
  }

  /** The permission bits (`07777`) of `p`. */
  private def mode(p: java.nio.file.Path): Int =
    java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("graft's raw file system leaves the modes Hadoop's leaves") {
    TestDirs.withTempDir("graft_drain_modes") { dir =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val systems = Seq("graft" -> new LocalCheckpointFileManager.NioPermissions,
        "hadoop" -> new RawLocalFileSystem)
      systems.foreach(_._2.initialize(java.net.URI.create("file:///"), conf))
      // 01777 has the sticky bit, which java.nio cannot set: graft's
      // file system must hand it to Hadoop's chmod path
      for (octal <- Seq("644", "600", "755", "1777"); kind <- Seq("file", "dir")) {
        val modes = systems.map { case (name, fs) =>
          val p = java.nio.file.Paths.get(dir, s"$name-$kind-$octal")
          if (kind == "file") java.nio.file.Files.createFile(p)
          else java.nio.file.Files.createDirectory(p)
          fs.setPermission(new Path(p.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
          name -> Integer.toOctalString(mode(p))
        }.toMap
        assert(modes == Map("graft" -> octal, "hadoop" -> octal), s"$kind mode $octal: $modes")
      }
    }
  }

  test("graft's and Spark's FileSystem managers write the same checkpoint tree") {
    TestDirs.withTempDir("graft_drain_tree") { dir =>
      graft.io.Tables.events(spark, Sf)
        .select($"ts", $"user_id", $"event_type")
        .repartition(3).write.parquet(s"$dir/in")
      def tree(manager: String): Seq[(String, String)] = {
        val out = s"$dir/${manager.split('.').last}"
        withCallerConfs(Map(StreamOps.CheckpointManagerKey -> manager)) {
          val q = StreamOps.dedupWithinWatermark(
              spark.readStream.schema("ts TIMESTAMP, user_id LONG, event_type STRING")
                .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
              "ts", Seq("user_id", "event_type"), "365 days")
            .select($"user_id", $"event_type")
            .writeStream.outputMode("append").format("parquet")
            .option("path", s"$out/out").option("checkpointLocation", s"$out/ckpt").start()
          try q.processAllAvailable() finally q.stop()
          // a state store rewriting a version overwrites its file: the
          // rename follows the session's local file system either way
          val fm = org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(new Path(s"$out/ckpt"),
              spark.sessionState.newHadoopConf())
          assert(fm.getClass.getName == manager)
          Seq("first", "second").foreach { body =>
            val os = fm.createAtomic(new Path(s"$out/ckpt/rewritten"), overwriteIfPossible = true)
            try os.write(body.getBytes("UTF-8")) finally os.close()
          }
        }
        val root = java.nio.file.Paths.get(s"$out/ckpt")
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator.asScala.filterNot(_ == root).map { p =>
          // state schema files carry a random id in their name
          root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
            "<uuid>") -> f"${mode(p)}%o"
        }.toSeq.sorted finally walk.close()
      }
      val bySpark = tree(FileSystemManager)
      val byGraft = tree(GraftManager)
      assert(bySpark.exists(_._1.startsWith("state")) && bySpark.exists(_._1.endsWith(".crc")),
        s"the checkpoint holds no state or checksum files: $bySpark")
      assert(byGraft == bySpark, s"only Spark's: ${bySpark.diff(byGraft).take(5)} " +
        s"only graft's: ${byGraft.diff(bySpark).take(5)}")
    }
  }

  test("draining st1 again compiles no new classes and returns the same rows") {
    val first = st1()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = st1()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    assert(compiled == 0, s"the repeated drain compiled $compiled classes")
    assert(first.nonEmpty && second == first)
  }

  test("the caller's confs come back after a drain, and unset keys stay unset") {
    assert(confState.values.forall(_.isEmpty), s"test session has $confState")
    st1()
    assert(confState.values.forall(_.isEmpty), s"after a drain: $confState")
    val caller = Map(StreamOps.CheckpointManagerKey -> FileContextManager,
      StreamOps.IsolationKey -> "true")
    withCallerConfs(caller) {
      st1()
      assert(confState == caller.map { case (k, v) => k -> Some(v) })
    }
  }

  test("a failed drain names the query and restores the caller's confs") {
    TestDirs.withTempDir("graft_drain_fail") { dir =>
      Seq(1L, 2L).toDF("v").write.parquet(s"$dir/in")
      def failing() = StreamOps.drainToTable(
        spark.readStream.schema("v LONG").parquet(s"$dir/in")
          .select(expr("if(v > 0, raise_error('drain boom'), v)").as("v")),
        "append", "drain_fail")
      val ex = intercept[IllegalStateException](failing())
      assert(ex.getMessage.contains("drain_fail_out_") &&
        ex.getMessage.contains("drain boom"), ex.getMessage)
      assert(confState.values.forall(_.isEmpty), s"after a failed drain: $confState")
      withCallerConfs(Map(StreamOps.IsolationKey -> "true")) {
        intercept[IllegalStateException](failing())
        assert(confState == Map(StreamOps.CheckpointManagerKey -> None,
          StreamOps.IsolationKey -> Some("true")))
      }
    }
  }

  // Restart parity: st3's stateful dedup into the exactly-once parquet
  // sink, fed one file per trigger, stopped after its first committed
  // batch and restarted from the same checkpoint, must sink exactly the
  // rows of an uninterrupted run — nothing lost, nothing emitted twice.
  private def restartParity(firstManager: String, restartManager: String): Unit =
    TestDirs.withTempDir("graft_drain_restart") { dir =>
      graft.io.Tables.events(spark, Sf)
        .select($"ts", $"user_id", $"event_type")
        .repartition(12).write.parquet(s"$dir/in")
      // the file source reads files in modification-time order, which
      // would follow whichever write task finished last; name order
      // fixes the batch sequence, and with it whether the last batch
      // moves the watermark and so adds a trailing no-data batch
      val inputs = new java.io.File(s"$dir/in").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val written = inputs.map(_.lastModified).max
      inputs.zipWithIndex.foreach { case (f, i) =>
        assert(f.setLastModified(written + 1000L * (i + 1)))
      }
      // the manager conf holds for the whole run, as drainToTable holds
      // it: the file source builds its log on the stream thread
      def run(manager: String, dirName: String)(body: StreamingQuery => Unit): Unit =
        withCallerConfs(Map(StreamOps.CheckpointManagerKey -> manager)) {
          val stream = spark.readStream
            .schema("ts TIMESTAMP, user_id LONG, event_type STRING")
            .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
          val q = StreamOps.dedupWithinWatermark(
              stream, "ts", Seq("user_id", "event_type"), "365 days")
            .select($"user_id", $"event_type")
            .writeStream.outputMode("append").format("parquet")
            .option("path", s"$dir/$dirName/out")
            .option("checkpointLocation", s"$dir/$dirName/ckpt").start()
          try body(q) finally q.stop()
        }
      def sunk(dirName: String): Seq[(Long, String)] =
        try spark.read.parquet(s"$dir/$dirName/out").as[(Long, String)].collect().toSeq
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      def commits(dirName: String): Int =
        Option(new java.io.File(s"$dir/$dirName/ckpt/commits").list())
          .map(_.count(_.forall(_.isDigit))).getOrElse(0)

      run(FileSystemManager, "whole")(_.processAllAvailable())
      assert(commits("whole") == 12)

      val first = launches(run(firstManager, "cut") { _ =>
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (sunk("cut").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      })
      val cutAt = commits("cut")
      assert(cutAt > 0 && cutAt < 12, s"the first run committed $cutAt of 12 batches")
      // the first run really wrote its checkpoint with `firstManager`
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
        assert(first.exists(program(_) == "readlink") == (firstManager == FileContextManager))
      val restarted = launches(run(restartManager, "cut")(_.processAllAvailable()))
      assert(commits("cut") == 12)
      assert(!restarted.exists(program(_) == "readlink"),
        "the restarted run checkpointed through the FileContext manager")
      // only Spark's managers fork a chmod per checkpoint file. Counted
      // on the offset and commit logs, which only a run's own query
      // thread writes: tasks of the stopped run's last batch may still
      // be writing state deltas through its manager after the restart
      // began, and the parquet sink's files fork a chmod under any manager
      def logChmods(run: Seq[String]): Seq[String] = run.filter(c => program(c) == "chmod" &&
        Seq("offsets", "commits").exists(log => c.contains(s"$dir/cut/ckpt/$log/")))
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
        assert(logChmods(first).nonEmpty == (firstManager != GraftManager),
          logChmods(first).take(3))
        assert(logChmods(restarted).nonEmpty == (restartManager != GraftManager),
          logChmods(restarted).take(3))
      }
      val want = sunk("whole")
      val got = sunk("cut")
      assert(want.nonEmpty && got.sorted == want.sorted,
        s"restarted=${got.size} uninterrupted=${want.size} " +
          s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    }

  test("restart parity: FileSystem manager, stopped partway and restarted") {
    restartParity(GraftManager, GraftManager)
  }

  test("restart parity: a FileContext checkpoint restarts under the FileSystem manager") {
    restartParity(FileContextManager, GraftManager)
  }

  test("restart parity: a checkpoint of Spark's FileSystem manager restarts under graft's") {
    restartParity(FileSystemManager, GraftManager)
  }
}
