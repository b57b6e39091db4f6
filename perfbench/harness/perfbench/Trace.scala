package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Block-manager occupancy of RDD blocks (persisted and checkpointed
  * frames), kept exactly from block-update events: the bytes and block
  * count live at any moment and their peaks since the last [[resetPeak]]. */
final class BlockTracker extends SparkListener {
  private val live = mutable.HashMap[String, Long]()
  private var bytes, peakBytes = 0L
  private var peakBlocks = 0

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val id = i.blockId.name
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      bytes += size - live.getOrElse(id, 0L)
      if (size > 0) live(id) = size else live.remove(id)
      peakBytes = math.max(peakBytes, bytes)
      peakBlocks = math.max(peakBlocks, live.size)
    }
  }

  def resetPeak(): Unit = synchronized { peakBytes = bytes; peakBlocks = live.size }

  def snapshot: Map[String, Any] = synchronized {
    Map("rdd_bytes" -> bytes, "rdd_peak_bytes" -> peakBytes, "rdd_peak_blocks" -> peakBlocks)
  }
}

/** Counts codegen fallbacks: whole-stage codegen logs a WARN and runs the
  * plan interpreted when janino rejects generated code, and the
  * expression code generator logs an ERROR when a compile fails. */
object Fallbacks {
  @volatile private var n = 0L
  private val loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen")

  def count: Long = n

  def install(): Unit = {
    val app = new AbstractAppender("perfbench-fallbacks", null, null, false,
        Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = {
        val ln = Option(ev.getLoggerName).getOrElse("")
        if (loggers.exists(ln.startsWith) && ev.getLevel.isMoreSpecificThan(Level.WARN))
          n += 1
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    loggers.foreach(l => Configurator.setLevel(l, Level.WARN))
    ctx.updateLoggers()
  }
}

/** The traced run's recorder. Registered on a session's SparkContext,
  * listener manager and stream manager, it keeps one record per Spark
  * job (with the task metrics of the stages it ran), per Catalyst phase
  * of every query execution, and per streaming progress event, in
  * memory; [[flush]] writes them out after the pass has drained. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val phases = mutable.ArrayBuffer[Seq[(String, Any)]]()
  private val streams = mutable.ArrayBuffer[Seq[(String, Any)]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "stages" -> 0, "tasks" -> 0, "run_ms" -> 0L,
      "cpu_ns" -> 0L, "gc_ms" -> 0L, "shuffle_write_bytes" -> 0L,
      "shuffle_read_bytes" -> 0L, "fetch_wait_ms" -> 0L,
      "spill_bytes" -> 0L, "input_bytes" -> 0L, "input_rows" -> 0L,
      "output_bytes" -> 0L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (j <- stageJob.get(si.stageId); rec <- jobs.get(j)) {
      def add(k: String, v: Long): Unit =
        rec(k) = rec(k).asInstanceOf[Long] + v
      rec("stages") = rec("stages").asInstanceOf[Int] + 1
      rec("tasks") = rec("tasks").asInstanceOf[Int] + si.numTasks
      Option(si.taskMetrics).foreach { m =>
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases += Seq("phase" -> phase, "start_ms" -> s.startTimeMs,
        "end_ms" -> s.endTimeMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val ops = p.stateOperators.toSeq
        streams += Seq(
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum)
      }
  }

  def flush(out: Out, pass: Int): Unit = synchronized {
    jobs.values.foreach(j => out.emit("job", (("pass" -> pass) +: j.toSeq): _*))
    phases.foreach(p => out.emit("phase", (("pass" -> pass) +: p): _*))
    streams.foreach(s => out.emit("stream", (("pass" -> pass) +: s): _*))
    jobs.clear(); stageJob.clear(); phases.clear(); streams.clear()
  }
}
