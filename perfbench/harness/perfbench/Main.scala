package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Runs one workload in one JVM and records raw measurements as JSON
  * lines (see [[Out]]); `perfbench/run.py` turns them into metrics.
  *
  * A run is a warm-up pass followed by timed passes. Every pass starts
  * with a set-up: a fresh session, then the workload's shared stages and
  * layouts. The warm-up pass runs each query once untimed, executing it
  * by computing its output [[Digest]]. A timed pass runs each query
  * once, in an order drawn from the seed, timing the builder call and
  * the noop write that executes the returned plan. Timed passes repeat
  * until the time budget is spent and enough executions are recorded
  * (see [[Run.timed]]). With tracing on, odd
  * passes carry the [[Tracer]] listeners and even passes do not, so the
  * run measures its own tracing overhead.
  *
  * Arguments (all required): --workload --seed --seconds --trace --data
  * --out --cpus --shuffle-partitions --local-dir --min-execs
  * --min-passes --deadline --query-timeout
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def secs(ns: Long): Double = ns / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wl = Workloads.byName(opt("workload"))
    val trace = opt("trace") == "1"
    val dir = opt("data")
    val out = new Out(opt("out"))
    val run = new Run(wl, opt("seed").toLong, trace, dir, out, opt("cpus").toInt,
      opt("shuffle-partitions").toInt, opt("local-dir"), opt("query-timeout").toDouble)
    try {
      run.warmUp()
      run.timed(opt("seconds").toDouble, opt("deadline").toDouble,
        opt("min-execs").toInt, opt("min-passes").toInt)
      out.emit("end")
    } finally {
      run.close()
      out.close()
    }
  }

  private final class Run(wl: Workload, seed: Long, trace: Boolean, dir: String,
      out: Out, cpus: Int, shufflePartitions: Int, localDir: String,
      queryTimeout: Double) {
    private val rng = new scala.util.Random(seed)
    private val queries = graft.SparkEntry.queries
    private var session: SparkSession = _
    private var blocks: BlockTracker = _
    private var tracer: Option[Tracer] = None
    private val watchdog = new Watchdog(queryTimeout)

    if (trace) Fallbacks.install()

    /** Fresh session plus the workload's shared stages and layouts. */
    private def setUp(pass: Int, traced: Boolean): Unit = {
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      session = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", localDir)
        .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      val sc = session.sparkContext
      sc.setLogLevel("ERROR")
      blocks = new BlockTracker
      sc.addSparkListener(blocks)
      tracer = if (traced) Some(new Tracer) else None
      tracer.foreach { t =>
        sc.addSparkListener(t)
        session.listenerManager.register(t)
        session.streams.addListener(t.streamListener)
      }
      val t1 = System.nanoTime
      sc.setJobGroup(s"pb-$pass-setup", "setup", interruptOnCancel = true)
      val stages = wl.stages.map { case (name, build) =>
        val s0 = System.nanoTime
        val err = try { build(session, dir); None }
          catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        name -> Map("s" -> secs(System.nanoTime - s0), "error" -> err)
      }
      sc.clearJobGroup()
      out.emit("setup", "pass" -> pass, "traced" -> traced, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis, "s" -> secs(System.nanoTime - t0),
        "session_s" -> secs(t1 - t0), "stages" -> stages.toMap)
    }

    private def tearDown(): Unit = if (session != null) {
      graft.SparkEntry.clearPackCaches(session)
      session.stop()
      session = null
    }

    def close(): Unit = {
      watchdog.stop()
      tearDown()
    }

    /** Runs one query: the builder call that returns its DataFrame, then
      * (timed passes) the noop write that executes it, or (warm-up) the
      * digest of its output, which also executes it. */
    private def execute(pass: Int, i: Int, name: String, withDigest: Boolean): Unit = {
      val sc = session.sparkContext
      val group = s"pb-$pass-$i"
      val cg0 = CodeGenerator.compileTime
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val fb0 = Fallbacks.count
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      var t1 = 0L
      var cg1 = 0L
      var err: Option[String] = None
      var dig: Option[(Long, String)] = None
      watchdog.arm(session, group)
      try {
        sc.setJobGroup(s"$group-b", name, interruptOnCancel = true)
        val df = queries(name)(session, dir)
        t1 = System.nanoTime
        cg1 = CodeGenerator.compileTime
        sc.setJobGroup(s"$group-x", name, interruptOnCancel = true)
        if (withDigest) dig = Some(Digest.of(df))
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable if NonFatal(e) || e.isInstanceOf[InterruptedException] =>
          err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      } finally {
        watchdog.disarm()
        sc.clearJobGroup()
      }
      val t2 = System.nanoTime
      val cg2 = CodeGenerator.compileTime
      if (t1 == 0L) { t1 = t2; cg1 = cg2 }
      out.emit("exec", "pass" -> pass, "i" -> i, "q" -> name, "start_ms" -> startMs,
        "builder_end_ms" -> (startMs + (t1 - t0) / 1000000L),
        "builder_s" -> secs(t1 - t0), "execute_s" -> secs(t2 - t1),
        "wall_s" -> secs(t2 - t0), "ok" -> err.isEmpty, "error" -> err,
        "codegen_builder_s" -> secs(cg1 - cg0), "codegen_execute_s" -> secs(cg2 - cg1),
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0),
        "fallbacks" -> (Fallbacks.count - fb0))
      if (withDigest)
        out.emit("digest", "q" -> name, "rows" -> dig.map(_._1),
          "hash" -> dig.map(_._2), "error" -> err)
    }

    private def runPass(pass: Int, traced: Boolean, withDigest: Boolean): Int = {
      setUp(pass, traced)
      val order = rng.shuffle(wl.queries)
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMillis
      blocks.resetPeak()
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      order.zipWithIndex.foreach { case (q, i) => execute(pass, i, q, withDigest) }
      val wall = secs(System.nanoTime - t0)
      val cpu = secs(os.getProcessCpuTime - cpu0)
      val gc = (gcMillis - gc0) / 1000.0
      org.apache.spark.perfbench.Bus.drain(session.sparkContext)
      out.emit("pass", (Seq("pass" -> pass, "traced" -> traced, "warm_up" -> withDigest,
        "start_ms" -> startMs, "wall_s" -> wall, "cpu_s" -> cpu, "jvm_gc_s" -> gc,
        "queries" -> order.size) ++ blocks.snapshot.toSeq): _*)
      tracer.foreach(_.flush(out, pass))
      tearDown()
      order.size
    }

    def warmUp(): Unit = { runPass(0, traced = false, withDigest = true); () }

    /** Timed passes until `seconds` have passed and `minPasses` and
      * `minExecs` are reached, but none starts `deadline` seconds after
      * the JVM started, so a slow host shortens the run instead of
      * stretching it; two passes run regardless, since a traced run needs
      * one traced and one untraced pass. */
    def timed(seconds: Double, deadline: Double, minExecs: Int, minPasses: Int): Unit = {
      val t0 = System.nanoTime
      def elapsed = secs(System.nanoTime - t0)
      def sinceStart =
        (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      var pass = 0
      var execs = 0
      while (pass < 2 ||
          ((pass < minPasses || execs < minExecs || elapsed < seconds) && sinceStart < deadline)) {
        pass += 1
        execs += runPass(pass, traced = trace && pass % 2 == 1, withDigest = false)
      }
    }
  }

  /** Cancels a query that runs past its time limit: every second after
    * the limit it cancels the query's job groups and stops any streaming
    * query still active, until the query returns. */
  private final class Watchdog(limitSeconds: Double) {
    @volatile private var armed: Option[(SparkSession, String, Long)] = None
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        armed.foreach { case (s, group, deadline) =>
          if (System.nanoTime > deadline) {
            val sc: SparkContext = s.sparkContext
            Seq("b", "x").foreach(k => sc.cancelJobGroup(s"$group-$k"))
            s.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
          }
        }
        Thread.sleep(1000)
      }
    }, "perfbench-watchdog")
    thread.setDaemon(true)
    thread.start()

    def arm(s: SparkSession, group: String): Unit =
      armed = Some((s, group, System.nanoTime + (limitSeconds * 1e9).toLong))
    def disarm(): Unit = armed = None
    def stop(): Unit = running = false
  }
}
