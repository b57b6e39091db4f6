package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, the test fixture and the dev
  * tools all run the same config, so a result or a timing from one is
  * comparable with the others. Per-run knobs (Bench's data-sized shuffle
  * cap, a tool's AQE switch, the log level) are runtime `spark.conf` /
  * `setLogLevel` calls on the returned session. */
object GraftSession {

  /** A `local[cpus]` session (or the active one, if it exists):
    *  - one shuffle partition per cpu;
    *  - UTC session time zone, so event-time days match the oracle's;
    *  - a codegen-class cache sized to the suite: Spark's default LRU of
    *    100 generated classes is evicted by the ~300 declared queries'
    *    whole-stage units before a second pass can reuse them (measured
    *    on the 60 most expensive lines at 32 cpus: min-of-two total
    *    127.5s → 97.1s). It caches compiled code only, keyed by the
    *    generated source — never results;
    *  - no UI, and a temp warehouse deleted at shutdown;
    *  - the stream-state listener, registered before any stream starts
    *    (see `StateMetrics.ensureListener`). */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.io.TempDir("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.streaming.StateMetrics.ensureListener(s)
    s
  }
}
