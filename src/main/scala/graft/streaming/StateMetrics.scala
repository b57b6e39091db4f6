package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** State-store observability for the streaming tier: for every drained
  * run the collector captures (a) the PEAK total state rows the query's
  * stateful operators held, (b) the PEAK state-store memory in BYTES
  * (`stateOperators.memoryUsedBytes` — a wide payload can grow bytes
  * linearly at constant rows, so rows alone can't certify bounded
  * state), and (c) the rows dropped by watermarks — per-run totals,
  * max-merged across runs so a session that replays the same stream
  * (warmup + bench reps) reports ONE run's drops, not a
  * session-lifetime sum. Bench emits
  * the collected maps as `stream_state_rows` / `stream_state_bytes`
  * sidelines in BENCH_FULL.json, so the "watermark-bounded state"
  * claims on st9/st10/st12 are MEASURED per round instead of asserted.
  *
  * Collection is listener-based (round-13, ADVICE fix): the old form
  * read `q.recentProgress` after the run, a bounded rolling buffer
  * (default 100 entries) that undercounts the `:late` total — and can
  * miss the true peak — on runs with more micro-batches than the
  * buffer. A [[StreamingQueryListener]] registered BEFORE the first
  * stream starts sees every progress event exactly once; every
  * `GraftSession.local` session registers it at startup via
  * [[ensureListener]], and [[record]] keeps the recentProgress scan
  * only as a fallback for sessions that never registered.
  *
  * Every engine stream runs through [[StreamOps.drainToTable]], which
  * names its sink `<prefix>_out_<n>` (the key the listener files it
  * under) and calls [[record]] after the drain. */
object StateMetrics {

  private val peak =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Per-RUN watermark-drop totals, keyed `<q>:late:<runId>`. A bench
    * session runs the same stream prefix several times (warmup pass +
    * reps), and summing across runs multiply-counts a nonzero drop
    * exactly when it matters (round-14 ADVICE fix) — so drops
    * accumulate per runId here and only the MAX single-run total is
    * published as `<q>:late` (the peak-merge semantics rows/bytes
    * already use: "the worst run of this query this session"). */
  private val lateByRun =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Weak per-session registry: strong references here would leak
    * every stopped session (and its listener) in long-lived
    * multi-session processes — repeated test fixtures, session
    * restarts (round-14 ADVICE fix). The session itself strongly
    * holds the registered listener, so listener lifetime is unaffected. */
  private val listened = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Register the per-session progress listener (idempotent). MUST run
    * before the session's first streaming query starts — progress
    * events are not replayed to late listeners. Streams are matched by
    * the sink names [[StreamOps.drainToTable]] gives, `<prefix>_out_<n>`;
    * anonymous streams (ad-hoc tests) are ignored. */
  def ensureListener(s: SparkSession): Unit =
    if (listened.add(s)) s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val nm = Option(p.name).getOrElse("")
        val cut = nm.indexOf("_out_")
        if (cut > 0) {
          val q = nm.substring(0, cut)
          recordRaw(q, p.stateOperators.map(_.numRowsTotal).sum)
          recordRaw(s"$q:bytes",
            p.stateOperators.map(_.memoryUsedBytes).sum)
          recordLate(q, p.runId.toString,
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        }
      }
    })

  /** Post-run backstop. With the session listener active (the normal
    * path) the peaks are already exact and this max-merge is a no-op;
    * without it, fall back to the recentProgress scan — bounded at
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
    * entries, so `:late` and the peaks UNDERCOUNT past that many
    * micro-batches (why the listener path is primary). */
  def record(name: String, q: StreamingQuery): Unit = {
    recordRaw(name, q.recentProgress.map(p =>
      p.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max))
    recordRaw(s"$name:bytes", q.recentProgress.map(p =>
      p.stateOperators.map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max))
    if (!listened.contains(q.sparkSession))
      recordRaw(s"$name:late", q.recentProgress.map(p =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)
  }

  /** Max-merge entry (peaks). Exposed for StateMetricsSpec to exercise
    * [[violations]] without a live streaming query. */
  private[graft] def recordRaw(name: String, rows: Long): Unit =
    peak.merge(name, rows, math.max(_, _)): Unit

  /** Watermark-drop entry from one progress event of run `runId`:
    * accumulates within the run, publishes the max single-run total
    * as `<q>:late` (see [[lateByRun]]). */
  private[graft] def recordLate(q: String, runId: String, n: Long): Unit =
    recordRaw(s"$q:late", lateByRun.merge(s"$q:late:$runId", n, _ + _))

  /** Additive entry (single-run totals, e.g. watermark-dropped rows
    * of one drained run — the listener path accumulates per runId and
    * publishes via [[recordRaw]] max-merge instead). */
  private[graft] def addRaw(name: String, n: Long): Unit =
    peak.merge(name, n, _ + _): Unit

  /** Test hook: drop all recorded peaks. */
  private[graft] def reset(): Unit = { peak.clear(); lateByRun.clear() }

  /** Peak state rows per recorded stream query (bench-run lifetime). */
  def snapshot: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    peak.asScala.toMap
  }

  /** Declared state-size ceiling: `abs + perInput × nInput` rows.
    * Set at ~1.5–2× the measured sf0.1 ratio (BENCH_FULL round 10), so
    * routine variance passes and a structural regression — a dropped
    * watermark, a key-cardinality state leak, an accidentally stateful
    * rewrite — trips the ALARM (round-11, VERDICT item 9): Bench marks
    * the query failed, so super-linear state growth fails the round
    * instead of hiding in a sideline. */
  final case class Ceiling(abs: Long, perInput: Double)

  /** Per-query ceilings. Key-cardinality states (per-user folds) sit
    * ~0.015×events at every SF — capped at 0.05×; stream-stream join
    * state measured 0.4× — capped 0.8×; st10's dedup state holds every
    * id inside the watermark (linear BY CONTRACT, measured 0.95×) —
    * capped 1.5×; sketch states are absolute (st17 = 2^12 HLL
    * registers EXACTLY, st20 quantile bins); st22 is PINNED stateless
    * — if the serving path ever grows state, that's a design
    * regression worth failing. */
  val ceilings: Map[String, Ceiling] = Map(
    "st1"  -> Ceiling(256, 0.01),
    "st2"  -> Ceiling(64, 0.05),
    "st3"  -> Ceiling(64, 0.2),
    "st4"  -> Ceiling(64, 0.05),
    "st5"  -> Ceiling(64, 0.05),
    "st6"  -> Ceiling(64, 0.05),
    "st7"  -> Ceiling(64, 0.0),
    "st8"  -> Ceiling(64, 0.0),
    "st9"  -> Ceiling(256, 0.8),
    "st10" -> Ceiling(256, 1.5),
    // st11's state is windowed-agg GROUP cardinality — day-windows ×
    // 5 segments × 5 types — bounded by the data's CALENDAR SPAN, not
    // by input rows (measured 750 at sf0.01 = 30 days × 25; 2250 at
    // sf0.1's 90 days). When Bench supplies the measured span,
    // [[violations]] derives the cap as days × 25 × 2 (margin), so a
    // longer-calendar SF can't false-trip (round-13 ADVICE fix); the
    // absolute 4096 here is only the no-span fallback (valid for spans
    // ≤ ~163 days). A per-user or per-event leak lands ≥ 150×25 ≫
    // either form, so the ALARM keeps its teeth.
    "st11" -> Ceiling(4096, 0.0),
    "st12" -> Ceiling(256, 0.8),
    "st13" -> Ceiling(64, 0.05),
    "st14" -> Ceiling(64, 0.05),
    "st15" -> Ceiling(64, 0.05),
    "st16" -> Ceiling(64, 0.05),
    "st17" -> Ceiling(4096, 0.0),
    "st18" -> Ceiling(4096, 0.0),
    "st19" -> Ceiling(64, 0.05),
    "st20" -> Ceiling(64, 0.0),
    // st21's state is one row per touched CMS cell — structurally
    // ≤ depth × width = 4096 EXACTLY, input-independent (measured 2441
    // cells at sf0.01). Same round-12 recalibration as st11: the
    // perInput model was the wrong shape for a sketch-bounded state.
    "st21" -> Ceiling(4096, 0.0),
    "st22" -> Ceiling(0, 0.0),
    // st28/st30 stream stateless near-dedup (in-row signatures /
    // hyperplane buckets + stream-static index joins — no aggregation,
    // no state store); pinned 0 like st22
    "st28" -> Ceiling(0, 0.0),
    "st30" -> Ceiling(0, 0.0),
    // st31: st28's shape at the derived-F two-family composition —
    // still in-row signatures + stream-static index joins, state 0
    "st31" -> Ceiling(0, 0.0),
    "st23" -> Ceiling(64, 0.05),
    // st24 is a stream-STATIC join — stateless by construction (the
    // dimension is a batch frame re-joined per micro-batch, no state
    // store); pinned at 0 like st22 so an accidentally stateful
    // rewrite fails the bench.
    "st24" -> Ceiling(0, 0.0),
    // st25's state is the complete-mode feature aggregate over
    // exactly 8 (channels, bucket) groups — input-independent like
    // the sketch lines (the JPEG decode itself is stateless
    // per-partition work).
    "st25" -> Ceiling(64, 0.0),
    // st26 mirrors st25 for the FLAC decode: an 8-row complete-mode
    // bucket aggregate, input-independent.
    "st26" -> Ceiling(64, 0.0),
    // st27's state is one KMV register SET per group (5 event types,
    // each an Array[Long] of ≤ k=256 hashes in a single state-store
    // row) — the kmvRegisterStream CRDT bound: rows = group count,
    // bytes ≤ groups × k × 8 ≈ 10 KiB, both input-independent.
    "st27" -> Ceiling(64, 0.0))

  /** Stream lines whose state is structurally ZERO (round-16, VERDICT
    * item 5): st22 serves the NB model via stream-static joins
    * (round-19 rebuild — likelihood/prior frames joined per
    * micro-batch, no state store, nothing collected to the driver)
    * and st24 re-joins a static dimension frame per micro-batch
    * (stream-static joins keep no join state).
    * Declared explicitly so the two directions both alarm: state
    * APPEARING on these lines trips their 0-row ceiling, and state
    * VANISHING on every OTHER measured line — a dead listener, a
    * stream accidentally rewritten stateless, a state-loss regression
    * — trips [[shapeViolations]] instead of silently reading as
    * "ceilings green on zero". */
  val statelessByDesign: Set[String] =
    Set("st22", "st24", "st28", "st30", "st31")

  /** Measured stream lines that violate their declared state SHAPE:
    * a ceilinged stateful query that recorded ZERO peak rows (or zero
    * bytes with nonzero rows). Only lines present in the snapshot are
    * checked — a subset bench run doesn't false-trip on queries that
    * never ran. */
  def shapeViolations: Seq[String] = {
    val snap = snapshot
    snap.toSeq.sorted.collect {
      case (name, rows) if !name.contains(":") &&
          ceilings.contains(name) && !statelessByDesign(name) &&
          (rows == 0L || snap.getOrElse(s"$name:bytes", 0L) == 0L) =>
        s"$name: expected nonzero state (rows=$rows, " +
          s"bytes=${snap.getOrElse(s"$name:bytes", 0L)}) — state-loss " +
          "regression or dead metrics listener"
    }
  }

  /** Byte ceiling per state row: measured sf0.1 state averages ~100–400
    * bytes/row in the HDFS-backed store (events-shaped keys + agg
    * payloads); 4 KiB/row leaves ~10× headroom for payload growth while
    * a wide-payload state leak (bytes up at constant rows — the failure
    * rows-only ceilings can't see) still trips. The absolute floor
    * covers store overhead on tiny/stateless-adjacent states. */
  private val bytesPerRowCap = 4096L
  private val bytesAbsFloor = 16L << 20 // 16 MiB

  /** Rows cap for `name` at `nInput` input rows; `spanDays` > 0
    * replaces st11's absolute fallback with the honest calendar-span
    * bound (see the ceilings note). */
  private def rowsCap(name: String, c: Ceiling, nInput: Long,
                      spanDays: Long): Long =
    if (name == "st11" && spanDays > 0) spanDays * 25L * 2L
    else c.abs + (c.perInput * nInput).toLong

  /** Recorded stream queries whose peak state exceeds their declared
    * ceiling at `nInput` input rows — empty on a healthy run. Checks
    * BOTH forms: `st9` (rows > rows-cap) and `st9:bytes`
    * (bytes > max(floor, rows-cap × 4 KiB)). */
  def violations(nInput: Long, spanDays: Long = 0L): Seq[(String, Long, Long)] =
    snapshot.toSeq.sorted.flatMap { case (name, v) =>
      if (name.endsWith(":bytes")) {
        val base = name.dropRight(6)
        ceilings.get(base).flatMap { c =>
          val cap = math.max(bytesAbsFloor,
            rowsCap(base, c, nInput, spanDays) * bytesPerRowCap)
          if (v > cap) Some((name, v, cap)) else None
        }
      } else if (name.contains(":")) None
      else ceilings.get(name).flatMap { c =>
        val cap = rowsCap(name, c, nInput, spanDays)
        if (v > cap) Some((name, v, cap)) else None
      }
    }
}
