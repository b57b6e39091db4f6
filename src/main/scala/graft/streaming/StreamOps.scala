package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.9 — green-field: the
  * reference is batch-only, these are the engine's streaming story).
  *
  *  - tumbling event-time windows with watermark = streaming W14;
  *  - stateful gaps-and-islands regime transitions via
  *    `flatMapGroupsWithState` = streaming W12 (the reference's running
  *    island state is exactly a GroupState).
  *
  * Scale: state is O(1) per key (current label + island start), and the
  * window agg is the standard partial-agg + state-store pattern.
  *
  * Every stream the engine runs starts, drains and stops in
  * [[drainToTable]]; no other file under `src/main` calls `writeStream`
  * or `processAllAvailable` (StructureGuardSpec). */
object StreamOps {

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val drainLock = new Object

  private[graft] val CheckpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"
  private[graft] val IsolationKey = "spark.sql.artifact.isolation.enabled"
  private val FileSystemManager = classOf[LocalCheckpointFileManager].getName

  /** Run `df` as a stream into a memory sink named `<prefix>_out_<n>`,
    * drain everything available, stop it, record its state peaks under
    * `prefix` ([[StateMetrics.record]]) and return the sink's table. A
    * failed stream fails the call with the sink name in the message.
    *
    * Two session confs are set for the length of the drain and then
    * restored (or unset). `start()` copies them into the stream's cloned
    * session, but a file source builds its log on the stream thread
    * from the caller's session, so they hold until the stream stops:
    *  - the checkpoint file manager becomes [[LocalCheckpointFileManager]]
    *    (Spark's FileSystem-based one, setting modes through `java.nio`)
    *    unless the caller chose one or the session checkpoints off the
    *    local file system. Without Hadoop's native library the default
    *    FileContext manager forks a `readlink` process for the symlink
    *    check of every rename (64 per stream run on perfbench's
    *    `stream` workload), and both of Spark's managers fork a `chmod`
    *    for every file, `.crc` and directory they create (about 25 per
    *    stream run); this one forks neither. `.crc` files and Spark's
    *    state-file checksums are written either way;
    *  - artifact isolation goes off unless the session added artifacts.
    *    With it on, every clone gets a new session id, so executors run
    *    its tasks in a new class loader, and the codegen cache (keyed by
    *    class loader and source) recompiles every class of a repeated
    *    stream. */
  def drainToTable(df: Dataset[_], mode: String, prefix: String): DataFrame = {
    val s = df.sparkSession
    val name = s"${prefix}_out_${sinkCounter.incrementAndGet()}"
    try withConfs(s, drainConfs(s)) {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        StateMetrics.record(prefix, q)
      } finally q.stop()
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"stream $name failed: ${e.getMessage}", e)
    }
    s.table(name)
  }

  /** The confs a drain runs under (see [[drainToTable]]). */
  private def drainConfs(s: SparkSession): Seq[(String, String)] = {
    val localRoot = s.conf.getOption("spark.sql.streaming.checkpointLocation")
      .forall { root =>
        val scheme = Option(new org.apache.hadoop.fs.Path(root).toUri.getScheme)
          .getOrElse(org.apache.hadoop.fs.FileSystem
            .getDefaultUri(s.sparkContext.hadoopConfiguration).getScheme)
        scheme == "file"
      }
    val manager =
      if (localRoot && !SessionBridge.isSet(s, CheckpointManagerKey))
        Seq(CheckpointManagerKey -> FileSystemManager)
      else Nil
    val isolation =
      if (SessionBridge.artifactsAdded(s)) Nil
      else Seq(IsolationKey -> "false")
    manager ++ isolation
  }

  /** Run `body` with `confs` set on `s`, then put back each key's value
    * or unset it if it was unset. Drains run one at a time, so two on
    * one session cannot restore each other's values. */
  private def withConfs[A](s: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = drainLock.synchronized {
    val saved = confs.map { case (k, _) =>
      k -> (if (SessionBridge.isSet(s, k)) Some(s.conf.get(k)) else None)
    }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  case class KeyedEvent(user_id: Long, t: Long, event_id: Long, event_type: String)
  case class IslandState(label: String, startT: Long)
  case class StreamTransition(user_id: Long, from_label: String, to_label: String,
                              start_time: Long, end_time: Long)

  case class ValueEvent(user_id: Long, t: Long, event_id: Long, value: Double)
  case class RollState(window: Seq[Double])
  case class RollFeature(user_id: Long, event_id: Long, t: Long,
                         ret: Option[Double], ma: Option[Double],
                         sd: Option[Double])

  /** Streaming rolling features (the W1/W4/W5 operators under
    * Structured Streaming): per-key trailing-`window` return, mean and
    * sample-std via `flatMapGroupsWithState` carrying a ring buffer of
    * the last `window` values — O(window) state per key, emitted per
    * event, exact batch parity (strict min_periods: ma/sd null until
    * the frame holds `window` rows). Rows are sorted per micro-batch;
    * cross-batch order relies on event-time-ordered delivery like
    * [[transitionsStream]]. */
  def rollingFeaturesStream(events: Dataset[ValueEvent], window: Int = 24)
      : Dataset[RollFeature] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ValueEvent], state: GroupState[RollState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          var buf = state.getOption.map(_.window.toVector).getOrElse(Vector.empty)
          val out = sorted.map { r =>
            val ret = buf.lastOption.filter(_ != 0.0).map(prev => r.value / prev - 1.0)
            buf = (buf :+ r.value).takeRight(window)
            val (ma, sd) =
              if (buf.length < window) (None, None)
              else {
                var s = 0.0
                buf.foreach(s += _) // left-to-right, matches SQL sum order
                val m = s / window
                var ss = 0.0
                buf.foreach { v => val d = v - m; ss += d * d }
                (Some(m), Some(math.sqrt(ss / (window - 1))))
              }
            RollFeature(uid, r.event_id, r.t, ret, ma, sd)
          }
          state.update(RollState(buf))
          out.iterator
      }
  }

  /** Streaming daily (tumbling) counts per label with a watermark —
    * works identically on a batch frame for testing. */
  def dailyCounts(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("day"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup (the LLM-pipeline d1 operator as a stream):
    * drops rows whose key was already seen within the watermark horizon.
    * State is one entry per distinct key inside the horizon and is
    * evicted as the watermark passes — bounded memory at any scale,
    * unlike plain `dropDuplicates` whose state grows forever. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           keyCols: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  case class EwmState(y: Double)
  case class EwmPoint(user_id: Long, event_id: Long, t: Long, ewm: Double)

  /** Streaming EWM (W9 under Structured Streaming): the one true
    * recursion carries O(1) state per key — just the previous output.
    * Recursion operand order matches [[graft.features.Ewm.ewmMean]]
    * exactly (`α·x + (1−α)·y`), so batch and stream are bit-identical. */
  def ewmStream(events: Dataset[ValueEvent], span: Double): Dataset[EwmPoint] = {
    import events.sparkSession.implicits._
    val alpha = 2.0 / (span + 1.0)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ValueEvent], state: GroupState[EwmState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          var cur = state.getOption
          val out = sorted.map { r =>
            val y = cur match {
              case Some(s) => alpha * r.value + (1.0 - alpha) * s.y
              case None => r.value
            }
            cur = Some(EwmState(y))
            EwmPoint(uid, r.event_id, r.t, y)
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Stream-stream inner join on a key with a time-interval condition
    * (right row within `lookback` BEFORE the left row) — the streaming
    * form of the range/as-of family. Both sides carry watermarks so the
    * join state store evicts rows older than the horizon: bounded state
    * at any scale, which an un-watermarked stream-stream join cannot
    * guarantee. Left columns come out prefixed `l_`, right `r_`. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String = "ts", lookback: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r, expr(
      s"l_$keyCol = r_$keyCol AND " +
        s"r_$tsCol >= l_$tsCol - INTERVAL $lookback AND r_$tsCol <= l_$tsCol"))
  }

  /** LEFT OUTER form of [[intervalJoinStream]]: matches emit as they
    * arrive; an unmatched left row emits its null-padded row only when
    * the (min-across-inputs) watermark passes the last instant a match
    * could still arrive — r_ts ≤ l_ts here, so once watermark > l_ts
    * the row is finalized and its state evicted. Left rows the final
    * watermark never passes are withheld, exactly like st10's open
    * sessions; the batch oracle applies the same finalization rule
    * explicitly. State stays O(rows per lookback+delay horizon). */
  def intervalLeftJoinStream(left: DataFrame, right: DataFrame,
                             keyCol: String, tsCol: String = "ts",
                             lookback: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r, expr(
      s"l_$keyCol = r_$keyCol AND " +
        s"r_$tsCol >= l_$tsCol - INTERVAL $lookback AND r_$tsCol <= l_$tsCol"),
      "leftOuter")
  }

  /** Stateful island transitions: one output row per label change per
    * key, carrying O(1) state across micro-batches.
    *
    * Note: rows inside a micro-batch are sorted here by (t, event_id);
    * cross-batch ordering relies on the source delivering batches in
    * event-time order (true for replayed logs / single-batch tests; a
    * production deployment would buffer out-of-order rows behind the
    * watermark first). */
  def transitionsStream(events: Dataset[KeyedEvent]): Dataset[StreamTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[KeyedEvent], state: GroupState[IslandState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamTransition]
          var cur = state.getOption
          sorted.foreach { r =>
            cur match {
              case None =>
                cur = Some(IslandState(r.event_type, r.t))
              case Some(is) if is.label != r.event_type =>
                out += StreamTransition(uid, is.label, r.event_type, is.startT, r.t)
                cur = Some(IslandState(r.event_type, r.t))
              case _ => ()
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class HoltState(n: Long, l: Double, b: Double)
  case class HoltPoint(user_id: Long, n_obs: Long, level: Double, trend: Double)

  /** Streaming Holt linear-trend smoothing (the h1_holt recurrence over
    * the raw per-user value series): state is (count, level, trend) —
    * three scalars per key — updated per event in (t, event_id) order;
    * one HoltPoint row is emitted per key per micro-batch carrying the
    * state AFTER that batch, so the final state per key is the row with
    * max n_obs (what a forecast consumer reads). Operand order matches
    * the batch fold exactly: l' = α·y + (1−α)(l+b);
    * b' = β(l'−l) + (1−β)b — bit-identical batch ≡ stream.
    *
    * Same cross-batch ordering note as [[transitionsStream]]. */
  def holtStream(events: Dataset[ValueEvent], alpha: Double,
                 beta: Double): Dataset[HoltPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ValueEvent], state: GroupState[HoltState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          var st = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0))
          sorted.foreach { r =>
            st = if (st.n == 0L) HoltState(1L, r.value, 0.0)
            else {
              val nl = alpha * r.value + (1.0 - alpha) * (st.l + st.b)
              HoltState(st.n + 1L, nl, beta * (nl - st.l) + (1.0 - beta) * st.b)
            }
          }
          state.update(st)
          Iterator.single(HoltPoint(uid, st.n, st.l, st.b))
      }
  }

  case class KalmanState(n: Long, l: Double, p: Double, k: Double,
                         lastT: Long, lastEid: Long)
  case class KalmanPoint(user_id: Long, n_obs: Long, level: Double,
                         pvar: Double, gain: Double)

  /** Streaming Kalman filter, local-level model (the w28_kalman
    * recurrence over the raw per-user value series): state is (count,
    * level, posterior variance, last gain) — four scalars per key —
    * updated per event in (t, event_id) order. Operand order matches
    * the batch fold exactly: pp = p + Q; k = pp/(pp + R);
    * l' = l + k·(y − l); p' = (1 − k)·pp — bit-identical
    * batch ≡ stream. Ordering is ENFORCED, not assumed (round-11
    * advice fix): sorting is per micro-batch only, so the state also
    * carries the last-folded (t, event_id) and an event arriving in a
    * LATER micro-batch with an EARLIER event-time fails loudly instead
    * of silently folding out of order and diverging from the batch
    * recurrence. (The fold families documented with the
    * [[transitionsStream]] caveat tolerate reordering within a batch;
    * a filter recurrence does not.) */
  def kalmanStream(events: Dataset[ValueEvent], q: Double,
                   r: Double): Dataset[KalmanPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ValueEvent], state: GroupState[KalmanState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.t, e.event_id))
          var st = state.getOption.getOrElse(
            KalmanState(0L, 0.0, 0.0, 0.0, Long.MinValue, Long.MinValue))
          sorted.foreach { e =>
            require(st.n == 0L || e.t > st.lastT ||
                (e.t == st.lastT && e.event_id > st.lastEid),
              s"kalmanStream: out-of-order event for user $uid — " +
                s"(t=${e.t}, event_id=${e.event_id}) after " +
                s"(t=${st.lastT}, event_id=${st.lastEid}); a cross-batch " +
                "reordered source would silently diverge from the batch " +
                "recurrence, so it fails instead")
            st = if (st.n == 0L)
              KalmanState(1L, e.value, 1.0, 0.0, e.t, e.event_id)
            else {
              val pp = st.p + q
              val k = pp / (pp + r)
              KalmanState(st.n + 1L, st.l + k * (e.value - st.l),
                (1.0 - k) * pp, k, e.t, e.event_id)
            }
          }
          state.update(st)
          Iterator.single(KalmanPoint(uid, st.n, st.l, st.p, st.k))
      }
  }

  case class TypedEvent(user_id: Long, t: Long, event_id: Long,
                        event_type: String, value: Double)
  case class AsofEnrichState(hasView: Boolean, viewT: Long, viewV: Double,
                             lastT: Long, lastEmitT: Long)
  case class AsofOut(user_id: Long, event_id: Long, t: Long,
                     view_t: Option[Long], view_value: Option[Double])

  /** Streaming backward as-of enrich (the serving counterpart of
    * [[graft.joins.AsOfJoin.backward]], round 11 — "attach the latest
    * quote to each trade"): per key, the state is ONE (ord, value)
    * pair — the most recent `touchType` row, ties at equal t resolved
    * by MAX value (the batch operator's max-payload-struct rule, so
    * batch ≡ stream even under duplicate per-key touch timestamps) —
    * and every `emitType` row emits immediately with that state
    * attached (or nulls before the first touch). Unlike a watermark-bounded stream-stream join
    * (st12), state is O(1) per key FOREVER — the last-value register
    * never grows — which is the right shape when the enrich source is
    * slowly-changing. Within a micro-batch rows fold in (t, touch-
    * before-emit, event_id) order, so a same-timestamp touch matches
    * its emit row inclusively (the batch join's right-before-left
    * tie rule). Cross-batch ordering is ENFORCED like [[kalmanStream]]:
    * an event arriving in a later micro-batch with an earlier
    * event-time fails loudly — emitted rows are append-only and could
    * not be retracted. */
  def asofStream(events: Dataset[TypedEvent], touchType: String,
                 emitType: String): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TypedEvent],
         state: GroupState[AsofEnrichState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.t, e.event_type == emitType, e.event_id))
          var st = state.getOption.getOrElse(
            AsofEnrichState(hasView = false, 0L, 0.0,
              Long.MinValue, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
          sorted.foreach { e =>
            // within a batch the sort guarantees non-decreasing t; the
            // guard catches a LATER batch delivering a strictly earlier
            // event-time (a same-t arrival stays tolerable — the
            // inclusive tie rule), since append-only emits can't retract
            require(e.t >= st.lastT,
              s"asofStream: out-of-order event for user $uid — " +
                s"(t=${e.t}) after (t=${st.lastT}); append-only output " +
                "cannot be retracted, so it fails instead")
            if (e.event_type == touchType) {
              // batch-parity guard (round-11 advice): a touch at exactly
              // the time of an ALREADY-EMITTED row would have matched it
              // under the batch join's inclusive tie rule (right-before-
              // left at equal ord), but the emit already fired in a prior
              // micro-batch and append-mode cannot retract — fail loudly
              // instead of silently diverging from the batch result.
              // Within one batch this cannot trip: the sort folds every
              // same-t touch before the emit.
              require(e.t > st.lastEmitT,
                s"asofStream: touch at t=${e.t} for user $uid arrives " +
                  s"after an emit already fired at t=${st.lastEmitT}; " +
                  "the batch as-of join would have matched it " +
                  "(inclusive tie), so append-only output cannot honor it")
              // same-t touch tie rule = the batch operator's max-payload
              // rule (AsOfJoin.backward orders the fill window by the
              // payload struct, so among right rows tied on ord the max
              // value wins) — NOT last-arrival-wins (round-11 advice)
              if (!st.hasView || e.t > st.viewT ||
                  (e.t == st.viewT && e.value > st.viewV))
                st = st.copy(hasView = true, viewT = e.t, viewV = e.value,
                  lastT = e.t)
              else st = st.copy(lastT = e.t)
            } else if (e.event_type == emitType) {
              out += AsofOut(uid, e.event_id, e.t,
                if (st.hasView) Some(st.viewT) else None,
                if (st.hasView) Some(st.viewV) else None)
              st = st.copy(lastT = e.t, lastEmitT = e.t)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class RegisterRow(bucket: String, rank: Int)
  case class RegisterOut(bucket: String, r: Int)

  /** Streaming HyperLogLog registers: HLL register state is a
    * max-merge CRDT, so keying the stream BY REGISTER BUCKET and
    * keeping a running max rank per bucket IS the batch sketch of
    * everything ever seen — state per key is a single int, key
    * cardinality is capped at m = 2^p, and the emitted per-batch
    * register values dedupe downstream with a plain max. The batch
    * hll1 oracle checks the streaming estimate unchanged (st17):
    * streaming ≡ batch for free because max is order-insensitive —
    * no event-time ordering caveat at all, unlike the fold family. */
  def hllRegisterStream(regs: Dataset[RegisterRow]): Dataset[RegisterOut] = {
    import regs.sparkSession.implicits._
    regs.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: String, rows: Iterator[RegisterRow], state: GroupState[Int]) =>
          var mx = state.getOption.getOrElse(0)
          rows.foreach(r => if (r.rank > mx) mx = r.rank)
          state.update(mx)
          Iterator.single(RegisterOut(bucket, mx))
      }
  }

  case class KmvRow(g: String, h: Long)
  case class KmvOut(g: String, h: Long)

  /** Streaming KMV registers: the bottom-k distinct hashes per group
    * are a CRDT under (union, keep-k-smallest) — the k-th smallest
    * only ever decreases — so keying the stream BY GROUP with a sorted
    * bounded state set IS the batch sketch of everything ever seen
    * (the [[hllRegisterStream]] argument, for order statistics).
    * State ≤ k longs per group; each micro-batch emits the post-batch
    * retained set of touched groups, and emissions dedupe downstream
    * with a plain bottom-k-distinct: every final register was emitted
    * on its arrival batch or later, and every emitted non-final hash
    * is ≥ the final h_(k), so the batch-side bottom-k of the union of
    * emissions IS the final retained set. Distinct-hash insertion is
    * order-insensitive → streaming ≡ batch against the unchanged
    * grouped-estimate oracle (st27), no event-time caveat. */
  def kmvRegisterStream(rows: Dataset[KmvRow], k: Int): Dataset[KmvOut] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KmvRow], state: GroupState[Array[Long]]) =>
          val cur = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(a => cur ++= a)
          it.foreach { r =>
            cur += r.h
            if (cur.size > k) cur -= cur.last
          }
          val arr = cur.toArray
          state.update(arr)
          arr.iterator.map(h => KmvOut(g, h))
      }
  }

  case class BucketRow(bucket: Long)
  case class BucketCount(bucket: Long, c: Long)

  /** Streaming histogram counts: per-bucket RUNNING count — a
    * monotone-increasing per-key long, so the emitted per-batch values
    * dedupe downstream with a plain max (the [[hllRegisterStream]]
    * CRDT argument, for counters: the latest running count is the
    * largest). Keyed by histogram bucket, so state and key cardinality
    * are both capped at nBins regardless of stream volume; each
    * micro-batch emits the post-batch count per TOUCHED bucket. Counts
    * are order-insensitive — streaming ≡ batch with no event-time
    * caveat (st18 hash-checks against the unchanged batch oracle). */
  def bucketCountStream(rows: Dataset[BucketRow]): Dataset[BucketCount] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: Long, it: Iterator[BucketRow], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          it.foreach(_ => n += 1)
          state.update(n)
          Iterator.single(BucketCount(bucket, n))
      }
  }

  case class CusumState(n: Long, sp: Double, sn: Double, al: Long)
  /** A value event carrying its key's calibrated prior (μ, σ) — the
    * product of a stream-static join against the batch-aggregated
    * prior frame, so the prior arrives ON THE ROW instead of in a
    * driver-collected Map. At 100 TB user cardinality the prior is
    * itself big data; joining it in keeps calibration distributed
    * end-to-end (the driver never materializes per-key stats). */
  case class PrioredEvent(user_id: Long, t: Long, event_id: Long,
                          value: Double, mu: Double, sd: Double)
  case class CusumPoint(user_id: Long, n_obs: Long, n_alarms: Long,
                        sp: Double, sn: Double)

  /** Streaming two-sided CUSUM (the a3_cusum recurrence under
    * Structured Streaming): per-key O(1) state — (n, s⁺, s⁻, alarms) —
    * against a CALIBRATED prior (per-key μ/σ fitted on history). The
    * prior rides each row via a STREAM-STATIC JOIN upstream (see
    * [[PrioredEvent]]): Structured Streaming joins a static
    * aggregated frame directly, so the two-phase calibrate-then-
    * monitor deployment needs no driver-side Map even at 100 TB key
    * cardinality — keys absent from the prior are dropped by the
    * join's inner semantics before they reach the state store. Each
    * micro-batch emits the post-batch state per touched key; the
    * declared result takes the max-n row per key (the st15
    * convention).
    *
    * Operand order matches the batch fold EXACTLY:
    * s⁺' = max(0, s⁺ + (v − μ) − 0.5σ), s⁻' = max(0, s⁻ − (v − μ) −
    * 0.5σ), alarm when either exceeds 4σ, then reset — bit-identical
    * batch ≡ stream. Same cross-batch ordering note as
    * [[transitionsStream]]. */
  def cusumStream(events: Dataset[PrioredEvent]): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[PrioredEvent], state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          // every row of a key carries the same joined prior
          val mu = sorted.head.mu
          val sd = sorted.head.sd
          var st = state.getOption.getOrElse(CusumState(0L, 0.0, 0.0, 0L))
          sorted.foreach { r =>
            val sp1 = math.max(0.0, st.sp + (r.value - mu) - 0.5 * sd)
            val sn1 = math.max(0.0, st.sn - (r.value - mu) - 0.5 * sd)
            st = if (sp1 > 4.0 * sd || sn1 > 4.0 * sd)
              CusumState(st.n + 1L, 0.0, 0.0, st.al + 1L)
            else CusumState(st.n + 1L, sp1, sn1, st.al)
          }
          state.update(st)
          Iterator.single(CusumPoint(uid, st.n, st.al, st.sp, st.sn))
      }
  }

  case class FunnelState(stage: Int, ts: Long)
  case class StageReach(user_id: Long, stage_idx: Int)

  /** Streaming ordered funnel (the f1_funnel semantics under
    * Structured Streaming): per-user O(1) state — (stage reached,
    * event time of the last advance) — updated as events arrive; one
    * StageReach row is emitted per advance, so a downstream
    * count-per-stage equals "users reaching ≥ stage" exactly as in the
    * batch query, and BOTH are checked against the SAME oracle. Stage
    * k advances only on a strictly LATER event of the k-th type
    * (same-µs ties cannot double-advance — the batch fold's contract).
    *
    * Same cross-batch ordering note as [[transitionsStream]]: rows are
    * sorted (t, event_id) within a micro-batch; cross-batch order
    * relies on the source replaying in event-time order. */
  def funnelStream(events: Dataset[KeyedEvent],
                   stages: Seq[String]): Dataset[StageReach] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[KeyedEvent], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.t, r.event_id))
          var st = state.getOption.getOrElse(FunnelState(0, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageReach]
          sorted.foreach { r =>
            if (st.stage < stages.size && r.event_type == stages(st.stage)
                && r.t > st.ts) {
              st = FunnelState(st.stage + 1, r.t)
              out += StageReach(uid, st.stage)
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
