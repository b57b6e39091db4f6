package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one session-scoped store: every memoized value and every
  * internally persisted frame lives here, so one [[clear]] releases a
  * session's cached state, whoever created it.
  *
  *  - [[trackPersist]] persists a frame and remembers it. Library
  *    functions use it for mid-pipeline frames the caller never sees
  *    (the df-capped shingle table in `Dedup.blockedNgramNearDup`, the
  *    normalized embeddings in `Similarity.nearDupPairs`), and memo
  *    builds use it for the frames they hand out.
  *  - [[trackCut]] remembers the RDD behind a lineage cut
  *    (`graft.operators.Fixpoint.cut`), whose blocks would otherwise
  *    stay until the context cleaner collects the cut's frame.
  *  - [[memo]] computes a value once per (session, name, dir). Builds may
  *    nest (the verified pairs build the shingle signatures, k-means and
  *    the graph sketches build the feature frame or the corr graph), so
  *    each entry is forced outside the store's lock, under its own.
  *  - A [[Stage]] is a named memo group that `SparkEntry.stages` lists
  *    and Bench builds and times as its own setup line; the store counts
  *    each stage's reads, which tells Bench which queries read it.
  *
  * `clear(session)` unpersists the session's tracked frames and cuts,
  * and drops its memos, except a disk-backed stage's: a layout written
  * to disk survives the clear, so re-reading it costs an existence
  * check, not a rewrite. Without the clear, repeated invocations in a long-lived
  * session (or Bench's warm + measured + re-time passes) accumulate
  * cached RDD blocks indefinitely. */
object PersistRegistry {

  private final class Entry(build: () => Any, val survivesClear: Boolean) {
    // a lazy val locks this entry, not the store: a nested build of
    // another entry proceeds, and a failed build is retried next read
    lazy val value: Any = build()
  }

  // All map access is under the registry lock: a lock-free variant can
  // interleave an insert with a concurrent clear()'s remove and strand a
  // persisted frame in a dropped queue. The lock covers only
  // bookkeeping (builds and unpersists run outside it), and calls are
  // rare driver-side events, so contention is irrelevant.
  private val entries =
    scala.collection.mutable.Map[(SparkSession, String, String), Entry]()
  private val frames = scala.collection.mutable.Map[
    SparkSession, scala.collection.mutable.ArrayBuffer[DataFrame]]()
  private val readCounts = scala.collection.mutable.Map[(SparkSession, String), Long]()
  // RDD ids, not frames: a held frame would keep a cut's blocks from the
  // context cleaner, which frees them once the loop drops the frame
  private val cuts = scala.collection.mutable.Map[
    SparkSession, scala.collection.mutable.Set[Int]]()

  /** Persist `df` and remember it for a later [[clear]]. */
  def trackPersist(df: DataFrame): DataFrame = {
    df.persist()
    synchronized {
      frames.getOrElseUpdate(df.sparkSession,
        scala.collection.mutable.ArrayBuffer.empty) += df
    }
    df
  }

  /** Remember the RDD behind the lineage cut `ds` for a later [[clear]]. */
  def trackCut(ds: Dataset[_]): Unit = {
    val ids = ds.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    synchronized {
      val held = cuts.getOrElseUpdate(ds.sparkSession, scala.collection.mutable.Set.empty)
      held ++= ids
      // a session that never clears keeps only ids the cleaner has not freed
      if (held.size > 4096)
        held.filterInPlace(ds.sparkSession.sparkContext.getPersistentRDDs.contains)
    }
  }

  /** The value memoized for (session, name, dir), built on first read.
    * Every read counts toward `counter` (see [[reads]]). */
  def memo[T](s: SparkSession, name: String, dir: String,
              counter: String = "", survivesClear: Boolean = false)
             (build: => T): T = {
    val e = synchronized {
      if (counter.nonEmpty)
        readCounts((s, counter)) = readCounts.getOrElse((s, counter), 0L) + 1
      entries.getOrElseUpdate((s, name, dir), new Entry(() => build, survivesClear))
    }
    e.value.asInstanceOf[T]
  }

  /** How many times `session` has read memos counted as `counter` since
    * its last [[clear]]. */
  private[io] def reads(session: SparkSession, counter: String): Long =
    synchronized { readCounts.getOrElse((session, counter), 0L) }

  /** Unpersist every frame tracked for `session` and every cut RDD it
    * still holds, drop its memos except the disk-backed ones, and reset
    * its read counts. */
  def clear(session: SparkSession): Unit = {
    val (tracked, cutIds) = synchronized {
      entries.filterInPlace { case ((s, _, _), e) => !(s eq session) || e.survivesClear }
      readCounts.filterInPlace { case ((s, _), _) => !(s eq session) }
      (frames.remove(session), cuts.remove(session))
    }
    tracked.foreach(_.foreach(_.unpersist()))
    val live = session.sparkContext.getPersistentRDDs
    cutIds.foreach(_.foreach(id => live.get(id).foreach(_.unpersist(blocking = false))))
  }
}

/** A shared stage: memoized state several queries read, built once per
  * (session, dir). `build` materializes it; Bench times that as the
  * setup line `name`, so the first query to read the stage does not pay
  * for it. `diskBacked` marks a stage whose state is a layout on disk:
  * it survives [[PersistRegistry.clear]], so its rebuild is not a
  * second measurement of the build. */
final case class Stage(name: String, diskBacked: Boolean = false)(
    val build: (SparkSession, String) => Unit) {

  /** Memoize one value of this stage; its reads count toward the stage. */
  def memo[T](s: SparkSession, dir: String, part: String = "")(value: => T): T =
    PersistRegistry.memo(s, name + part, dir, name, diskBacked)(value)

  /** How many times `s` has read this stage's memos. */
  def reads(s: SparkSession): Long = PersistRegistry.reads(s, name)
}
