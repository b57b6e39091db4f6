package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{coalesce, lit}

/** The engine's one lineage cut and its one driver for iterative
  * DataFrame loops (PageRank, label propagation, components, k-core,
  * k-truss, Louvain, HyperANF, landmarks, grid kNN, k-means, BPE).
  *
  * Every loop keeps its state as a lazy DataFrame, so round i's plan
  * nests round i−1's. Without a cut the plan (and its recompute on a
  * lost block) grows with the round count, and a state read by two
  * branches of the next round re-executes the whole prefix once per
  * branch. [[cut]] materializes the state and truncates its lineage.
  *
  * Cadence. A loop whose state feeds ONE read of the next round cuts
  * every other round (`cutEvery = 2`): a depth-2 lineage stays linear
  * while the eager materializations, which dominate small-graph wall
  * time, are halved. At cluster scale the cadence trades job-launch
  * overhead against recompute depth, not correctness. A loop cuts every
  * round (`cutEvery = 1`) when its state is read twice per round (BPE's
  * pair count and merge, Louvain's moves), when each round's frame is
  * kept (HyperANF's shared register sequence) or when a stop rule reads
  * it. `cutLast` also cuts the final scheduled round, for callers that
  * read the result more than once.
  *
  * Stop rules are checked on cut rounds only. [[Observed]] reads a Long
  * aggregate with `Dataset.observe` on the cut, so the cut's own job
  * fills it and the check costs no job: `localCheckpoint` followed by
  * `filter(...).count()` ran 4 jobs on local[4], the observed cut 2,
  * with the same number. [[Checked]] runs its own action, for checks
  * `observe` cannot express: a comparison with an earlier state that is
  * not in the cut frame, or a distinct aggregate, which `observe`
  * rejects.
  *
  * The cut is `localCheckpoint` today: blocks live on the executor that
  * computed them, so a lost executor fails the query. Making it survive
  * that (a reliable checkpoint every k rounds, or a replicated persist)
  * is a change to [[cut]] alone.
  */
object Fixpoint {

  /** The one lineage cut: eager, executor-local materialization. The
    * store records the cut's RDD, so `PersistRegistry.clear` releases
    * its blocks. */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    val out = ds.localCheckpoint()
    graft.io.PersistRegistry.trackCut(out)
    out
  }

  /** When a loop stops before its round budget. */
  sealed trait Stop

  /** `metric` is an aggregate over the new state, cast to Long (null,
    * on an empty state, reads 0); the loop stops once
    * `done(metric at the previous cut, metric)` holds. */
  final case class Observed(metric: Column,
                            done: (Option[Long], Long) => Boolean) extends Stop

  /** `done(state at the previous cut, new cut state, round)` runs its
    * own action; it is also called on the final round, so a check that
    * only saves rounds should return false there without running. */
  final case class Checked(done: (DataFrame, DataFrame, Int) => Boolean) extends Stop

  /** The state after the last round run, the rounds run (1-based), and
    * whether the stop rule ended the loop. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  // A named observation, read from the cut's own QueryExecution: an
  // `Observation` object would install a session-wide listener that
  // re-plans every later query of the session, failed ones included.
  private val MetricName = "fixpoint_metric"

  /** Runs `step(state, round)` for rounds 1..`maxRounds`, cutting on
    * the cadence, until `stop` holds. `init` is used as given: cut it
    * first if the first round reads it more than once. */
  def run(init: DataFrame, maxRounds: Int, cutEvery: Int,
          cutLast: Boolean = false, stop: Option[Stop] = None)
         (step: (DataFrame, Int) => DataFrame): Result = {
    require(cutEvery >= 1, s"cutEvery=$cutEvery must be >= 1")
    var state = init
    var lastCut = init
    var lastMetric: Option[Long] = None
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val next = step(state, round)
      if (round % cutEvery == 0 || (cutLast && round == maxRounds)) {
        stop match {
          case Some(Observed(metric, done)) =>
            val observed = next.observe(MetricName,
              coalesce(metric.cast("long"), lit(0L)).as("metric"))
            state = cut(observed)
            // the cut executed this very QueryExecution, so its metric
            // accumulators are filled by the time cut returns
            val m = observed.queryExecution.observedMetrics(MetricName).getLong(0)
            converged = done(lastMetric, m)
            lastMetric = Some(m)
          case Some(Checked(done)) =>
            state = cut(next)
            converged = done(lastCut, state, round)
          case None =>
            state = cut(next)
        }
        lastCut = state
      } else state = next
    }
    Result(state, round, converged)
  }
}
