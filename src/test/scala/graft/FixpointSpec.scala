package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Components
import graft.operators.Fixpoint

/** The loop driver's contracts: an observed stop metric reads the same
  * number as the explicit count it replaces and costs no job of its
  * own (AQE on and off), the round budget and the cut cadence hold,
  * and the components resolver stops at the round the separate
  * changed-label count stopped at. In-memory fixtures only. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Chain 1–9 plus the pair (100, 101), both directions. */
  private def chainSym(): DataFrame = {
    val e = ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a", "b")
    e.unionByName(e.select($"b".as("a"), $"a".as("b")))
  }

  /** One min-label + pointer-jumping round (the resolver's step),
    * carrying the round's starting label as `old`. */
  private def step(sym: DataFrame)(labels: DataFrame, round: Int): DataFrame = {
    val nbrMin = sym.join(labels.select($"id".as("b"), $"label".as("nl")), "b")
      .groupBy($"a".as("id")).agg(min($"nl").as("nl"))
    val p = labels.join(nbrMin, Seq("id"), "left")
      .select($"id", $"label".as("old"),
        least($"label", coalesce($"nl", $"label")).as("label"))
    p.join(p.select($"id".as("label"), $"label".as("gl")), Seq("label"), "left")
      .select($"id", least($"label", coalesce($"gl", $"label")).as("label"), $"old")
  }

  private def labels0(sym: DataFrame): DataFrame =
    sym.select($"a".as("id")).distinct().withColumn("label", $"id")

  private val changed = sum(when($"label" =!= $"old", 1L).otherwise(0L))

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(l)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("the observed metric equals the explicit count it replaces") {
    val sym = chainSym().localCheckpoint()
    val observed = Seq.newBuilder[Long]
    val a = Fixpoint.run(labels0(sym), 25, cutEvery = 1,
        stop = Some(Fixpoint.Observed(changed, { (_, n) =>
          observed += n; n == 0L }))) (step(sym))
    val counted = Seq.newBuilder[Long]
    val b = Fixpoint.run(labels0(sym), 25, cutEvery = 1,
        stop = Some(Fixpoint.Checked { (_, cut, _) =>
          val n = cut.filter($"label" =!= $"old").count()
          counted += n; n == 0L })) (step(sym))
    assert(observed.result() === counted.result())
    assert(observed.result().last === 0L && observed.result().head > 0L)
    assert(a.rounds === b.rounds && a.converged && b.converged)
    // the Long metric also reads an empty state as 0, not null
    val empty = Fixpoint.run(labels0(sym).limit(0), 3, cutEvery = 1,
      stop = Some(Fixpoint.Observed(changed, (_, n) => n == 0L))) (step(sym))
    assert(empty.converged && empty.rounds === 1)
  }

  test("the observed metric runs no job beyond the cut, AQE on and off") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    try {
      for (aqe <- Seq("true", "false")) {
        spark.conf.set(key, aqe)
        val sym = chainSym().localCheckpoint()
        def once(stop: Option[Fixpoint.Stop]): Unit =
          Fixpoint.run(labels0(sym), 1, cutEvery = 1, stop = stop)(step(sym))
        val cutAlone = jobsOf(once(None))
        val observed = jobsOf(once(Some(Fixpoint.Observed(changed, (_, _) => false))))
        val counted = jobsOf(once(Some(Fixpoint.Checked((_, c, _) =>
          c.filter($"label" =!= $"old").count() == 0L))))
        assert(cutAlone > 0, s"aqe=$aqe")
        assert(observed === cutAlone, s"aqe=$aqe: observed $observed vs cut $cutAlone")
        assert(counted > cutAlone, s"aqe=$aqe: the explicit count is a job of its own")
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("maxRounds is honoured, and the cadence decides which rounds are cut") {
    val init = spark.range(10).toDF("id")
    def isCut(df: DataFrame): Boolean =
      df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    var calls = 0
    val never = Fixpoint.run(init, 3, cutEvery = 1,
        stop = Some(Fixpoint.Observed(count(lit(1)), (_, _) => false))) { (s, _) =>
      calls += 1; s.select(($"id" + 1).as("id"))
    }
    assert(never.rounds === 3 && calls === 3 && !never.converged)
    assert(never.state.as[Long].collect().sorted.toSeq === (3L until 13L))
    val seen = Seq.newBuilder[Boolean]
    def every2(cutLast: Boolean): Fixpoint.Result =
      Fixpoint.run(init, 3, cutEvery = 2, cutLast = cutLast) { (s, _) =>
        seen += isCut(s); s.select(($"id" + 1).as("id"))
      }
    assert(!isCut(every2(cutLast = false).state))
    // rounds 1 and 3 read the initial and the round-2 state
    assert(seen.result() === Seq(false, false, true))
    assert(isCut(every2(cutLast = true).state))
    assert(Fixpoint.run(init, 0, cutEvery = 1)((s, _) => s).rounds === 0)
  }

  test("the resolver stops at the round the changed-label count stopped at") {
    val sym = chainSym().localCheckpoint()
    // the former loop: propagate + jump, cut, then join the new labels
    // to the old ones and count the changed rows
    var labels = labels0(sym).localCheckpoint()
    var rounds = 0
    var changes = -1L
    while (changes != 0L) {
      val next = step(sym)(labels, rounds + 1).select($"id", $"label").localCheckpoint()
      changes = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter($"label" =!= $"old").count()
      labels = next
      rounds += 1
    }
    assert(rounds > 1, "the chain needs more than one round")
    def resolve(maxIter: Int): Map[Long, Long] =
      Components.resolve(sym, maxIter, collectEdgeThreshold = 0L)
        .as[(Long, Long)].collect().toMap
    assert(resolve(rounds) === labels.as[(Long, Long)].collect().toMap)
    intercept[IllegalArgumentException](resolve(rounds - 1))
  }
}
