package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.EventsLayout
import graft.queries.{DedupSimPack, MlPack}

/** The session store's lifecycle at sf0.001: which stages a query
  * reads (what Bench derives its setup lines and re-time rebuilds
  * from), nested builds on a cold store, and what `clearPackCaches`
  * releases and keeps. */
class StoreLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  private def stagesRead(name: String): Set[String] = {
    val before = SparkEntry.stages.map(_.reads(spark))
    run(name)
    SparkEntry.stages.zip(before).collect {
      case (st, n) if st.reads(spark) > n => st.name
    }.toSet
  }

  test("the seven stages keep their setup-line names and build order") {
    assert(SparkEntry.stages.map(_.name) == Seq("setup_dedup_shared",
      "setup_ml_features", "setup_corr_graph", "setup_graph_shared",
      "setup_events_part", "setup_bucketed", "setup_zorder"))
    assert(SparkEntry.stages.filter(_.diskBacked).map(_.name) ==
      Seq("setup_events_part", "setup_bucketed", "setup_zorder"))
  }

  test("j6_knn reads only setup_ml_features; q1_pricing reads no stage") {
    SparkEntry.clearPackCaches(spark)
    assert(stagesRead("j6_knn") == Set("setup_ml_features"))
    assert(stagesRead("q1_pricing").isEmpty)
  }

  test("a nested build on a cold store succeeds (m2_kmeans builds the features)") {
    SparkEntry.clearPackCaches(spark)
    assert(stagesRead("m2_kmeans") == Set("setup_ml_features"))
  }

  test("clearPackCaches unpersists the stage frames and keeps the events layout") {
    SparkEntry.clearPackCaches(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    MlPack.buildSharedStage(spark, sf)
    MlPack.buildCorrStage(spark, sf)
    DedupSimPack.buildSharedStage(spark, sf)
    val built = sc.getPersistentRDDs.keySet -- before
    // features, corr graph, shingles, signatures, verified pairs
    assert(built.size >= 5, s"stage builds persisted only $built")
    val layout = EventsLayout.path(spark, sf)
    val queries = Seq("m2_kmeans", "d2_minhash_lsh", "m11_pagerank")
    val rows = queries.map(run)

    SparkEntry.clearPackCaches(spark)
    val left = sc.getPersistentRDDs.keySet intersect built
    assert(left.isEmpty, s"still persisted after clear: $left")
    sc.setJobGroup("layout-reread", "events layout after clear")
    try assert(EventsLayout.path(spark, sf) == layout)
    finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("layout-reread").isEmpty,
      "the disk-backed events layout was rewritten after the clear")
    assert(new java.io.File(layout).isDirectory)

    assert(queries.map(run) == rows, "re-running after the clear changed rows")
  }

  test("clearPackCaches releases what query paths persist (cdc4, s13, g14, m9)") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    // each query persists a frame on its own path: cdc4's SCD2 history,
    // s13's MMR pool, and Metrics.perClassF1's confusion counts (g14
    // directly, m9 through ClassifierPipeline)
    val left = Seq("cdc4_snapshot_diff", "s13_mmr_diverse", "g14_f1",
      "m9_classifier").flatMap { name =>
      SparkEntry.clearPackCaches(spark)
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      run(name)
      // lineage cuts (Fixpoint.cut's local checkpoints) included: the
      // store records their RDD ids
      val added = sc.getPersistentRDDs.keySet -- before
      assert(!cache.isEmpty && added.nonEmpty, s"$name persisted nothing")
      SparkEntry.clearPackCaches(spark)
      val rdds = sc.getPersistentRDDs.keySet intersect added
      if (cache.isEmpty && rdds.isEmpty) None
      else Some(s"$name: cached entries left: ${!cache.isEmpty}, " +
        s"persistent RDDs left: $rdds")
    }
    assert(left.isEmpty, left.mkString("still persisted after clear:\n", "\n", ""))
  }

  // jobs a builder runs before it returns its frame (the eager work)
  private def builderJobs(name: String): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, sf)
      Bus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("m6/m6i/m10/m10i collect the corr network once; a clear rebuilds it") {
    val net = Seq("m6_louvain", "m6i_louvain_inv", "m10_layout", "m10i_layout_inv")
    SparkEntry.clearPackCaches(spark)
    val first = net.map(builderJobs)
    val rows = net.map(run)
    // m6 builds the memo; m6i then runs only the lazy candidate count
    // (one action: under AQE each of its shuffle stages is its own
    // job), and m10 and m10i read values the memo already holds
    val (build, count) = (first(0), first(1))
    assert(build > 0 && count > 0 && first.drop(2) == Seq(0, 0),
      s"jobs per builder on a cold store: $first")

    SparkEntry.clearPackCaches(spark)
    // m10i builds the memo this time: the build and the count, once
    assert(net.reverse.map(builderJobs) == Seq(build + count, 0, 0, 0))
    assert(net.map(run) == rows, "outputs changed with the other builder first")
  }

  test("m15_lpa runs a fixed, small builder job count on a warm corr stage") {
    // the edge list fits on the driver: one probe and one collect, then
    // the five rounds run there. The distributed rounds ran 12 builder
    // jobs here (14 on the first read), and 8 or 11 in perfbench's
    // graph_ml passes at sf0.01.
    SparkEntry.clearPackCaches(spark)
    MlPack.buildCorrStage(spark, sf)
    val jobs = Seq.fill(3)(builderJobs("m15_lpa"))
    assert(jobs.distinct.size == 1 && jobs.head < 8, s"builder jobs per rep: $jobs")
  }
}
