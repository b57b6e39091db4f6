package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.{PersistRegistry, Stage, Tables}
import graft.analytics.Analytics
import graft.cluster.Clustering
import graft.queries.Rx.{r4, r6}
import graft.operators.Fixpoint

/** Clustering / ML tier (SURVEY §2.10 M1-M8, §2.3 J6).
  *
  * The distributed work is the feature/edge aggregation (one groupBy over
  * the fact table → ~150 rows); KMeans/PCA/silhouette run in Spark ML,
  * DBSCAN/Louvain/knee run driver-side over the collected aggregate
  * exactly like the reference (SURVEY M4-M6 verdicts). Non-SQL-
  * expressible results are declared without oracle SQL → the driver
  * records rows-only checks.
  */
object MlPack extends QueryPack {

  // Session-scoped memos live in the PersistRegistry store: the driver
  // invokes each query separately in one session, and m2/m3/m4/m4b/m6/
  // m7/j6 all start from the same tiny standardized feature frame (and
  // m2/m3 from the same fitted KMeans) — recomputing them per query
  // would re-scan and re-fit identically.

  /** The standardized feature frame j6/m2/m3/m4/m4b/m7 read. */
  val featuresStage: Stage = Stage("setup_ml_features")(buildSharedStage)

  /** The shared correlation graph the graph tier reads. */
  val corrStage: Stage = Stage("setup_corr_graph")(buildCorrStage)

  /** The HyperANF register rounds and per-node triangle counts
    * g24/g26/g27/m12 read. Listed after [[corrStage]]: it reads the
    * corr graph. */
  val graphStage: Stage = Stage("setup_graph_shared")(buildAnfStage)

  /** Per-(day, user) value sums of the first 200 users — the input of
    * both correlation graphs. Reference graph scale is ~100 symbols
    * (market_analysis.py:309); the aggregation still scans the full
    * fact table. */
  private def dailyTop200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"user_id" < 200)
      .groupBy(unix_micros(date_trunc("day", $"ts")).as("day"), $"user_id")
      .agg(sum($"value").as("v"))
  }

  /** Shared r4-rounded correlation edge list (ka < kb, |r| > 0.3) — the
    * graph m11/m12/g16 all read; memoized+persisted like the feature
    * frame so each graph query's cost is its algorithm, not a repeated
    * pairwise-corr build. m6/m6i/m10/m10i read the UNROUNDED graph of
    * [[corrNet]] instead: their golden pins predate the r4 contract, and
    * rounding can flip |r|-boundary edges. */
  def corrGraph(s: SparkSession, dir: String): DataFrame =
    corrStage.memo(s, dir) {
      import s.implicits._
      PersistRegistry.trackPersist(
        Analytics.pairwiseCorr(dailyTop200(s, dir), "day", "user_id", "v")
          .select($"key_a".cast("long").as("ka"),
            $"key_b".cast("long").as("kb"), Rx.r4($"corr").as("r"))
          .filter(abs($"r") > 0.3))
    }

  /** The unrounded |r| > 0.3 correlation network m6/m6i/m10/m10i read —
    * the reference likewise builds its symbol graph once for both Louvain
    * (market_analysis.py:309-337) and the layout (:399). Edges are sorted
    * by (ka, kb) and nodes ascending: collect order is not deterministic,
    * the layout and community outputs must be. Each derived value is
    * lazy, so a query computes only what it reads, once per network. */
  private final class CorrNet(val nodes: Seq[Long],
      val edges: Seq[(Long, Long, Double)], countCandidates: () => Long) {
    lazy val louvain: (Map[Long, Int], Double) = Clustering.louvain(nodes, edges)
    lazy val layout: Map[Long, (Double, Double)] =
      Clustering.springLayout(nodes, edges)
    /** Distinct user_id < 200: the m6i/m10i cross-engine anchor. */
    lazy val nCandidates: Long = countCandidates()
    lazy val degree: Map[Long, Int] = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** The [[CorrNet]], collected once per (session, dir). A plain memo,
    * not part of [[corrStage]]: it holds only driver-side values (no
    * cached blocks), and a stage build would move this collect into
    * every setup. */
  private def corrNet(s: SparkSession, dir: String): CorrNet =
    PersistRegistry.memo(s, "ml_corr_net", dir) {
      import s.implicits._
      val daily = dailyTop200(s, dir)
      val edges = Analytics.pairwiseCorr(daily, "day", "user_id", "v")
        .filter(abs($"corr") > 0.3)
        .select($"key_a".cast("long"), $"key_b".cast("long"), abs($"corr"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(e => (e._1, e._2))
      new CorrNet(edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted, edges,
        () => daily.select($"user_id").distinct().count())
    }

  /** Materialize the shared correlation graph (Bench times it as its
    * own "setup_corr_graph" line, the shared-stage convention). */
  def buildCorrStage(s: SparkSession, dir: String): Unit = {
    corrGraph(s, dir).count(); ()
  }

  /** Symmetric weighted edge list (w = |r|) of the shared correlation
    * graph — the m6b/m6c Louvain input. */
  private def louvainEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = corrGraph(s, dir).select($"ka", $"kb", abs($"r").as("w"))
    und.select($"ka".as("src"), $"kb".as("dst"), $"w")
      .unionByName(und.select($"kb".as("src"), $"ka".as("dst"), $"w"))
  }

  /** Memoized distributed-Louvain assignment over [[louvainEdges]]
    * (already localCheckpointed by `run`, so the cache holds a
    * materialized ~node-count frame). */
  private def louvainAssign(s: SparkSession, dir: String): DataFrame =
    PersistRegistry.memo(s, "ml_louvain", dir) {
      graft.graph.LouvainDist.run(louvainEdges(s, dir),
        roundsPerLevel = 4, levels = 2)
    }

  /** UNWEIGHTED symmetric edge list of the shared correlation graph —
    * the g23/g24/g26/g27 input. */
  private def corrEdgesSym(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = corrGraph(s, dir).select($"ka", $"kb")
    und.select($"ka".as("src"), $"kb".as("dst"))
      .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
  }

  /** Memoized HyperANF register rounds (t = 0..3, p = 8) over
    * [[corrEdgesSym]] — every frame localCheckpointed, built once per
    * (session, dir) however many of g24/g26/g27 run. */
  private def anfRounds(s: SparkSession, dir: String): IndexedSeq[DataFrame] =
    graphStage.memo(s, dir, ":anf") {
      graft.graph.HyperAnf.registerRounds(corrEdgesSym(s, dir),
        k = 3, p = 8, checkpointEach = true)
    }

  /** Memoized per-node triangle counts over the shared corr graph
    * (m12's count-probed hybrid enumeration), shared with g27. */
  private def triPerNode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graphStage.memo(s, dir, ":tri") {
      Fixpoint.cut(graft.graph.Triangles.perNode(corrGraph(s, dir).select($"ka", $"kb")))
    }
  }

  /** DuckDB mirror of the correlation build up to the |r| filter: `d`
    * is [[dailyTop200]], `c` the r4-rounded corr of every key pair. The
    * corr-graph oracles open `WITH ${corrCtes},` and filter `c`. */
  private val corrCtes: String =
    """d AS (
      |  SELECT epoch_us(date_trunc('day', ts)) AS day, user_id,
      |    sum(value) AS v
      |  FROM events WHERE user_id < 200 GROUP BY 1, 2),
      |c AS (
      |  SELECT a.user_id AS ka, b.user_id AS kb,
      |    round(corr(a.v, b.v) + 1e-9, 4) AS r
      |  FROM d a JOIN d b ON a.day = b.day AND a.user_id < b.user_id
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB prelude: the UNWEIGHTED symmetric correlation edge list
    * (the m15 corr build) — shared by the g23/g24 neighborhood-function
    * oracles. */
  private def corrEdgesCtes(): String =
    s"""${corrCtes},
       |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
       |edges AS MATERIALIZED (
       |  SELECT ka AS src, kb AS dst FROM e0
       |  UNION ALL SELECT kb, ka FROM e0)""".stripMargin

  /** DuckDB prelude for the m6b/m6c oracles: the r4-rounded weighted
    * correlation edge list (the m15 corr build, keeping w = |r|) plus
    * the full chained-CTE Louvain replay from
    * [[graft.graph.LouvainDist.oracleSqlSuffix]]. `edges` is
    * MATERIALIZED — mm/deg_1/every level-1 round and the summary
    * subqueries all reference it, and inlining would rebuild the corr
    * self-join each time. */
  private def louvainOracleCtes(): String =
    s"""${corrCtes},
       |e0 AS (SELECT ka, kb, abs(r) AS w FROM c WHERE abs(r) > 0.3),
       |edges AS MATERIALIZED (
       |  SELECT ka AS src, kb AS dst, w FROM e0
       |  UNION ALL SELECT kb, ka, w FROM e0),
       |${graft.graph.LouvainDist.oracleSqlSuffix(4, 2)}""".stripMargin

  /** Materialize the shared standardized feature frame for (session,
    * dir) — the stage j6/m2/m3/m4/m4b/m7 all read. Bench times this as
    * its own "setup_ml_features" line so the first ML query's number
    * (j6_knn in sorted order) doesn't silently include the cache
    * build. */
  def buildSharedStage(s: SparkSession, dir: String): Unit = {
    userFeatures(s, dir).count(); ()
  }

  /** Materialize the shared graph sketches g24/g26/g27/m12 read: the
    * HyperANF register rounds and the per-node triangle counts (round-17,
    * VERDICT item 2). These were pack-memoized but NOT a Bench shared
    * stage, so Bench's rep-pass hygiene reset evicted them and the
    * FIRST repped member (g27, which out-times g24 first-pass) paid the
    * rebuild the first pass had billed to g24 — the only rep-contract
    * (med ≤ 1.3× first) breach in BENCH_r16. Billed as its own
    * "setup_graph_shared" line, symmetric first-pass/rep. The register
    * frames and triangle counts are already localCheckpointed by their
    * builders; the count() forces any lazy tail. */
  def buildAnfStage(s: SparkSession, dir: String): Unit = {
    anfRounds(s, dir).foreach(_.count())
    triPerNode(s, dir).count(); ()
  }

  /** Per-user 2-feature frame (mean, sample-std of value), standardized
    * to population z-scores — the clustering input. */
  private def userFeatures(s: SparkSession, dir: String): DataFrame =
    featuresStage.memo(s, dir) {
      val f = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      PersistRegistry.trackPersist(Clustering.standardize(f, Seq("mu", "sd")))
    }

  /** DBSCAN input: the standardized features rounded to 1e-6. The
    * rounding is the cross-engine determinism contract — aggregation
    * order makes raw standardized doubles differ in the last ulp
    * between engines, and DBSCAN's ε-boundary comparisons would
    * amplify an ulp into a different cluster count. On r6-identical
    * inputs every downstream double op (sqrt-form distances, knee,
    * ε²) is bit-exact in both engines, so the whole pipeline is
    * oracle-checkable. */
  private def dbscanFeatures(s: SparkSession, dir: String): DataFrame =
    userFeatures(s, dir).select(col("user_id"),
      r6(col("mu")).as("mu"), r6(col("sd")).as("sd"))

  /** The m9 sequence-classification pipeline, fitted once per
    * (session, dir) — m9 reports its metrics, m9i checks their
    * structural invariants; both read this. */
  private def m9Result(s: SparkSession, dir: String)
      : graft.sequence.ClassifierPipeline.Result =
    PersistRegistry.memo(s, "ml_m9", dir) {
      import s.implicits._
      val base = Tables.events(s, dir)
        .filter($"user_id" < 20) // reference trains on 3 symbols; bound the head
        .withColumn("t", unix_micros($"ts"))
        .withColumn("volume", get_json_object($"props", "$.k").cast("double"))
        .withColumn("high", $"value").withColumn("low", $"value")
      // reference shape: the full 16-feature engineered frame,
      // sequences of 30 × 16 flattened into the classifier head
      val feats = graft.features.FeatureEngineering.prepare(
        base, Seq("user_id"), Seq("t", "event_id"),
        "value", "high", "low", "volume")
      graft.sequence.ClassifierPipeline.run(
        feats, "user_id", "t", "event_id",
        graft.features.FeatureEngineering.featureNames, "event_type",
        labels = Seq("click", "error", "purchase", "signup", "view"),
        // 15 LBFGS iterations: the 480-input head converges in ~10 on
        // this data; 30 doubled fit time for identical test metrics
        seqLen = 30, seed = 42L, maxIter = 15, hidden = 16)
    }

  private def kmeans5(s: SparkSession, dir: String) =
    PersistRegistry.memo(s, "ml_kmeans5", dir) {
      // coalesce(1): the feature frame is per-key aggregated (head-sized
      // by construction) and every Lloyd iteration is one Spark job —
      // one task per iteration instead of 32 near-empty task launches.
      Clustering.kmeansAssign(userFeatures(s, dir).coalesce(1),
        Seq("mu", "sd"), 5, 42L)
    }

  /** (squared-Euclidean, exact, point count) silhouettes of the
    * [[kmeans5]] clustering — m3 and m3i's shared input. */
  private def silhouettes5(s: SparkSession, dir: String): (Double, Double, Long) =
    PersistRegistry.memo(s, "ml_silhouette5", dir) {
      import s.implicits._
      val (assigned, _, _) = kmeans5(s, dir)
      val sq = Clustering.silhouette(assigned, Seq("mu", "sd"), "cluster")
      val rows = assigned.select($"mu", $"sd", $"cluster").collect()
      val exact = Clustering.silhouetteExact(
        rows.map(r => Array(r.getDouble(0), r.getDouble(1))),
        rows.map(_.getInt(2)))
      (sq, exact, rows.length.toLong)
    }

  def queries: Seq[Q] = Seq(

    // J6/M8: exact k-NN (k=2) by Euclidean distance in standardized
    // feature space. Candidate pairs come from grid-cell neighborhoods
    // with certified ring expansion (GridKnn) — identical output to the
    // all-pairs + window form, without the N² pair generation the naive
    // self-join would do at scale (GridKnnSpec pins both exactness and
    // the pair-count bound on a clustered fixture).
    Q("j6_knn",
      (s, dir) => {
        import s.implicits._
        graft.cluster.GridKnn.exactKnn(userFeatures(s, dir),
            "user_id", "mu", "sd", 2)
          .select($"user_id", $"nid".as("neighbor_id"),
            r4($"dist").as("dist"), $"rank")
      },
      Some("""WITH f AS (
             |  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
             |  FROM events GROUP BY user_id),
             |st AS (
             |  SELECT user_id,
             |    (mu - avg(mu) OVER ()) / stddev_pop(mu) OVER () AS mu,
             |    (sd - avg(sd) OVER ()) / stddev_pop(sd) OVER () AS sd
             |  FROM f),
             |p AS (
             |  SELECT a.user_id AS user_id, b.user_id AS neighbor_id,
             |    sqrt(pow(a.mu - b.mu, 2) + pow(a.sd - b.sd, 2)) AS dist
             |  FROM st a JOIN st b ON a.user_id <> b.user_id),
             |rk AS (
             |  SELECT user_id, neighbor_id, dist,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY dist, neighbor_id) AS rank
             |  FROM p)
             |SELECT user_id, neighbor_id, round(dist + 1e-9, 4) AS dist, rank
             |FROM rk WHERE rank <= 2""".stripMargin)),

    // M2: KMeans(k=5, seed=42) cluster size distribution (cluster ids
    // are init-dependent; sizes are the stable output).
    Q("m2_kmeans",
      (s, dir) => {
        import s.implicits._
        val (assigned, cost, _) = kmeans5(s, dir)
        assigned.groupBy($"cluster").agg(count(lit(1)).as("n"))
          .select($"n").orderBy(desc("n"))
          .withColumn("size_rank", row_number().over(
            Window.orderBy(desc("n"))))
          .withColumn("inertia", r4(lit(cost)))
      },
      None),

    // m2's invariant side-oracle (round-12, VERDICT item 3): the
    // cluster IDS are init-dependent (hence the GoldenPinSpec pin),
    // but the clustering's STRUCTURE is cross-engine checkable —
    // every feature row must be assigned to exactly one cluster, so
    // the sizes must sum to the user count DuckDB computes
    // independently; there must be 1..5 non-empty clusters; the
    // Lloyd objective must be non-negative and finite.
    Q("m2i_kmeans_inv",
      (s, dir) => {
        import s.implicits._
        val (assigned, cost, _) = kmeans5(s, dir)
        assigned.groupBy($"cluster").agg(count(lit(1)).as("n"))
          .agg(sum($"n").as("n_points"),
            count(lit(1)).as("k_clusters"), min($"n").as("min_size"))
          .select($"n_points",
            ($"k_clusters" >= 1 && $"k_clusters" <= 5).as("k_ok"),
            ($"min_size" >= 1).as("sizes_ok"),
            lit(cost >= 0.0 && !cost.isNaN && !cost.isInfinite)
              .as("inertia_ok"))
      },
      Some("""SELECT count(*) AS n_points, true AS k_ok, true AS sizes_ok,
             |  true AS inertia_ok
             |FROM (SELECT user_id FROM events GROUP BY user_id)""".stripMargin)),

    // M2 companion (beyond-reference): distributed Lloyd's k-means
    // with an ENGINE-PORTABLE fit — md5-order init (the Pq codebook
    // idiom), 3 fixed rounds, centroids re-canonicalized r6 after
    // every update (the w26 tiered-rounding idiom) — so unlike m2's
    // MLlib KMeans (seeded parallel init, rows-only checkable) the
    // ENTIRE trajectory is replayed as chained reference-linear CTEs
    // and the final per-cluster sizes AND within-cluster squared error
    // are hash-checked cross-engine.
    Q("m16_kmeans_portable",
      (s, dir) => {
        import s.implicits._
        graft.cluster.PortableKMeans.assign(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", k = 8, rounds = 3, dims = 64)
          .groupBy($"cid")
          .agg(count(lit(1)).as("n"), r4(sum($"d2")).as("wss"))
          .orderBy($"cid")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              |          FROM embeddings),
              |${graft.cluster.PortableKMeans.oracleSqlSuffix(8, 3, 64)}
              |SELECT cid, count(*) AS n, round(sum(d2) + 1e-9, 4) AS wss
              |FROM a_4 GROUP BY cid ORDER BY cid""".stripMargin)),

    // M3: silhouette of the M2 clustering — both variants: Spark ML's
    // squared-Euclidean evaluator AND the sklearn plain-Euclidean exact
    // value (driver over the collected aggregate; SURVEY M3 ±ε note).
    Q("m3_silhouette",
      (s, dir) => {
        import s.implicits._
        val cost = kmeans5(s, dir)._2
        val (sil, exact, _) = silhouettes5(s, dir)
        Seq((5, sil, exact, cost)).toDF("k", "silhouette_sq", "silhouette_exact", "inertia")
          .select($"k", r4($"silhouette_sq").as("silhouette_sq"),
            r4($"silhouette_exact").as("silhouette_exact"),
            r4($"inertia").as("inertia"))
      },
      None),

    // m3's invariant side-oracle (round-12, VERDICT item 3): both
    // silhouette variants are mathematically confined to [-1, 1] and
    // the inertia they score is non-negative — checked against a
    // DuckDB row that independently recounts the clustered points, so
    // a silhouette formula regression or an input-frame drift goes
    // RED cross-engine even though the values themselves are pinned.
    Q("m3i_silhouette_inv",
      (s, dir) => {
        import s.implicits._
        val cost = kmeans5(s, dir)._2
        val (sil, exact, nPoints) = silhouettes5(s, dir)
        Seq((nPoints,
            sil >= -1.0 && sil <= 1.0,
            exact >= -1.0 && exact <= 1.0,
            cost >= 0.0 && !cost.isNaN))
          .toDF("n_points", "sq_ok", "exact_ok", "inertia_ok")
      },
      Some("""SELECT count(*) AS n_points, true AS sq_ok, true AS exact_ok,
             |  true AS inertia_ok
             |FROM (SELECT user_id FROM events GROUP BY user_id)""".stripMargin)),

    // M7: PCA explained-variance spectrum of the feature frame.
    // Oracle-checkable despite the ML implementation: the 2-feature
    // covariance matrix has closed-form eigenvalues, and the explained
    // RATIO λ_i/trace is invariant to the sample-vs-population ddof
    // choice, so plain SQL reproduces Spark ML's output exactly.
    Q("m7_pca",
      (s, dir) => {
        import s.implicits._
        val varr = Clustering.pcaVariance(userFeatures(s, dir), Seq("mu", "sd"), 2)
        varr.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
          .toDF("component", "explained_variance")
          .select($"component", r4($"explained_variance").as("explained_variance"))
      },
      Some("""WITH f AS (
             |  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
             |  FROM events GROUP BY user_id),
             |st AS (
             |  SELECT
             |    (mu - avg(mu) OVER ()) / stddev_pop(mu) OVER () AS mu,
             |    (sd - avg(sd) OVER ()) / stddev_pop(sd) OVER () AS sd
             |  FROM f),
             |c AS (SELECT var_samp(mu) AS a, covar_samp(mu, sd) AS b,
             |             var_samp(sd) AS d FROM st),
             |e AS (SELECT
             |    (a + d + sqrt((a - d) * (a - d) + 4 * b * b)) / 2 AS l1,
             |    (a + d - sqrt((a - d) * (a - d) + 4 * b * b)) / 2 AS l2,
             |    a + d AS tr FROM c)
             |SELECT 0 AS component,
             |  round(l1 / tr + 1e-9, 4) AS explained_variance FROM e
             |UNION ALL
             |SELECT 1, round(l2 / tr + 1e-9, 4) FROM e""".stripMargin)),

    // M4+M5: DBSCAN with auto-tuned ε (knee of sorted 2-NN distances)
    // and minPts = max(log n, 3) (market_analysis.py:847-876 semantics).
    Q("m4_dbscan",
      (s, dir) => {
        import s.implicits._
        val rows = dbscanFeatures(s, dir)
          .select($"user_id", $"mu", $"sd").orderBy($"user_id").collect()
        val pts = rows.map(r => Array(r.getDouble(1), r.getDouble(2)))
        val n = pts.length
        val eps = Clustering.kneeEps(Clustering.twoNNDistances(pts))
        val minPts = math.max(math.log(n).toInt, 3)
        val labels = Clustering.dbscan(pts, eps, minPts)
        val nClusters = labels.filter(_ >= 0).distinct.length
        val nNoise = labels.count(_ == -1)
        Seq((r4d(eps), minPts, nClusters, nNoise, n))
          .toDF("eps", "min_pts", "n_clusters", "n_noise", "n_points")
      },
      Some(DbscanOracle.prefix + """
          |SELECT round((SELECT eps FROM eps0) + 1e-9, 4) AS eps,
          |  (SELECT minpts FROM mp) AS min_pts,
          |  (SELECT count(DISTINCT lbl) FROM comp) AS n_clusters,
          |  (SELECT count(*) FROM st) - (SELECT count(*) FROM coreids)
          |    - (SELECT count(*) FROM borders) AS n_noise,
          |  (SELECT count(*) FROM st) AS n_points""".stripMargin)),

    // M4 scale path: fully-distributed grid DBSCAN (same ε/minPts
    // derivation as m4_dbscan) — no driver collection of points.
    Q("m4b_dbscan_distributed",
      (s, dir) => {
        import s.implicits._
        // one materialization of the feature pipeline: the ε-tune scans
        // below AND DistributedDbscan's internal scans all read the
        // checkpointed blocks instead of re-running the window/agg chain
        val feats = Fixpoint.cut(dbscanFeatures(s, dir))
        // bounded ε-tune: ≤4096 sampled query points against the full
        // set (bit-identical to the collect-everything knee below the
        // cap, so the DuckDB oracle is unaffected at test scale)
        val eps = Clustering.sampledKneeEps(feats, "user_id", "mu", "sd")
        val minPts = math.max(math.log(feats.count().toDouble).toInt, 3)
        val labeled = graft.cluster.DistributedDbscan.run(
          feats.select($"user_id", $"mu", $"sd"), "user_id", "mu", "sd",
          eps, minPts)
        labeled
          .withColumn("kind", when($"cluster" === -1L, "noise").otherwise("clustered"))
          .groupBy($"kind")
          .agg(count(lit(1)).as("n"),
            countDistinct(when($"cluster" =!= -1L, $"cluster")).as("n_clusters"))
      },
      Some(DbscanOracle.prefix + """
          |SELECT * FROM (
          |  SELECT 'clustered' AS kind,
          |    (SELECT count(*) FROM coreids)
          |      + (SELECT count(*) FROM borders) AS n,
          |    (SELECT count(DISTINCT lbl) FROM comp) AS n_clusters
          |  UNION ALL
          |  SELECT 'noise',
          |    (SELECT count(*) FROM st) - (SELECT count(*) FROM coreids)
          |      - (SELECT count(*) FROM borders),
          |    0)
          |WHERE n > 0""".stripMargin)),

    // M9 substitution (SURVEY M9 verdict): the full sequence
    // classification pipeline — per-key z-scored features → sliding
    // 30-step sequences (W15) → ordered 70/15/15 split (W16) → MLP head
    // (Spark ML MultilayerPerceptronClassifier, seed 42) → per-class
    // P/R/F1 + accuracy (G14). The torch LSTM is the pluggable
    // non-engine component; the queries around it are the capability.
    Q("m9_classifier",
      (s, dir) => {
        import s.implicits._
        m9Result(s, dir).metrics
          .select($"label", $"tp", $"fp", $"fn", r4($"accuracy").as("accuracy"),
            r4($"f1").as("f1"))
          .orderBy($"label")
      },
      None),

    // m9's invariant side-oracle (round-12, VERDICT item 3): the MLP
    // metrics themselves are seed/optimizer-dependent (pinned in
    // GoldenPinSpec), but their STRUCTURE is cross-engine checkable —
    // Σ(tp+fn) over classes must equal the test-split size, which
    // DuckDB derives independently by replaying the sequence count
    // (per user: n_events − 30 sliding sequences) and the W16
    // floor-fraction split; every per-class F1 and the accuracy must
    // lie in [0, 1]. A broken split, a dropped test row, or a metric
    // formula regression goes RED here even though the pin alone
    // would only catch it at spec time.
    Q("m9i_classifier_inv",
      (s, dir) => {
        import s.implicits._
        val res = m9Result(s, dir)
        res.metrics.agg(
            sum($"tp" + $"fn").as("n_eval"),
            min($"f1").as("f1min"), max($"f1").as("f1max"),
            min($"accuracy").as("amin"), max($"accuracy").as("amax"))
          .select($"n_eval",
            ($"f1min" >= 0.0 && $"f1max" <= 1.0).as("f1_ok"),
            ($"amin" >= 0.0 && $"amax" <= 1.0).as("acc_ok"),
            lit(res.nTrain > res.nTest).as("split_ok"))
      },
      Some("""WITH u AS (SELECT user_id, count(*) AS n_ev FROM events
             |           WHERE user_id < 20 GROUP BY 1),
             |sq AS (SELECT greatest(n_ev - 30, 0) AS n_seq FROM u),
             |t AS (SELECT n_seq - floor(n_seq * 0.7) - floor(n_seq * 0.15)
             |        AS n_test FROM sq WHERE n_seq > 0)
             |SELECT CAST(sum(n_test) AS BIGINT) AS n_eval,
             |  true AS f1_ok, true AS acc_ok, true AS split_ok
             |FROM t""".stripMargin)),

    // M19 (beyond-reference): landmark harmonic centrality — the
    // scalable stand-in for closeness/betweenness (exact all-pairs is
    // inherently quadratic; landmark centrality bounds state at
    // landmarks × nodes): 10 md5-order landmarks, 6 min-plus BFS
    // rounds over self-loop-augmented edges (each round references
    // the previous EXACTLY once — graph/Landmarks.scala documents why
    // that matters for the oracle), per-node Σ 1/d over reaching
    // landmarks. Rides the shared corrGraph like m11/m12/g16/m15.
    Q("m19_landmark_closeness",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = und.select($"ka".as("src"), $"kb".as("dst"))
          .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
        graft.graph.Landmarks.harmonic(edges, nLandmarks = 10, k = 6)
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst FROM e0
              |  UNION ALL SELECT kb, ka FROM e0),
              |${graft.graph.Landmarks.oracleSqlSuffix(10, 6)}
              |SELECT node, n_reach, harmonic FROM hm ORDER BY node""".stripMargin)),

    // G30 (round-14): landmark ECCENTRICITY lower bounds — the other
    // product of m19's bounded BFS (shared distances code path,
    // Landmarks.scala): per node, the max distance to any landmark
    // within the 6-hop horizon. max over nodes lower-bounds the
    // diameter from exact distances (the complement of g24's HyperANF
    // effective-diameter estimate, which approximates from sketches) —
    // the landmark-bound technique of the shortest-path-estimation
    // literature. Same landmarks × nodes state bound; rides the
    // shared corrGraph.
    Q("g30_eccentricity",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = und.select($"ka".as("src"), $"kb".as("dst"))
          .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
        graft.graph.Landmarks.eccentricity(edges, nLandmarks = 10, k = 6)
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst FROM e0
              |  UNION ALL SELECT kb, ka FROM e0),
              |${graft.graph.Landmarks.eccOracleSqlSuffix(10, 6)}
              |SELECT node, n_reach, ecc_lb FROM ec ORDER BY node""".stripMargin)),

    // M17 (beyond-reference): multiple linear regression by
    // distributed normal equations — the single-pass OLS shape for
    // tall-skinny design matrices (aggregate the Gram moments, solve
    // the tiny system at the end): l_extendedprice ~ l_quantity +
    // l_discount. Variables are STANDARDIZED first (r6 means/stds
    // broadcast back), so every aggregated moment is a sum of O(1)
    // terms — the r4 canonicalization then genuinely absorbs
    // cross-engine summation-order noise at ANY row count, which raw
    // Σy² moments (magnitude ~1e14, ulp > the rounding grain) would
    // not. The 2×2 solve and the raw-scale back-transform run on
    // rounded scalars, so coefficients, intercept, and R² are
    // hash-exact. Two fact scans (stats + moments), zero fact
    // shuffles beyond the 1-row aggregates.
    Q("m17_ols",
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
          .select($"l_quantity".as("q"), $"l_discount".as("d"),
            $"l_extendedprice".as("y"))
        val st = li.agg(
          r6(avg($"q")).as("mq"), r6(stddev_samp($"q")).as("dq"),
          r6(avg($"d")).as("md"), r6(stddev_samp($"d")).as("dd"),
          r6(avg($"y")).as("my"), r6(stddev_samp($"y")).as("dy"))
        val z = li.crossJoin(broadcast(st))
          .select((($"q" - $"mq") / $"dq").as("zq"),
            (($"d" - $"md") / $"dd").as("zd"),
            (($"y" - $"my") / $"dy").as("zy"))
        val mo = z.agg(count(lit(1)).as("n"),
          r4(sum($"zq" * $"zq")).as("sqq"),
          r4(sum($"zq" * $"zd")).as("sqd"),
          r4(sum($"zd" * $"zd")).as("sdd"),
          r4(sum($"zq" * $"zy")).as("sqy"),
          r4(sum($"zd" * $"zy")).as("sdy"),
          r4(sum($"zy" * $"zy")).as("syy"))
        val det = $"sqq" * $"sdd" - $"sqd" * $"sqd"
        val b1 = ($"sqy" * $"sdd" - $"sdy" * $"sqd") / det
        val b2 = ($"sdy" * $"sqq" - $"sqy" * $"sqd") / det
        mo.crossJoin(broadcast(st))
          .select($"n", r6(b1).as("bz_qty"), r6(b2).as("bz_disc"),
            r6(b1 * $"dy" / $"dq").as("b_qty"),
            r6(b2 * $"dy" / $"dd").as("b_disc"),
            r6($"my" - (b1 * $"dy" / $"dq") * $"mq"
              - (b2 * $"dy" / $"dd") * $"md").as("intercept"),
            r6((b1 * $"sqy" + b2 * $"sdy") / $"syy").as("r2"))
      },
      Some("""WITH st AS (
             |  SELECT round(avg(l_quantity) + 1e-9, 6) AS mq,
             |    round(stddev_samp(l_quantity) + 1e-9, 6) AS dq,
             |    round(avg(l_discount) + 1e-9, 6) AS md,
             |    round(stddev_samp(l_discount) + 1e-9, 6) AS dd,
             |    round(avg(l_extendedprice) + 1e-9, 6) AS my,
             |    round(stddev_samp(l_extendedprice) + 1e-9, 6) AS dy
             |  FROM lineitem),
             |z AS (
             |  SELECT (l_quantity - mq) / dq AS zq,
             |    (l_discount - md) / dd AS zd,
             |    (l_extendedprice - my) / dy AS zy
             |  FROM lineitem, st),
             |mo AS (
             |  SELECT count(*) AS n,
             |    round(sum(zq * zq) + 1e-9, 4) AS sqq,
             |    round(sum(zq * zd) + 1e-9, 4) AS sqd,
             |    round(sum(zd * zd) + 1e-9, 4) AS sdd,
             |    round(sum(zq * zy) + 1e-9, 4) AS sqy,
             |    round(sum(zd * zy) + 1e-9, 4) AS sdy,
             |    round(sum(zy * zy) + 1e-9, 4) AS syy
             |  FROM z)
             |SELECT n,
             |  round((sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd)
             |    + 1e-9, 6) AS bz_qty,
             |  round((sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd)
             |    + 1e-9, 6) AS bz_disc,
             |  round((sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd)
             |    * dy / dq + 1e-9, 6) AS b_qty,
             |  round((sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd)
             |    * dy / dd + 1e-9, 6) AS b_disc,
             |  round(my
             |    - ((sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd)
             |       * dy / dq) * mq
             |    - ((sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd)
             |       * dy / dd) * md + 1e-9, 6) AS intercept,
             |  round(((sqy * sdd - sdy * sqd) / (sqq * sdd - sqd * sqd) * sqy
             |    + (sdy * sqq - sqy * sqd) / (sqq * sdd - sqd * sqd) * sdy)
             |    / syy + 1e-9, 6) AS r2
             |FROM mo, st""".stripMargin)),

    // M6: Louvain communities over the |corr|>0.3 user graph
    // (market_analysis.py:309-337): edges from pairwise correlation of
    // daily value sums (the distributed part), communities + modularity
    // driver-side.
    // M11 (beyond-reference): weighted PageRank over the SAME user
    // correlation graph m6 partitions — but fully distributed AND fully
    // oracle-checked: K=10 fixed rounds replayed as chained CTEs
    // (graph.PageRank.oracleSqlSuffix). Edge parity rides on the
    // engine-proven r4 corr agreement (g10): threshold and weight both
    // use the r4-rounded value so the edge SET is identical in both
    // engines; the rank arithmetic is raw doubles with one r6 at the
    // end (drift across sum orders ~1e-13 << the rounding grain).
    Q("m11_pagerank",
      (s, dir) => {
        import s.implicits._
        val corr = corrGraph(s, dir)
          .select($"ka", $"kb", abs($"r").as("w"))
        val edges = corr.select($"ka".as("src"), $"kb".as("dst"), $"w")
          .unionByName(corr.select($"kb".as("src"), $"ka".as("dst"), $"w"))
        graft.graph.PageRank.run(edges, k = 10, damping = 0.85)
          .select($"node", r6($"pr").as("pr"))
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb, abs(r) AS w FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst, w FROM e0
              |  UNION ALL SELECT kb, ka, w FROM e0),
              |${graft.graph.PageRank.oracleSqlSuffix(10, 0.85)}
              |SELECT node, round(pr + 1e-9, 6) AS pr FROM pr_10""".stripMargin)),

    // M20 (round 12): PERSONALIZED PageRank — random walk with restart
    // to a seed set (here the user_id < 20 members of the corr graph):
    // the teleport mass returns to the seeds, so rank measures
    // PROXIMITY TO THE SEEDS and decays with graph distance — the
    // recommendation / local-community primitive next to m11's global
    // centrality. Same per-round cost (one edge join + one dst agg);
    // 10 rounds replayed as chained CTEs like m11.
    Q("m20_ppr",
      (s, dir) => {
        import s.implicits._
        val corr = corrGraph(s, dir)
          .select($"ka", $"kb", abs($"r").as("w"))
        val edges = corr.select($"ka".as("src"), $"kb".as("dst"), $"w")
          .unionByName(corr.select($"kb".as("src"), $"ka".as("dst"), $"w"))
        val seeds = edges.select($"src".as("node")).distinct()
          .filter($"node" < 20)
        graft.graph.PageRank
          .runPersonalized(edges, seeds, k = 10, damping = 0.85)
          .select($"node", r6($"pr").as("ppr"))
          .orderBy($"node")
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb, abs(r) AS w FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst, w FROM e0
              |  UNION ALL SELECT kb, ka, w FROM e0),
              |seeds AS (SELECT DISTINCT src AS node FROM edges
              |          WHERE src < 20),
              |${graft.graph.PageRank.personalizedOracleSqlSuffix(10, 0.85)}
              |SELECT node, round(pr + 1e-9, 6) AS ppr FROM ppr_10
              |ORDER BY node""".stripMargin)),

    // M12 (beyond-reference): per-node triangle counts on the same
    // graph. Enumeration is a count-probed hybrid (Triangles.scala):
    // one aggregate prices the id-oriented wedge join; under the cap
    // (this 150-node panel) the simple join runs, above it edges are
    // DEGREE-ORIENTED — low-(degree,id) → high — bounding wedge work
    // at O(m^1.5) where an id-oriented hub pays d² (TrianglesSpec
    // pins both the hub separation and path equivalence). Orientation
    // is count-invariant, so the oracle keeps the id-oriented SQL
    // enumeration either way. Edge parity rides on r4 corr agreement
    // as in m11.
    Q("m12_triangles",
      (s, dir) => {
        import s.implicits._
        val daily = Tables.events(s, dir)
          .filter($"user_id" < 200)
          .groupBy(unix_micros(date_trunc("day", $"ts")).as("day"), $"user_id")
          .agg(sum($"value").as("v"))
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val deg = und.select($"ka".as("node"))
          .unionAll(und.select($"kb".as("node")))
          .groupBy($"node").agg(count(lit(1)).as("deg"))
        daily.select($"user_id".as("node")).distinct()
          .join(triPerNode(s, dir), Seq("node"), "left")
          .join(deg, Seq("node"), "left")
          .select($"node",
            coalesce($"n_tri", lit(0L)).as("n_tri"),
            coalesce($"deg", lit(0L)).as("deg"),
            // local clustering coefficient: closed wedges / possible
            r6(when($"deg" >= 2,
              coalesce($"n_tri", lit(0L)).cast("double")
                / ($"deg" * ($"deg" - 1) / 2).cast("double"))
              .otherwise(lit(0.0))).as("clust"))
      },
      Some(s"""WITH ${corrCtes},
             |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
             |tri AS (
             |  SELECT ab.ka AS a, ab.kb AS b, bc.kb AS c
             |  FROM e0 ab JOIN e0 bc ON ab.kb = bc.ka
             |  JOIN e0 ac ON ac.ka = ab.ka AND ac.kb = bc.kb),
             |corners AS (
             |  SELECT node, count(*) AS n_tri FROM (
             |    SELECT a AS node FROM tri
             |    UNION ALL SELECT b FROM tri
             |    UNION ALL SELECT c FROM tri) GROUP BY 1),
             |dg AS (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT ka AS node FROM e0
             |    UNION ALL SELECT kb FROM e0) GROUP BY 1)
             |SELECT n.node, COALESCE(corners.n_tri, 0) AS n_tri,
             |  COALESCE(dg.deg, 0) AS deg,
             |  round(CASE WHEN dg.deg >= 2
             |      THEN CAST(COALESCE(corners.n_tri, 0) AS DOUBLE)
             |        / (dg.deg * (dg.deg - 1) / 2)
             |      ELSE 0.0 END + 1e-9, 6) AS clust
             |FROM (SELECT DISTINCT user_id AS node FROM d) n
             |LEFT JOIN corners USING (node)
             |LEFT JOIN dg USING (node)""".stripMargin)),

    // G16 (beyond-reference): weakly connected components of the same
    // correlation graph — K=8 rounds of min-label propagation
    // (graph/Components.scala), each round one edge-keyed shuffle join
    // + one destination min aggregate, replayed by the oracle as 8
    // chained CTEs (the m11 convention). K=8 exceeds this graph's
    // diameter; ComponentsSpec asserts the round-8 labels ARE the
    // fixpoint (round 8 == round 7 on sf0.001), so the output is true
    // WCC, not just 8-hop minima. Edge parity rides on r4 corr
    // agreement as in m11/m12.
    Q("g16_wcc",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = und.select($"ka".as("src"), $"kb".as("dst"))
          .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
        val labels = graft.graph.Components.run(edges, k = 8)
        val sizes = labels.groupBy($"label".as("component"))
          .agg(count(lit(1)).as("size"))
        labels.select($"node", $"label".as("component"))
          .join(sizes, "component")
          .select($"node", $"component", $"size")
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst FROM e0
              |  UNION ALL SELECT kb, ka FROM e0),
              |${graft.graph.Components.oracleSqlSuffix(8)},
              |sz AS (SELECT label AS component, count(*) AS size
              |       FROM l_8 GROUP BY 1)
              |SELECT l.node, l.label AS component, sz.size
              |FROM l_8 l JOIN sz ON sz.component = l.label""".stripMargin)),

    // M13 (beyond-reference): k-core peeling (graph/KCore.scala) on
    // the part co-occurrence graph — parts are adjacent when they
    // appear in the same order (the per-order pair fanout is bounded
    // by order size, so the edge build is scale-safe). k is
    // DATA-RELATIVE — floor(p25 of initial degree) + 1, computed by
    // both engines from identical integer degrees — because a fixed k
    // is meaningless across scale factors when degree grows with the
    // data. The declared output is the peeling TRAJECTORY (round,
    // n_nodes, n_edges): on this near-uniform synthetic graph the
    // above-p25 core is all-or-nothing (the cascade collapses it —
    // i.e. the graph degeneracy sits below p25+1), and the trajectory
    // is exactly the diagnostic that shows it; nonempty stable cores
    // are pinned on structured fixtures in KCoreSpec. Per round: one
    // degree aggregate + two endpoint semi-joins over the SHRINKING
    // edge set, replayed as 5 chained oracle CTEs (the g16
    // convention). Integer-only output, no float rounding anywhere.
    Q("m13_kcore",
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
        // canonical (a < b) pairs only (round-21): the peel loop and
        // the degree quantile both derive the symmetric view lazily,
        // so the materialized frame — and every per-round checkpoint
        // inside KCore.profileCanonical — carries HALF the rows the
        // symmetrized edge list did (1.2 M vs 2.4 M at sf0.1).
        // Degrees are identical: deg(v) = |{v=a}| + |{v=b}|.
        val pairs = Fixpoint.cut(li.as("a").join(li.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" &&
              $"a.l_partkey" < $"b.l_partkey")
          .select($"a.l_partkey".as("a"), $"b.l_partkey".as("b"))
          .distinct()) // the quantile + 5 peel rounds re-read it
        val k = pairs.select($"a".as("node"))
          .unionByName(pairs.select($"b".as("node")))
          .groupBy($"node").agg(count(lit(1)).as("deg"))
          .agg((floor(percentile($"deg", lit(0.25))) + 1).cast("long"))
          .head().getLong(0)
        graft.graph.KCore.profileCanonical(pairs, k, rounds = 5)
      },
      Some(s"""WITH p AS (
              |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
              |  FROM lineitem a JOIN lineitem b
              |    ON a.l_orderkey = b.l_orderkey
              |   AND a.l_partkey < b.l_partkey),
              |edges AS MATERIALIZED (
              |  SELECT pa AS src, pb AS dst FROM p
              |  UNION ALL SELECT pb, pa FROM p),
              |kv AS (
              |  SELECT CAST(floor(quantile_cont(deg, 0.25)) AS BIGINT) + 1 AS k
              |  FROM (SELECT src, count(*) AS deg FROM edges GROUP BY 1)),
              |${graft.graph.KCore.oracleSqlSuffix("kv", 5)}
              |${(1 to 5).map(i =>
                   s"SELECT CAST($i AS BIGINT) AS round, " +
                   s"count(DISTINCT src) AS n_nodes, " +
                   s"count(*) // 2 AS n_edges FROM e_$i")
                 .mkString("\n|UNION ALL ")}""".stripMargin)),

    // M14 (beyond-reference): degree assortativity of the correlation
    // graph — Pearson r of (deg(src), deg(dst)) over the directed edge
    // list (each undirected edge counted both ways, the standard
    // Newman 2002 estimator) — positive = hub-hub mixing, negative =
    // hub-leaf. One degree aggregate broadcast onto the edge list +
    // one global aggregate; rides the shared memoized corrGraph like
    // m11/m12/g16.
    Q("m14_assortativity",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = und.select($"ka".as("src"), $"kb".as("dst"))
          .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
        val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
        val dstats = deg.agg(count(lit(1)).as("n_nodes"),
          r4(avg($"deg")).as("avg_deg"))
        edges
          .join(broadcast(deg.select($"node".as("src"), $"deg".as("ds"))),
            "src")
          .join(broadcast(deg.select($"node".as("dst"), $"deg".as("dd"))),
            "dst")
          .agg(count(lit(1)).as("n_dir_edges"),
            r4(corr($"ds", $"dd")).as("assortativity"))
          .crossJoin(broadcast(dstats))
          .select($"n_nodes", $"n_dir_edges", $"avg_deg", $"assortativity")
      },
      Some(s"""WITH ${corrCtes},
             |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
             |edges AS MATERIALIZED (
             |  SELECT ka AS src, kb AS dst FROM e0
             |  UNION ALL SELECT kb, ka FROM e0),
             |deg AS (SELECT src AS node, count(*) AS deg
             |        FROM edges GROUP BY 1),
             |ds AS (SELECT count(*) AS n_nodes,
             |         round(avg(deg) + 1e-9, 4) AS avg_deg FROM deg)
             |SELECT ds.n_nodes, count(*) AS n_dir_edges, ds.avg_deg,
             |  round(corr(sd.deg, dd.deg) + 1e-9, 4) AS assortativity
             |FROM edges e
             |JOIN deg sd ON sd.node = e.src
             |JOIN deg dd ON dd.node = e.dst, ds
             |GROUP BY ds.n_nodes, ds.avg_deg""".stripMargin)),

    // M15 (beyond-reference): deterministic label propagation over the
    // correlation graph — the near-linear community detector next to
    // m6's Louvain (which is modularity-greedy and driver-side): K=5
    // synchronous rounds, most-frequent neighbor label, ties to the
    // smallest label. Fully distributed AND fully oracle-checked as 5
    // chained reference-linear CTEs (graph/LabelProp.scala). Edge
    // parity rides on r4 corr agreement as in m11/m12.
    Q("m15_lpa",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = und.select($"ka".as("src"), $"kb".as("dst"))
          .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
        graft.graph.LabelProp.run(edges, k = 5)
          .orderBy($"node")
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
              |edges AS MATERIALIZED (
              |  SELECT ka AS src, kb AS dst FROM e0
              |  UNION ALL SELECT kb, ka FROM e0),
              |${graft.graph.LabelProp.oracleSqlSuffix(5)}
              |SELECT node, label FROM l_5 ORDER BY node""".stripMargin)),

    Q("m6_louvain",
      (s, dir) => {
        import s.implicits._
        val net = corrNet(s, dir)
        val (comm, q) = net.louvain
        val sizes = comm.groupBy(_._2).view.mapValues(_.size).toMap
        Seq((net.nodes.size, net.edges.size, sizes.size, r4d(q),
          if (sizes.isEmpty) 0 else sizes.values.max))
          .toDF("n_nodes", "n_edges", "n_communities", "modularity", "max_community")
      },
      None),

    // m6's invariant side-oracle (round-12, VERDICT item 3): Louvain's
    // modularity is confined to [-0.5, 1], the partition must COVER
    // the node set (every node in exactly one community), and the
    // community count must lie in [1, n_nodes]. The cross-engine
    // anchor is the candidate key-set size (distinct user_id < 200) —
    // the pipeline input DuckDB recounts independently. (The edge set
    // itself is deliberately NOT anchored: m6 uses the unrounded corr
    // graph, whose |r| > 0.3 boundary is last-ulp engine-dependent —
    // the reason m6 is pinned rather than oracled in the first place.)
    Q("m6i_louvain_inv",
      (s, dir) => {
        import s.implicits._
        val net = corrNet(s, dir)
        val nodes = net.nodes
        val (comm, q) = net.louvain
        val nComm = comm.values.toSet.size
        Seq((net.nCandidates,
            q >= -0.5 && q <= 1.0,
            nodes.forall(comm.contains) && comm.keySet.subsetOf(nodes.toSet),
            nodes.isEmpty || (nComm >= 1 && nComm <= nodes.size)))
          .toDF("n_candidates", "modularity_ok", "cover_ok", "n_comm_ok")
      },
      Some("""SELECT count(DISTINCT user_id) AS n_candidates,
             |  true AS modularity_ok, true AS cover_ok, true AS n_comm_ok
             |FROM events WHERE user_id < 200""".stripMargin)),

    // M6b (beyond-reference, round 12): FULLY-DISTRIBUTED Louvain over
    // the r4-rounded correlation graph — the scale path next to m6's
    // driver sweep, and unlike m6 it is HASH-CHECKED cross-engine:
    // parity-gated synchronous moves with r6-rounded gains are
    // deterministic relational algebra, so DuckDB replays the entire
    // 2-level × 4-round run as chained CTEs
    // (graph/LouvainDist.oracleSqlSuffix). Edge parity rides on the r4
    // corr contract like m11/m15. Communities keep their representative
    // node ids (no global dense renumber — that window would be a
    // single-partition exchange for cosmetics only).
    Q("m6b_louvain_dist",
      (s, dir) => {
        import s.implicits._
        louvainAssign(s, dir)
          .select($"node", $"c".as("community"))
          .orderBy($"node")
      },
      Some(s"""WITH ${louvainOracleCtes()}
              |SELECT node, c AS community FROM asg ORDER BY node"""
        .stripMargin)),

    // M6c: the m6-shaped summary of the distributed run — node/edge
    // census, community count, MODULARITY (the m6 quality metric,
    // recomputed distributively on the original graph and r4-rounded)
    // and the largest community size. DuckDB replays modularity from
    // the same asg CTE, so the metric itself is cross-engine checked —
    // the only Louvain quality number in the repo with a hash check.
    Q("m6c_louvain_summary",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb", abs($"r").as("w"))
        val edges = louvainEdges(s, dir)
        val asg = louvainAssign(s, dir)
        val q = graft.graph.LouvainDist.modularity(edges, asg)
          .select($"n_communities", Rx.r4($"modularity").as("modularity"))
        val nN = asg.agg(count(lit(1)).as("n_nodes"))
        val nE = und.agg(count(lit(1)).as("n_edges"))
        val mx = asg.groupBy($"c").agg(count(lit(1)).as("sz"))
          .agg(max($"sz").as("max_community"))
        nN.crossJoin(nE).crossJoin(q).crossJoin(mx)
          .select($"n_nodes", $"n_edges", $"n_communities",
            $"modularity", $"max_community")
      },
      Some(s"""WITH ${louvainOracleCtes()},
              |cdg AS (SELECT a.c, sum(d.d) AS cd
              |  FROM asg a JOIN deg_1 d ON d.node = a.node GROUP BY 1),
              |cin AS (SELECT a.c, sum(e.w) AS iw
              |  FROM edges e
              |  JOIN asg a ON a.node = e.src
              |  JOIN asg b ON b.node = e.dst
              |  WHERE a.c = b.c GROUP BY 1)
              |SELECT
              |  (SELECT count(*) FROM asg) AS n_nodes,
              |  (SELECT count(*) FROM edges WHERE src < dst) AS n_edges,
              |  (SELECT count(DISTINCT c) FROM asg) AS n_communities,
              |  (SELECT round(sum(coalesce(i.iw, 0) / mm.m2
              |            - (c.cd / mm.m2) * (c.cd / mm.m2)) + 1e-9, 4)
              |     FROM cdg c LEFT JOIN cin i ON i.c = c.c, mm)
              |    AS modularity,
              |  (SELECT max(sz) FROM
              |    (SELECT count(*) AS sz FROM asg GROUP BY c))
              |    AS max_community""".stripMargin)),

    // G23 (beyond-reference, round 12): exact k-hop neighborhood
    // function — |ball(v, 3)| per vertex of the correlation graph by
    // materializing distinct (vertex, reached) pairs for 3 rounds.
    // This is the GROUND-TRUTH form: the pair set is Θ(n · reach),
    // fine for bounded graphs/hops, and exactly what g24's sketch
    // exists to avoid at scale. Oracled as 3 chained distinct-union
    // CTEs.
    Q("g23_khop_reach",
      (s, dir) => {
        import s.implicits._
        graft.graph.HyperAnf.khopExact(corrEdgesSym(s, dir), k = 3)
          .orderBy($"node")
      },
      Some(s"""WITH ${corrEdgesCtes()},
              |${graft.graph.HyperAnf.khopOracleSqlSuffix(3)}
              |SELECT node, count(*) AS n_reach FROM r_3
              |GROUP BY 1 ORDER BY node""".stripMargin)),

    // G24: HyperANF (Boldi et al. 2011) — the same neighborhood
    // function via per-vertex PORTABLE HLL registers (p=8, m=256)
    // max-merged along edges each round: per-round state is ≤ m
    // registers per vertex instead of the reachable SET, which is what
    // makes |ball(v, t)| computable on a graph whose exact pair set
    // cannot exist. Register derivation, merges and estimates all
    // replay in DuckDB (graph/HyperAnf.oracleSqlSuffix), so the SKETCH
    // ITSELF is hash-checked — zsum40 state included — not just
    // rows-checked. HyperAnfSpec pins sketch-vs-exact accuracy.
    Q("g24_hyperanf",
      (s, dir) => {
        import s.implicits._
        // round-13: estimates off the MEMOIZED register iteration
        // (anfRounds) — identical frames, built once for g24/g26/g27
        graft.graph.HyperAnf.estimateAtK(anfRounds(s, dir), p = 8)
          .orderBy($"node")
      },
      Some(s"""WITH ${corrEdgesCtes()},
              |${graft.graph.HyperAnf.oracleSqlSuffix(3, 8)}
              |ORDER BY node""".stripMargin)),

    // G26: the neighborhood-function curve N(t) = Σ_v |ball(v, t)| for
    // t = 0..3 — the HyperANF paper's actual deliverable (g24 gives the
    // per-vertex view): each round's r4-rounded per-vertex estimates
    // summed, plus N(t)/N(3) — the fraction the effective diameter is
    // read from (smallest t with frac ≥ 0.9). Same register iteration
    // and portable-HLL replay as g24; four rows, fully hash-checked.
    Q("g26_anf_curve",
      (s, dir) => {
        import s.implicits._
        // round-13: curve off the same memoized register rounds as g24
        graft.graph.HyperAnf.curveFromRounds(anfRounds(s, dir), p = 8)
          .orderBy($"t")
      },
      Some(s"""WITH ${corrEdgesCtes()},
              |${graft.graph.HyperAnf.curveOracleSqlSuffix(3, 8)}
              |ORDER BY t""".stripMargin)),

    // G27 (round 12): one-row graph summary — node/edge census, global
    // triangle count, TRANSITIVITY (3·triangles / wedges = the global
    // clustering coefficient; m12 carries the per-node version) and
    // the EFFECTIVE DIAMETER read off g26's neighborhood curve
    // (smallest t with N(t)/N(3) ≥ 0.9). Every term reuses an audited
    // generator (Triangles.perNode, HyperAnf.neighborhoodFunction, the
    // Hll estimate CTEs), so the row is fully hash-checked. Wedge
    // count enters as Σ deg·(deg−1) — per-term even, so /2 is exact on
    // both engines.
    Q("g27_graph_summary",
      (s, dir) => {
        import s.implicits._
        val und = corrGraph(s, dir).select($"ka", $"kb")
        val edges = corrEdgesSym(s, dir)
        val deg = edges.groupBy($"src".as("node"))
          .agg(count(lit(1)).as("deg"))
        val nN = deg.agg(count(lit(1)).as("n_nodes"))
        val nE = und.agg(count(lit(1)).as("n_edges"))
        val w2 = deg.agg(sum($"deg" * ($"deg" - 1)).as("w2"))
        // round-13: triangle counts and the ANF curve both come from the
        // generators m12/g24/g26 already built (memoized) — same values,
        // zero recompute inside one bench/verify run
        val tri = triPerNode(s, dir)
          .agg((coalesce(sum($"n_tri"), lit(0L)) / 3).cast("long")
            .as("n_triangles"))
        val eff = graft.graph.HyperAnf
          .curveFromRounds(anfRounds(s, dir), p = 8)
          .agg(min(when($"frac" >= 0.9, $"t")).as("eff_diameter"))
        nN.crossJoin(nE).crossJoin(tri).crossJoin(w2).crossJoin(eff)
          .select($"n_nodes", $"n_edges", $"n_triangles",
            r6(when($"w2" > 0,
              lit(6.0) * $"n_triangles" / $"w2").otherwise(lit(0.0)))
              .as("transitivity"),
            $"eff_diameter")
      },
      Some(s"""WITH ${corrEdgesCtes()},
              |${graft.graph.HyperAnf.registersSqlCtes(3, 8)},
              |${(0 to 3).map(t => graft.sketch.Hll.keyedEstimateSql(
                   s"regs_$t", "node", 8, s"e${t}_", s"e${t}_res"))
                   .mkString(",\n")},
              |nf AS (${(0 to 3).map(t =>
                   s"SELECT $t AS t, round(sum(estimate) + 1e-9, 4) " +
                     s"AS n_reach FROM e${t}_res")
                   .mkString("\n  UNION ALL ")}),
              |nk AS (SELECT n_reach AS nk FROM nf WHERE t = 3),
              |tri AS (
              |  SELECT ab.ka AS a, ab.kb AS b, bc.kb AS c
              |  FROM e0 ab JOIN e0 bc ON ab.kb = bc.ka
              |  JOIN e0 ac ON ac.ka = ab.ka AND ac.kb = bc.kb),
              |dg AS (SELECT src AS node, count(*) AS deg
              |       FROM edges GROUP BY 1)
              |SELECT
              |  (SELECT count(*) FROM dg) AS n_nodes,
              |  (SELECT count(*) FROM e0) AS n_edges,
              |  (SELECT count(*) FROM tri) AS n_triangles,
              |  round(CASE WHEN (SELECT sum(deg * (deg - 1)) FROM dg) > 0
              |    THEN CAST(6.0 AS DOUBLE) * (SELECT count(*) FROM tri)
              |      / (SELECT sum(deg * (deg - 1)) FROM dg)
              |    ELSE 0.0 END + 1e-9, 6) AS transitivity,
              |  (SELECT min(CASE WHEN round(n_reach / nk.nk + 1e-9, 6)
              |       >= 0.9 THEN t END)
              |     FROM nf, nk) AS eff_diameter""".stripMargin)),

    // G28 (round-13): approximate HARMONIC CENTRALITY per vertex —
    // H(v) = Σ_u≠v 1/d(v,u) — read off the SAME shared HyperANF
    // register iteration g24/g26/g27 consume (Boldi & Vigna's
    // HyperBall: the ball-difference identity
    // H(v) = Σ_t (|ball(v,t)| − |ball(v,t−1)|)/t turns the geometric
    // centrality into per-round sketch arithmetic — the paper's actual
    // application of the ANF machinery). Zero additional register
    // cost: four memoized estimate reads + three node-keyed joins.
    // Per-round estimates are r4-rounded (the portable-HLL contract),
    // so the telescoping sum replays bit-stably in DuckDB and the
    // query is hash-checked end to end.
    Q("g28_harmonic",
      (s, dir) => {
        import s.implicits._
        val rounds = anfRounds(s, dir)
        def est(t: Int) = graft.sketch.Hll
          .keyedEstimateFromRegisters(rounds(t), "node", 8)
          .select($"node", $"estimate".as(s"e$t"))
        est(0).join(est(1), "node").join(est(2), "node").join(est(3), "node")
          .select($"node",
            r6(($"e1" - $"e0") / lit(1.0) + ($"e2" - $"e1") / lit(2.0)
              + ($"e3" - $"e2") / lit(3.0)).as("harmonic"))
          .orderBy($"node")
      },
      Some(s"""WITH ${corrEdgesCtes()},
              |${graft.graph.HyperAnf.registersSqlCtes(3, 8)},
              |${(0 to 3).map(t => graft.sketch.Hll.keyedEstimateSql(
                   s"regs_$t", "node", 8, s"e${t}_", s"e${t}_res"))
                   .mkString(",\n")}
              |SELECT a.node,
              |  round((b.estimate - a.estimate) / 1.0
              |    + (c.estimate - b.estimate) / 2.0
              |    + (d.estimate - c.estimate) / 3.0 + 1e-9, 6) AS harmonic
              |FROM e0_res a
              |JOIN e1_res b ON b.node = a.node
              |JOIN e2_res c ON c.node = a.node
              |JOIN e3_res d ON d.node = a.node
              |ORDER BY a.node""".stripMargin)),

    // G29 (round-13): 4-truss of the correlation graph — synchronous
    // edge peeling (Cohen 2008): each round computes per-EDGE triangle
    // support on the current set and drops edges in < 2 triangles;
    // a 6-round budget with the hash-preserving fixpoint early-exit
    // (round-14, the m6b pattern — KTruss.scala scaladoc carries the
    // no-op proof), so the Spark side stops as soon as a round removes
    // nothing while a 100× graph needing deeper peels simply uses the
    // budget; final support RECOMPUTED on the surviving set so every
    // output row certifies the truss property. Completes the triangle
    // family: m12 counts per node, g27 globally, g29 peels per edge.
    // Rides the shared corrGraph; whole peel replays as chained CTEs.
    Q("g29_ktruss",
      (s, dir) => {
        import s.implicits._
        graft.graph.KTruss.run(corrGraph(s, dir).select($"ka", $"kb"),
            k = 4, rounds = 6)
          .orderBy($"ka", $"kb")
      },
      Some(s"""WITH ${corrCtes},
              |e0 AS MATERIALIZED (SELECT ka, kb FROM c WHERE abs(r) > 0.3),
              |${graft.graph.KTruss.oracleSqlSuffix(4, 6)}
              |SELECT e.ka, e.kb, coalesce(s.support, 0) AS support
              |FROM ed_6 e LEFT JOIN sp_out s
              |  ON s.ka = e.ka AND s.kb = e.kb
              |ORDER BY e.ka, e.kb""".stripMargin)),

    // M10: force-directed layout of the correlation network —
    // `nx.spring_layout(G, k=1/sqrt(n), iterations=50)` feeding
    // plot_louvain_network (market_analysis.py:399). Same graph and
    // Louvain run as m6 (both read [[corrNet]]); layout runs driver-side
    // over the tiny aggregate (the distributed part is the correlation
    // aggregation). Seed-deterministic but not
    // SQL-reproducible → rows-only; LayoutSpec + GoldenPinSpec pin the
    // algorithm, Sinks.htmlNetwork renders it (S7).
    Q("m10_layout",
      (s, dir) => {
        import s.implicits._
        val net = corrNet(s, dir)
        val comm = net.louvain._1
        val pos = net.layout
        net.nodes.map { id =>
          (id, comm.getOrElse(id, -1), r4d(pos(id)._1), r4d(pos(id)._2),
            net.degree(id))
        }.toDF("node", "community", "x", "y", "degree")
      },
      None),

    // m10's invariant side-oracle (round-12, VERDICT item 3): the
    // spring layout must place EVERY graph node (one row per node),
    // every coordinate must be finite (a diverged force iteration
    // yields NaN/Inf), and every laid-out node has degree ≥ 1 by
    // construction (nodes enter via edges). Cross-engine anchor =
    // the candidate key-set size, as in m6i.
    Q("m10i_layout_inv",
      (s, dir) => {
        import s.implicits._
        val net = corrNet(s, dir)
        val (nodes, pos, deg) = (net.nodes, net.layout, net.degree)
        def finite(d: Double) = !d.isNaN && !d.isInfinite
        Seq((net.nCandidates,
            nodes.forall(pos.contains) && pos.size == nodes.size,
            nodes.forall(id => finite(pos(id)._1) && finite(pos(id)._2)),
            nodes.forall(id => deg.getOrElse(id, 0) >= 1)))
          .toDF("n_candidates", "placed_ok", "finite_ok", "degree_ok")
      },
      Some("""SELECT count(DISTINCT user_id) AS n_candidates,
             |  true AS placed_ok, true AS finite_ok, true AS degree_ok
             |FROM events WHERE user_id < 200""".stripMargin)))

  private def r4d(x: Double): Double = math.round((x + 1e-9) * 1e4) / 1e4
}

/** Shared SQL prefix reproducing the full DBSCAN pipeline in DuckDB —
  * standardize → r6 round (the determinism contract) → pairwise
  * sqrt-form distances → sorted 2-NN curve → knee ε → degrees/cores →
  * recursive-CTE core components → borders. Every double expression
  * mirrors the Scala evaluation order so the comparison
  * `d² <= ε²` resolves identically in both engines. */
private[queries] object DbscanOracle {
  val prefix: String =
    """WITH RECURSIVE f AS (
      |  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sd
      |  FROM events GROUP BY user_id),
      |st AS (
      |  SELECT user_id,
      |    round((mu - avg(mu) OVER ()) / stddev_pop(mu) OVER () + 1e-9, 6) AS x,
      |    round((sd - avg(sd) OVER ()) / stddev_pop(sd) OVER () + 1e-9, 6) AS y
      |  FROM f),
      |pd AS (
      |  SELECT a.user_id AS ia, b.user_id AS ib,
      |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      |  FROM st a JOIN st b ON a.user_id <> b.user_id),
      |nn AS (
      |  SELECT id, sqrt(d2) AS d FROM (
      |    SELECT ia AS id, d2,
      |      row_number() OVER (PARTITION BY ia ORDER BY d2) AS rn
      |    FROM pd) WHERE rn = 2),
      |curve AS (SELECT d, row_number() OVER (ORDER BY d) - 1 AS i FROM nn),
      |ends AS (
      |  SELECT (SELECT d FROM curve WHERE i = 0) AS y1,
      |    (SELECT d FROM curve ORDER BY i DESC LIMIT 1) AS y2,
      |    (SELECT CAST(max(i) AS DOUBLE) FROM curve) AS x2),
      |knee AS (
      |  SELECT c.d, c.i,
      |    abs((e.y2 - e.y1) * c.i - e.x2 * c.d + e.x2 * e.y1)
      |      / sqrt(e.x2 * e.x2 + (e.y2 - e.y1) * (e.y2 - e.y1)) AS cd
      |  FROM curve c, ends e),
      |eps0 AS (SELECT d AS eps FROM knee ORDER BY cd DESC, i LIMIT 1),
      |mp AS (
      |  SELECT greatest(CAST(trunc(ln(count(*))) AS INT), 3) AS minpts
      |  FROM st),
      |deg AS (
      |  SELECT ia AS id, count(*) AS deg FROM pd, eps0
      |  WHERE pd.d2 <= eps0.eps * eps0.eps GROUP BY ia),
      |coreids AS (
      |  SELECT st.user_id AS id
      |  FROM st LEFT JOIN deg ON st.user_id = deg.id CROSS JOIN mp
      |  WHERE coalesce(deg.deg, 0) + 1 >= mp.minpts),
      |ce AS (
      |  SELECT pd.ia AS a, pd.ib AS b FROM pd, eps0
      |  WHERE pd.d2 <= eps0.eps * eps0.eps
      |    AND pd.ia IN (SELECT id FROM coreids)
      |    AND pd.ib IN (SELECT id FROM coreids)),
      |sym AS (SELECT a, b FROM ce UNION SELECT id, id FROM coreids),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |comp AS (SELECT a AS id, min(b) AS lbl FROM reach GROUP BY a),
      |borders AS (
      |  SELECT DISTINCT pd.ia AS id FROM pd, eps0
      |  WHERE pd.d2 <= eps0.eps * eps0.eps
      |    AND pd.ib IN (SELECT id FROM coreids)
      |    AND pd.ia NOT IN (SELECT id FROM coreids))
      |""".stripMargin
}
