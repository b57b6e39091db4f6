package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** J6/M8 at scale: EXACT k-nearest-neighbors in 2-D feature space with
  * grid-cell-bounded pair generation (reference semantics:
  * market_analysis.py:851-854, sklearn NearestNeighbors k=2).
  *
  * The naive form is an all-pairs `a.id =!= b.id` self-join — N² pair
  * compute through a nested-loop join, the one shape that cannot
  * survive a 100× scale-up. This operator generates candidate pairs
  * only from same-or-adjacent grid cells (the [[DistributedDbscan]]
  * ε-grid idiom) and keeps EXACTNESS with a ring-expansion argument:
  *
  *  - bucket all points into cells of side `w`; a point's candidates
  *    are the points in its 3×3 cell neighborhood. Any point outside
  *    that neighborhood is at distance > w (|Δx| > w or |Δy| > w).
  *  - therefore, if a point finds ≥ k candidates and its k-th candidate
  *    distance is ≤ w, those k ARE its true k-nearest — resolved.
  *  - points that can't certify (sparse neighborhood, or k-th distance
  *    beyond w) retry at doubled w. The 3×3 neighborhood at 2w covers
  *    strictly more than at w, so candidate sets only grow; every point
  *    certifies once w exceeds the data diameter, giving ≤
  *    log2(diameter/w0) rounds — in practice 1-2 rounds resolve the
  *    dense mass and later rounds run on a shrinking outlier tail.
  *
  * Small inputs take a probed direct path instead (the
  * [[graft.dedup.Dedup.components]] count-probe idiom): n is already
  * known from the width probe, and when n ≤ `smallN` the exact
  * all-pairs broadcast top-k — ≤ smallN² bounded distance evals, zero
  * shuffle on the pair side — costs less than ONE grid round's fixed
  * overhead (each round is several jobs: candidate join, heap agg,
  * certificate, two cuts). The cutover is a probed
  * count, never a guess, so the quadratic shape is entered only under
  * an explicit bound; above it the grid rounds keep pair compute
  * neighborhood-local. Output is identical on both paths.
  *
  * Per round the work is ONE equi-join on the cell key (probe side =
  * still-unresolved points exploded to their 9 neighbor cells, build
  * side = all points bucketed once) — pair compute is bounded by
  * occupancy of the 3×3 neighborhoods, never N². Per-key heaps
  * ([[graft.operators.TopK]]) keep the candidate set out of the
  * shuffle.
  */
object GridKnn {

  /** Exact kNN. Output: (idCol, nid, dist, rank) with rank = 1..k in
    * (dist, nid) ascending order — identical to
    * `row_number() OVER (PARTITION BY id ORDER BY dist, nid) <= k`
    * over the all-pairs frame. `dist = sqrt(pow(Δx,2)+pow(Δy,2))`
    * (pow form: bit-parity with the DuckDB oracle).
    */
  def exactKnn(points: DataFrame, idCol: String, xCol: String, yCol: String,
               k: Int, maxRounds: Int = 24,
               smallN: Int = DefaultSmallN): DataFrame =
    exactKnnWithRounds(points, idCol, xCol, yCol, k, maxRounds, smallN)._1

  /** Probed direct-path cap: 4096² ≈ 1.7e7 bounded distance evals
    * through a broadcast join — well under one grid round's fixed
    * multi-job cost, and far below any executor memory concern (the
    * broadcast side is ≤ 4096 × 3 doubles). */
  val DefaultSmallN = 4096

  /** [[exactKnn]] plus the number of expansion rounds used (test hook
    * for the ring-expansion path; 0 = probed direct path). Pass
    * `smallN = 0` to force the grid rounds regardless of input size. */
  def exactKnnWithRounds(points: DataFrame, idCol: String, xCol: String,
                         yCol: String, k: Int, maxRounds: Int = 24,
                         smallN: Int = DefaultSmallN)
      : (DataFrame, Int) = {
    val spark = points.sparkSession
    import spark.implicits._

    // one 3-column materialization reused by every round's build AND
    // probe side (same lineage-cut argument as DistributedDbscan)
    val pts = Fixpoint.cut(points.select(col(idCol).as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y")))

    val (n, w0) = initialWidth(pts)
    if (n <= 1) {
      val out = pts.select($"id".as(idCol), $"id".as("nid"),
        lit(0.0).as("dist"), lit(1).as("rank")).limit(0)
      return (out, 0)
    }
    val kEff = math.min(k.toLong, n - 1).toInt

    if (n <= smallN) {
      // probed direct path: exact all-pairs top-k with the small side
      // broadcast — one stage, no grid machinery. n is a measured
      // count, so the n² pair compute is bounded by smallN² up front.
      val probe = pts.select($"id".as("pid"), $"x".as("px"), $"y".as("py"))
      val pairs = probe.join(broadcast(pts), $"pid" =!= $"id")
        .withColumn("dist", sqrt(pow($"px" - $"x", 2) + pow($"py" - $"y", 2)))
        .select($"pid", $"id".as("nid"), $"dist")
      val topk = graft.operators.TopK.perKey(pairs, Seq("pid"),
        Seq($"dist", $"nid"), kEff)
      return (topk.select($"pid".as(idCol), $"nid", $"dist", $"rank"), 0)
    }

    var resolved: DataFrame = null
    // the unresolved count is observed on each round's cut: 0 = done
    val res = Fixpoint.run(pts, maxRounds, cutEvery = 1,
        stop = Some(Fixpoint.Observed(count(lit(1)),
          (_, n) => n == 0L))) { (unresolved, round) =>
      val w = w0 * math.pow(2.0, (round - 1).toDouble)
      val cand = candidates(pts, unresolved, w)
      val topk = graft.operators.TopK.perKey(cand, Seq("pid"),
        Seq($"dist", $"nid"), kEff)
      // certificate per point: found kEff candidates AND the k-th lies
      // within the neighborhood's guaranteed-complete radius w (or we
      // already see every other point)
      val cert = topk.groupBy($"pid")
        .agg(max($"rank").as("nfound"), max($"dist").as("kdist"))
        .filter(if (kEff == n - 1) $"nfound" === kEff
                else $"nfound" === kEff && $"kdist" <= w)
        .select($"pid")
      val roundOut = Fixpoint.cut(
        topk.join(cert, Seq("pid"), "left_semi"))
      resolved = if (resolved == null) roundOut
                 else resolved.unionByName(roundOut)
      unresolved
        .join(roundOut.select($"pid".as("id")).distinct(), Seq("id"), "left_anti")
    }
    require(res.converged, s"GridKnn failed to certify all points in $maxRounds rounds")
    (resolved.select($"pid".as(idCol), $"nid", $"dist", $"rank"), res.rounds)
  }

  /** Round-0 cell width from a ROBUST span (1%-99% quantiles, not
    * min/max): a handful of far outliers must not inflate the width
    * until the dense mass collapses into one cell and round 0 goes
    * all-pairs (GridKnnSpec caught exactly that with min/max). With
    * the quantile span, outliers land in distant empty cells, fail the
    * round-0 certificate, and resolve via ring expansion — exactness
    * never depends on w0, only round count does. Targets ~2 points per
    * cell on uniform data. @return (point count, w0) */
  private[graft] def initialWidth(pts: DataFrame): (Long, Double) = {
    val spark = pts.sparkSession
    import spark.implicits._
    val qs = array(lit(0.01), lit(0.99))
    val st = pts.agg(count(lit(1)),
      percentile_approx($"x", qs, lit(10000)),
      percentile_approx($"y", qs, lit(10000))).head()
    val n = st.getLong(0)
    if (n == 0) return (0L, 1.0)
    val px = st.getSeq[Double](1)
    val py = st.getSeq[Double](2)
    val span = math.max(math.max(px(1) - px(0), py(1) - py(0)), 1e-12)
    (n, span / math.max(1.0, math.floor(math.sqrt(n.toDouble / 2.0))))
  }

  /** One round's candidate pairs at cell width `w`: probe points
    * (columns id,x,y) exploded to their 3×3 neighbor cells, equi-joined
    * on the cell key against all points (columns id,x,y). Every
    * directed (probe, other) pair within distance w is present; pair
    * count is bounded by neighborhood occupancy, never N². Exposed
    * package-visibly so GridKnnSpec can pin the bound directly. */
  private[graft] def candidates(pts: DataFrame, probePts: DataFrame,
                                  w: Double): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy)
    val build = pts
      .withColumn("cx", floor($"x" / w).cast("long"))
      .withColumn("cy", floor($"y" / w).cast("long"))
    val probe = probePts
      .withColumn("cx0", floor($"x" / w).cast("long"))
      .withColumn("cy0", floor($"y" / w).cast("long"))
      .select($"id".as("pid"), $"x".as("px"), $"y".as("py"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(($"cx0" + dx).as("cx"), ($"cy0" + dy).as("cy"))
        }: _*)).as("cell"))
      .select($"pid", $"px", $"py", $"cell.cx".as("cx"), $"cell.cy".as("cy"))
    build.join(probe, Seq("cx", "cy"))
      .filter($"id" =!= $"pid")
      .withColumn("dist",
        sqrt(pow($"px" - $"x", 2) + pow($"py" - $"y", 2)))
      .select($"pid", $"id".as("nid"), $"dist")
  }
}
