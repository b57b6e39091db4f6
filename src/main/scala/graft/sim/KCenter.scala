package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy farthest-point k-center selection (Gonzalez 1985, the
  * classic 2-approximation) — the diversity-selection / coreset pass a
  * training-data curation pipeline runs to pick k maximally-spread
  * exemplars from an embedding corpus (data pruning, eval-set seeding,
  * prompt selection).
  *
  * 100 TB design: round r finds the point FARTHEST from the chosen set
  * with a single TakeOrdered top-1 over the corpus (map-side max per
  * partition + driver merge — no shuffle), then folds the new center's
  * distance into the running per-point minimum with one `least` column,
  * so the whole selection is k bounded linear passes. Centers live on
  * the driver (k rows — the bounded-driver convention of SURVEY §2.10);
  * the final assignment evaluates all k distances per corpus row as a
  * NARROW array-of-structs argmin (no cross join, no shuffle on N) and
  * aggregates k groups. Every distance is the same fixed-order
  * left-fold over the dims on both engines (the d5/s1 idiom), so the
  * greedy argmax sequence — and therefore the selected center set — is
  * bit-reproducible in the DuckDB oracle.
  *
  * Output (k rows): rank (1-based selection order), center_id,
  * sel_dist (squared L2 to the previously-chosen set at selection
  * time; 0.0 for the seed), n_assigned (corpus points whose nearest
  * center this is; ties break toward the earlier rank), cover_radius
  * (max squared L2 over the assigned points).
  */
object KCenter {

  /** Fixed-order squared-L2 fold against a driver-side center vector.
    *
    * Round-21 MEASURED REJECTION of the compiled form: swapping the
    * fold for the 64-term unrolled `element_at` distance tree against
    * `typedLit(c)` (bit-parity, oracle green both SFs) read s15
    * 0.95 → 3.9s at bench conditions —
    * every greedy round is a FRESH plan (the md chain grows a column
    * per round), so the k rounds pay k escalating whole-stage-codegen
    * compiles of 64-term unrolled trees where the CodegenFallback HOF
    * compiles nothing; at the gate corpus the loop is compile-bound,
    * not fold-bound. A future corpus decade where the per-row fold
    * dominates should revisit with a cached-plan shape (single
    * ArgminDist2 over a growing center row) rather than per-round
    * unrolling. */
  private def sqDistTo(v: Column, c: Seq[Double]): Column =
    aggregate(zip_with(v, typedLit(c), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  def greedy(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._

    val e = emb.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))

    // Seed: the lowest id (a deterministic start; the standard greedy
    // guarantee holds for any seed).
    val seed = e.orderBy($"vec_id").limit(1).collect()(0)
    var centers = Vector[(Long, Seq[Double], Double)](
      (seed.getLong(0), seed.getSeq[Double](1).toVector, 0.0))

    // md = min squared distance to the chosen set so far. Rebuilt as a
    // column chain (scan + r narrow folds per round): k bounded passes,
    // nothing cached or shuffled.
    var md = e.withColumn("md", sqDistTo($"v", centers.head._2))
    var r = 1
    while (r < k) {
      val nxt = md.orderBy($"md".desc, $"vec_id").limit(1).collect()(0)
      // Farthest distance 0 means every corpus point coincides with a
      // chosen center — the argmax would re-select an already-chosen
      // point and silently break the distinct-centers contract (k can
      // exceed the number of DISTINCT points even when it is under the
      // row count, e.g. duplicated embeddings). Fail loudly instead.
      require(nxt.getDouble(2) > 0.0,
        s"k=$k exceeds the number of distinct corpus points ($r found)")
      centers = centers :+ ((nxt.getLong(0),
        nxt.getSeq[Double](1).toVector, nxt.getDouble(2)))
      md = md.withColumn("md", least($"md", sqDistTo($"v", centers(r)._2)))
      r += 1
    }

    // Assignment: per-row k distances as array<struct<dd,rank>>,
    // array_sort (dd asc, rank asc — earlier rank wins ties), take the
    // head. Narrow until the k-group aggregate.
    val withD = centers.zipWithIndex.foldLeft(e) { case (df, ((_, cv, _), i)) =>
      df.withColumn(s"__dd_${i + 1}", sqDistTo(col("v"), cv))
    }
    val best = withD
      .withColumn("__best", array_sort(array((1 to k).map(i =>
        struct(col(s"__dd_$i").as("dd"), lit(i).as("rank"))): _*)).getItem(0))
      .select($"__best.rank".as("rank"), $"__best.dd".as("dd"))
    val asg = best.groupBy($"rank")
      .agg(count(lit(1)).as("n_assigned"), max($"dd").as("cover_radius"))

    val centDf = centers.zipWithIndex
      .map { case ((cid, _, sd), i) => (i + 1, cid, sd) }
      .toDF("rank", "center_id", "sel_dist")
    centDf.join(asg, Seq("rank"), "left")
      .select($"rank", $"center_id", $"sel_dist",
        coalesce($"n_assigned", lit(0L)).as("n_assigned"), $"cover_radius")
      .orderBy($"rank")
  }

  /** DuckDB oracle for [[greedy]] over the `embeddings` table: the k
    * selection rounds unrolled as CTE stages (c1/d1 … ck), each the
    * same fixed-order distance fold and (md DESC, vec_id) argmax as
    * the Spark side, then the k-row center set re-joined for the
    * assignment aggregate. Generated (vs a literal) because the stage
    * count is k — the IvfAnn/Pq oracle convention. */
  def greedyOracleSql(k: Int, dims: Int): String = {
    def dist(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), " +
        s"i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i]))), (acc, x) -> acc + x)"
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v" +
      " FROM embeddings),\n"
    sb ++= "c1 AS (SELECT vec_id, v, 0.0 AS sd FROM e ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"d1 AS (SELECT e.vec_id, e.v, ${dist("e", "c")} AS md FROM e, c1 c),\n"
    for (r <- 2 to k) {
      sb ++= s"c$r AS (SELECT vec_id, v, md AS sd FROM d${r - 1}" +
        " ORDER BY md DESC, vec_id LIMIT 1),\n"
      if (r < k)
        sb ++= s"d$r AS (SELECT d.vec_id, d.v, least(d.md, ${dist("d", "c")})" +
          s" AS md FROM d${r - 1} d, c$r c),\n"
    }
    sb ++= "cent AS (\n  " + (1 to k)
      .map(r => s"SELECT $r AS rank, vec_id, v, sd FROM c$r")
      .mkString("\n  UNION ALL ") + "),\n"
    sb ++= s"a AS (SELECT e.vec_id, cent.rank, ${dist("e", "cent")} AS dd" +
      " FROM e CROSS JOIN cent),\n"
    sb ++= "b AS (SELECT vec_id, rank, dd, row_number() OVER" +
      " (PARTITION BY vec_id ORDER BY dd, rank) AS rn FROM a)\n"
    sb ++= "SELECT cent.rank, cent.vec_id AS center_id," +
      " round(cent.sd + 1e-9, 6) AS sel_dist,\n" +
      "  CAST(count(b.vec_id) AS BIGINT) AS n_assigned,\n" +
      "  round(max(b.dd) + 1e-9, 6) AS cover_radius\n" +
      "FROM cent LEFT JOIN b ON b.rank = cent.rank AND b.rn = 1\n" +
      "GROUP BY 1, 2, 3 ORDER BY 1"
    sb.toString
  }
}
