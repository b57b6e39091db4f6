package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Statistical sanity floors for the portable (hash-checked) ML
  * operators — the hash gate proves cross-engine EQUALITY, these prove
  * the answers are also GOOD: the portable k-means actually clusters
  * (inertia ≪ the no-clustering baseline) and the Naive Bayes actually
  * classifies (accuracy ≫ majority-class chance). */
class PortableMlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  test("m16 portable k-means: Lloyd's inertia is monotone in rounds" +
      " and below the k=1 baseline") {
    // The sf embeddings are near-isotropic (no planted clusters), so a
    // large WSS/TSS drop is NOT expected — measured ~0.93. What IS
    // guaranteed: (a) any k>1 clustering beats the single-centroid
    // baseline, and (b) each Lloyd round cannot increase inertia (the
    // classic monotonicity proof: both the assign and the update step
    // are coordinate descents on the same objective).
    val emb = graft.io.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    def wss(rounds: Int): Double = graft.cluster.PortableKMeans.assign(
        emb, "vec_id", "v", k = 8, rounds = rounds, dims = 64)
      .agg(sum($"d2")).as[Double].head()
    val (w1, w2, w3) = (wss(1), wss(2), wss(3))
    assert(w1 >= w2 && w2 >= w3,
      s"Lloyd inertia not monotone: $w1, $w2, $w3")
    val centroid = emb.select(posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"pos").agg(avg($"x").as("m"))
      .agg(transform(array_sort(collect_list(struct($"pos", $"m".as("a")))),
        s => s("a")).as("c"))
    val tss = emb.crossJoin(broadcast(centroid))
      .select(graft.sim.ReferenceForms.dist2Unrolled($"v", $"c", 64).as("d2"))
      .agg(sum($"d2")).as[Double].head()
    assert(w3 < tss, s"k=8 inertia $w3 not below total SS $tss")
    info(f"WSS/TSS = ${w3 / tss}%.3f (k=8, md5 init, 3 rounds — " +
      "near-isotropic data, a large drop is not expected)")
  }

  test("ArgminDist2 kernel ≡ the explode+min(struct) argmin it replaced" +
      " (bit parity, real embeddings)") {
    // the round-21 map-only assign (ArgminDist2) must pick the SAME
    // centroid with the SAME d2 bits as the aggregate form: same
    // left-to-right IEEE summation, same (d2, cid) lexicographic
    // tie-break — see the kernel's scaladoc for the argument; this
    // pins it on real data including exact-tie candidates (duplicated
    // centroid below forces ties at every row)
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // deterministic centroid sample: 7 distinct + 1 duplicate
    val base = emb.orderBy($"vec_id").limit(7)
      .withColumn("cid", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"vec_id")) - 1)
        .cast("int"))
      .select($"cid", $"v".as("cvec"))
    val dup = base.filter($"cid" === 3).select(lit(7).cast("int").as("cid"),
      $"cvec") // cid 7 duplicates cid 3 → every row ties 3 vs 7
    val centroids = base.unionByName(dup)
    val oldForm = emb.crossJoin(broadcast(centroids))
      .withColumn("d2", graft.sim.ReferenceForms.dist2Unrolled($"v", $"cvec", 64))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cid")).as("mn"))
      .select($"vec_id", $"mn.cid".as("cid"), $"mn.d2".as("d2"))
    val centsRow = centroids.agg(array_sort(
      collect_list(struct($"cid", $"cvec"))).as("__cents"))
    val newForm = emb.crossJoin(broadcast(centsRow))
      .withColumn("mn", graft.cluster.ArgminDist2($"v", $"__cents", 64))
      .select($"vec_id", $"mn.cid".as("cid"), $"mn.d2".as("d2"))
    assert(newForm.exceptAll(oldForm).isEmpty && oldForm.exceptAll(newForm).isEmpty,
      "kernel argmin diverged from the aggregate form")
    // ties really occurred and resolved to the smaller cid
    assert(newForm.filter($"cid" === 7).count() === 0)
    assert(newForm.filter($"cid" === 3).count() > 0)
  }

  test("Naive Bayes separates a vocabulary-disjoint fixture perfectly") {
    // the declared t24 runs over the synthetic corpus, whose lang
    // labels are independent of the text (measured held-out accuracy
    // ≈ majority chance — the honest outcome there). The operator
    // contract is pinned HERE, on data with real signal: disjoint
    // per-class vocabularies must classify 100%.
    val mk = (c: String, word: String, n: Int) =>
      (0 until n).map(i => (s"$c-$i", c, Array.fill(6)(word + (i % 3))))
    val docs = (mk("aa", "alpha", 20) ++ mk("bb", "beta", 20) ++
      mk("cc", "gamma", 20)).toDF("id", "label", "ts")
    val train = docs.filter($"id".endsWith("0") === false)
    val test = docs // score everything, including unseen -0 docs
    val conf = graft.text.NaiveBayes.confusion(
        train, test, "id", "label", "ts")
      .as[(String, String, Long)].collect()
    assert(conf.forall(r => r._1 == r._2),
      s"misclassifications on a separable fixture: ${conf.mkString(",")}")
    assert(conf.map(_._3).sum === 60L)
  }

  test("t24 declared query: confusion totals cover the held-out set") {
    val conf = SparkEntry.queries("t24_naive_bayes")(spark, sf)
      .as[(String, String, Long)].collect()
    val total = conf.map(_._3).sum
    val heldOut = graft.io.Tables.documents(spark, sf)
      .filter($"doc_id" % 5 === 0).count()
    assert(total === heldOut)
    val acc = conf.filter(r => r._1 == r._2).map(_._3).sum.toDouble / total
    info(f"held-out accuracy $acc%.3f (labels are independent of text " +
      "in the synthetic corpus; ≈ chance is expected)")
  }
}
