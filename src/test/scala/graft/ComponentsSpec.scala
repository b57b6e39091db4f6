package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.graph.Components

/** Contracts for connected components. Fixed-K min-label propagation
  * (`run`): exact component recovery on a fixture, k = diameter
  * sufficiency on a path graph, and — the claim the g16 hash gate can't
  * see — that the declared query's round count reaches the FIXPOINT on
  * the panel graph (so the output is true WCC, not k-hop minima), each
  * on both of its paths ([[LoopParity]]). The
  * resolver (`resolve`, through `Dedup.components`): both of its paths
  * agree, and it fails past its round cap. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("two components resolve to their min ids") {
    val edges = sym((1L, 2L), (2L, 3L), (10L, 11L))
    val got = LoopParity.components(edges, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a path graph needs exactly diameter rounds") {
    // 1-2-3-4-5: label 1 reaches node 5 only at round 4
    val edges = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val at3 = LoopParity.components(edges, k = 3)
      .filter($"node" === 5L).head().getLong(1)
    val at4 = LoopParity.components(edges, k = 4)
      .filter($"node" === 5L).head().getLong(1)
    assert(at3 === 2L) // min id within 3 hops of node 5
    assert(at4 === 1L) // converged
  }

  test("g16's round count is past the panel graph's fixpoint (sf0.001)") {
    import graft.io.Tables
    import graft.analytics.Analytics
    import graft.queries.Rx.r4
    val daily = Tables.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id" < 200)
      .groupBy(unix_micros(date_trunc("day", $"ts")).as("day"), $"user_id")
      .agg(sum($"value").as("v"))
    val und = Analytics.pairwiseCorr(daily, "day", "user_id", "v")
      .select($"key_a".cast("long").as("ka"),
        $"key_b".cast("long").as("kb"), r4($"corr").as("r"))
      .filter(abs($"r") > 0.3)
      .select($"ka", $"kb")
    val edges = und.select($"ka".as("src"), $"kb".as("dst"))
      .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
      .localCheckpoint()
    val at7 = LoopParity.components(edges, k = 7)
    val at8 = LoopParity.components(edges, k = 8)
    assert(at7.exceptAll(at8).isEmpty && at8.exceptAll(at7).isEmpty,
      "round 8 must equal round 7 — k=8 is claimed to be past the fixpoint")
  }

  test("min-propagation moves the min label one hop per round on a 64-chain") {
    val chain = sym((1L to 63L).map(i => (i, i + 1)): _*)
    // node 64 still carries label 64-6=58 after 6 rounds, and needs all 63
    val prop6 = LoopParity.components(chain, k = 6)
      .filter($"node" === 64L).head().getLong(1)
    assert(prop6 === 58L,
      "min-propagation at 6 rounds must NOT have converged on the chain")
  }

  test("components resolves a long chain and separate clusters deterministically") {
    // chain 1-2-3-...-9 (diameter 8 → needs >1 propagation round even
    // with pointer jumping) + isolated pair (100,101); run BOTH paths —
    // driver union-find (default threshold) and the distributed loop
    // (threshold 0) — and require identical results.
    val edges = ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    for (threshold <- Seq(5000000L, 0L)) {
      val comp = Dedup.components(edges,
          collectEdgeThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (1L to 9L).foreach(i => assert(comp(i) == 1L, s"node $i thr=$threshold"))
      assert(comp(100L) == 100L && comp(101L) == 100L, s"thr=$threshold")
      assert(comp.size == 11, s"thr=$threshold")
    }
  }

  test("the resolver fails, naming itself and its cap, when labels still change") {
    val edges = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.components(edges, maxIter = 1, collectEdgeThreshold = 0L).collect())
    assert(e.getMessage.contains("Components.resolve") &&
      e.getMessage.contains("maxIter=1"), e.getMessage)
  }
}
