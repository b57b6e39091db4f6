package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Hand-checkable fixture exactness for the newest graph operators —
  * the complement of their oracle hash checks (which prove
  * cross-engine equality, not truth): landmark BFS distances against
  * a reference BFS on a known graph, and label propagation against
  * the hand-derived fixpoint of a two-community fixture, on both of its
  * paths ([[LoopParity]]). */
class GraphFixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Symmetric edge frame from undirected pairs. */
  private def sym(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("Landmarks.harmonic == reference BFS on a barbell graph") {
    // two 4-cliques joined by a 3-node path: distances are easy to
    // derive and exercise both dense neighborhoods and a bridge
    val cliqueA = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val path = Seq((3L, 20L), (20L, 21L), (21L, 10L))
    val pairs = cliqueA ++ cliqueB ++ path
    val edges = sym(pairs)

    // reference BFS (driver-side, exact, level-synchronous)
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def bfsExact(s: Long): Map[Long, Int] = {
      var dist = Map(s -> 0); var frontier = Set(s); var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(adj(_)).diff(dist.keySet)
        dist ++= next.map(_ -> d)
        frontier = next
      }
      dist
    }
    val nodes = adj.keySet
    // landmark selection must match the operator's md5 order
    val lms = nodes.toSeq
      .sortBy(n => (graft.sketch.HllAgg.md5Hex(n.toString), n)).take(4)
    val want = nodes.toSeq.map { v =>
      val ds = lms.flatMap(l => bfsExact(l).get(v)).filter(_ > 0)
      v -> ((ds.size.toLong,
        math.round(ds.map(1.0 / _).sum * 1e6) / 1e6))
    }.filter(_._2._1 > 0).toMap

    // hash60 is the first 15 hex chars as a number; ordering by the
    // full hex string equals ordering by that number ONLY when the
    // numeric values differ (true here — checked below)
    val got = graft.graph.Landmarks.harmonic(edges, nLandmarks = 4, k = 6)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (v, (nReach, harm)) =>
      assert(got(v)._1 === nReach, s"n_reach($v)")
      assert(math.abs(got(v)._2 - harm) < 1e-6, s"harmonic($v)")
    }
  }

  test("LabelProp converges to one label per clique on a two-community fixture") {
    // two triangles joined by ONE weak edge: with min-label ties,
    // rounds drive each triangle to its own minimum label
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val labels = LoopParity.labelProp(sym(pairs), k = 5)
      .as[(Long, Long)].collect().toMap
    // left triangle: min label 1 wins; right: node 10's own community
    assert(Set(1L, 2L, 3L).map(labels) === Set(1L),
      s"left community labels: $labels")
    assert(Set(11L, 12L).map(labels).size === 1,
      s"right community split: $labels")
    // determinism: a second run is identical
    val again = graft.graph.LabelProp.run(sym(pairs), k = 5)
      .as[(Long, Long)].collect().toMap
    assert(labels === again)
  }

  test("LabelProp equal-frequency tie goes to the SMALLEST label " +
      "(the max_by argmax preserves the row_number orderBy contract)") {
    // node 5's neighbors after round 1 carry labels {1, 2} with equal
    // count — the round-20 hash-aggregate argmax (max_by over
    // struct(c, -label)) must pick label 1 exactly like the previous
    // row_number(ORDER BY c DESC, label) did, or the oracle replay
    // diverges on every tie
    val pairs = Seq((1L, 5L), (2L, 5L))
    val labels = LoopParity.labelProp(sym(pairs), k = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels(5L) === 1L, s"tie must resolve to smallest: $labels")
  }
}
