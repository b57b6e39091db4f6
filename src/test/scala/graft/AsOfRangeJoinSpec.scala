package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.joins.{AsOfJoin, RangeJoin}

/** Time-series join semantics:
  *  - backward as-of takes payload from the SAME matched row even when a
  *    value column of that row is null (regression for the per-column
  *    fill bug where ord and value could come from different rows);
  *  - forward as-of is the mirror (earliest right >= left);
  *  - bucketed range join equals the naive cross-join+filter formulation
  *    regardless of bucket width. */
class AsOfRangeJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("backward as-of: null value in matched row stays null (same-row payload)") {
    val left = Seq((1L, 100L), (1L, 200L)).toDF("k", "t")
    val right = Seq(
      (1L, 50L, Some(5.0)),
      (1L, 150L, None: Option[Double]) // most recent for t=200, value null
    ).toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, Seq("k"), "t", "t", Seq("v"))
      .select($"t", $"asof_ord", $"asof_v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    // t=100 matches right@50 (v=5.0); t=200 matches right@150 whose v is
    // null — asof_v must be null, NOT back-filled from right@50.
    assert(out == Set((100L, 50L, Some(5.0)), (200L, 150L, None)))
  }

  test("forward as-of matches earliest right >= left") {
    val left = Seq((1L, 100L), (1L, 151L), (2L, 10L)).toDF("k", "t")
    val right = Seq((1L, 150L, 1.5), (1L, 300L, 3.0), (2L, 5L, 0.5))
      .toDF("k", "t", "v")
    val out = AsOfJoin.forward(left, right, Seq("k"), "t", "t", Seq("v"))
      .select($"k", $"t", $"asof_ord", $"asof_v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(out == Set(
      (1L, 100L, 150L, 1.5),   // next right at 150
      (1L, 151L, 300L, 3.0),   // 150 < 151 → next is 300
      (2L, 10L, -1L, -1.0)))   // no right >= 10 for key 2 → null match
  }

  test("frameSample at stride 1 reconstructs the payload hex exactly") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a" * 64 + "b" * 64 + "cdef"), (2L, "short"),
      (3L, "x" * 63), (4L, "y" * 65)).toDF("id", "text")
    val p = docs.select($"id", $"text".cast("binary").as("payload"))
    val frames = graft.multimodal.Multimodal
      .frameSample(p, "id", "payload", frameBytes = 64, stride = 1, maxFrames = 99)
    // per doc: frames abut (64 bytes each except a short tail), and the
    // byte total reconstructs the payload length
    val byId = frames.groupBy($"id")
      .agg(sum($"frame_bytes").as("total"), count(lit(1)).as("n"),
        max($"frame_id").as("maxf"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(byId(1L) == ((132L, 3L, 2)))
    assert(byId(2L) == ((5L, 1L, 0)))
    assert(byId(3L) == ((63L, 1L, 0)))
    assert(byId(4L) == ((65L, 2L, 1)))
    // head of frame 1 of doc 1 is the hex of "bbbb"
    val head = frames.filter($"id" === 1L && $"frame_id" === 1)
      .select($"head_hex").collect().head.getString(0)
    assert(head == "62626262")
  }

  test("interval-overlap join == naive inequality join, each pair exactly once") {
    val rnd = new scala.util.Random(23)
    def ivs(n: Int, keyed: Boolean) = Seq.tabulate(n) { i =>
      val s0 = rnd.nextInt(10000).toLong
      (if (keyed) s"g${i % 3}" else "g", i.toLong, s0, s0 + rnd.nextInt(500))
    }
    val left = ivs(300, keyed = true).toDF("g", "ida", "a_start", "a_end")
    val right = ivs(250, keyed = true).toDF("g", "idb", "b_start", "b_end")
    for (bw <- Seq(64L, 500L, 4096L)) {
      val bucketed = RangeJoin.intervalOverlap(left, right, Seq("g"),
          "a_start", "a_end", "b_start", "b_end", bw)
        .select($"g", $"ida", $"idb").orderBy($"g", $"ida", $"idb").collect()
      val naive = left.join(right, Seq("g"))
        .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end")
        .select($"g", $"ida", $"idb").orderBy($"g", $"ida", $"idb").collect()
      assert(bucketed.toSeq == naive.toSeq, s"bucket width $bw")
    }
  }

  test("bucketed range join == naive range join at several bucket widths") {
    val rng = new scala.util.Random(7)
    val points = (1 to 300).map(i => (i.toLong % 5, rng.nextInt(1000).toLong, i.toLong))
      .toDF("k", "p", "pid")
    val intervals = (1 to 60).map { i =>
      val s = rng.nextInt(900).toLong
      (i.toLong % 5, s, s + rng.nextInt(200).toLong, i.toLong)
    }.toDF("k", "s", "e", "iid")
    val naive = points.join(intervals, Seq("k"))
      .filter($"p" >= $"s" && $"p" <= $"e")
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (bw <- Seq(7L, 64L, 1000L)) {
      val bucketed = RangeJoin.pointInInterval(points, intervals,
          Seq("k"), "p", "s", "e", bw)
        .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bucketed == naive, s"bucketWidth=$bw")
    }
  }
}
