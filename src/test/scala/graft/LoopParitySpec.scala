package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Components, LabelProp}
import graft.io.Tables

/** Both paths of a fixed-round graph loop on one input: `run` takes the
  * driver path at these sizes, and must give the rows and the schema,
  * nullability included, of the distributed loop it replaces there. */
object LoopParity {

  def labelProp(edges: DataFrame, k: Int): DataFrame =
    same(LabelProp.run(edges, k), LabelProp.distributed(edges, k))

  def components(edges: DataFrame, k: Int): DataFrame =
    same(Components.run(edges, k), Components.distributed(edges, k))

  private def same(got: DataFrame, ref: DataFrame): DataFrame = {
    assert(got.isLocal, "the driver path did not run: " +
      got.queryExecution.logical.nodeName)
    assert(got.schema == ref.schema)
    val rows = (df: DataFrame) => df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(got) == rows(ref))
    got
  }
}

class LoopParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  private def labels(df: DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("equal-count ties go to the smallest label on both paths") {
    // a 4-cycle: every node sees two labels once each in every round
    val ring = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    for (k <- 1 to 4) LoopParity.labelProp(ring, k)
    assert(labels(LoopParity.labelProp(sym((1L, 5L), (2L, 5L)), 1))(5L) == 1L)
  }

  test("duplicate edges count with their multiplicity on both paths") {
    // node 2 sees label 5 over two copies of one edge and label 1 once:
    // counted as a multiset 5 wins, as a set the tie would go to 1
    val edges = sym((5L, 2L), (5L, 2L), (1L, 2L))
    assert(labels(LoopParity.labelProp(edges, 1))(2L) == 5L)
    for (k <- 1 to 3) {
      LoopParity.labelProp(edges, k)
      LoopParity.components(edges, k)
    }
  }

  test("a src that is never a dst: LPA drops it, components keeps it") {
    // 9 → 1 only: the LPA node set is the dsts of labelled srcs (the
    // inner join), the components node set the srcs (the left join)
    val edges = Seq((9L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(labels(LoopParity.labelProp(edges, 2)).keySet == Set(1L, 2L))
    assert(labels(LoopParity.components(edges, 2)) ==
      Map(9L -> 9L, 1L -> 1L, 2L -> 1L))
  }

  test("an empty edge list gives an empty frame of the same schema") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (k <- Seq(0, 1, 3)) {
      assert(LoopParity.labelProp(edges, k).isEmpty)
      assert(LoopParity.components(edges, k).isEmpty)
    }
  }

  // the four declared queries that run these loops, on their own edges at
  // sf0.001: everything after the loop is a function of its output, so
  // equal rows and schema there give equal query outputs
  private val sf = "/root/testdata/sf0.001"

  private def corrEdges = {
    val und = graft.queries.MlPack.corrGraph(spark, sf).select($"ka", $"kb")
    und.select($"ka".as("src"), $"kb".as("dst"))
      .unionByName(und.select($"kb".as("src"), $"ka".as("dst")))
  }

  private def customerMatches(blocks: Seq[org.apache.spark.sql.Column]*) = {
    val c = Tables.customer(spark, sf)
      .select($"c_custkey".as("id"), $"c_name".as("name"), $"c_nationkey".as("nat"))
    val passes = blocks.map(b => graft.joins.FuzzyJoin.selfMatch(c, "id", "name",
      block = b, maxDist = 1))
    // er1 reads its one pass as is; er2 unions two and drops repeats
    val pairs = if (passes.size == 1) passes.head
      else passes.map(_.select($"a_id", $"b_id")).reduce(_ unionByName _).distinct()
    pairs.select($"a_id".as("src"), $"b_id".as("dst"))
      .unionByName(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
  }

  test("m15_lpa and g16_wcc: both paths agree on the correlation graph") {
    assert(LoopParity.labelProp(corrEdges, 5).count() > 0)
    assert(LoopParity.components(corrEdges, 8).count() > 0)
  }

  test("er1 and er2: both paths agree on the customer match graphs") {
    val prefix = Seq($"nat", substring($"name", 1, 17))
    val suffix = Seq($"nat", substring($"name", 15, 4))
    LoopParity.components(customerMatches(prefix), 2)
    LoopParity.components(customerMatches(prefix, suffix), 3)
  }
}
