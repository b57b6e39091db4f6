package graft.tools

import graft.SparkEntry

/** Dev utility: dump formatted physical plans for plan auditing
  * (pushdown / pruning / broadcast / window collapsing), and CLASSIFY
  * every `SinglePartition` exchange by its consumer (round-20, VERDICT
  * item 5). The plans invariant was previously "zero `Exchange
  * SinglePartition`" grepped over the one-line tree form — formatted
  * mode prints the same exchanges as `Arguments: SinglePartition`
  * detail entries, so the grep was vacuously zero while ~110 such
  * exchanges existed. All of those are FINAL MERGES OF KEYLESS GLOBAL
  * AGGREGATES (a handful of partial-agg rows into one task — the only
  * correct plan for a global sum/count/max, benign at any scale);
  * what the invariant must actually forbid is a single-partition
  * WINDOW / SORT / JOIN — a whole-corpus serialization point. This
  * tool pins that precisely: it parses each formatted plan, finds
  * exchange node ids whose Arguments carry SinglePartition, locates
  * the consumer (the tree line one indent level up), and reports
  * `aggregate-merge` vs anything else. The close-out script asserts
  * `suspect=0` from the summary line, meaningful under either explain
  * mode. */
object Explain {

  /** (indent, nodeName, nodeId) rows of every TREE line in a formatted
    * plan — main tree AND subquery trees (scalar-subquery aggregates
    * also plan SinglePartition merges). A tree line is indented node
    * text ending in `(id)`; detail headers start with `(` at column 0
    * and are excluded. */
  private def treeNodes(plan: String): Seq[(Int, String, Int)] = {
    val lineRe = raw"^([\s:+\-*]*)([A-Za-z][A-Za-z0-9_]*)[^(\n]*\((\d+)\)\s*$$".r
    plan.split("\n").toSeq.flatMap {
      case l if l.startsWith("(") => None
      case lineRe(pre, name, id) => Some((pre.length, name, id.toInt))
      case _ => None
    }
  }

  /** Node ids of exchanges whose detail section declares a
    * SinglePartition distribution. */
  private def singlePartitionIds(plan: String): Set[Int] = {
    val secRe = (raw"(?m)^\((\d+)\) Exchange\b[^\n]*\n" +
      raw"(?:(?!Arguments:)[^\n]*\n){0,3}Arguments: SinglePartition").r
    secRe.findAllMatchIn(plan).map(_.group(1).toInt).toSet
  }

  /** For each SinglePartition exchange: (exchangeId, consumerName).
    * The consumer is the nearest tree line above with smaller indent
    * (formatted trees indent children under parents). */
  def classify(plan: String): Seq[(Int, String)] = {
    val nodes = treeNodes(plan)
    val sp = singlePartitionIds(plan)
    val located = nodes.zipWithIndex.collect {
      case ((indent, "Exchange", id), i) if sp.contains(id) =>
        val parent = nodes.take(i).reverse
          .find(_._1 < indent).map(_._2).getOrElse("<root>")
        (id, parent)
    }
    // an id the tree parse could not place is reported, not dropped —
    // a silent miss would shrink `total` below the raw grep count
    val missing = (sp -- located.map(_._1).toSet).toSeq.sorted
      .map(id => (id, "<unlocated>"))
    located ++ missing
  }

  /** Benign = the consumer is an aggregate final-merge (HashAggregate /
    * SortAggregate / ObjectHashAggregate over a handful of partial-agg
    * rows). Anything else — Window, Sort, a join side, or an exchange
    * the tree parse could not locate — is suspect and fails the audit
    * unless the owning query appears in [[boundedByContract]]. */
  def isAggregateMerge(consumer: String): Boolean =
    consumer.endsWith("Aggregate")

  /** The declared single-partition GLOBAL-WINDOW sites — each a
    * cumulative walk over a frame BOUNDED BY CONSTRUCTION and guarded
    * by a `require` at the window site (the round-19 BoundedWindowSpec
    * contract), so the one-partition sort is over ≤ a few thousand
    * rows at any corpus size. Keyed by query name; the value is the
    * bound and its citation. A SinglePartition exchange under any
    * OTHER query stays a suspect — this list is the audit's explicit
    * allowlist, not a wildcard. */
  val boundedByContract: Map[String, String] = Map(
    "g17_approx_quantile" ->
      "histogram cumulative walk, <= 2048 bins (HistQuantile.fromHistogram require)",
    "g18_grouped_quantile" ->
      "per-group histogram walk, <= groups x 1024 bins (HistQuantile require)",
    "st18_stream_quantile" ->
      "drained histogram walk, <= 1024 bins (HistQuantile.fromHistogram require)",
    "km1_kaplan_meier" ->
      "life-table product-limit walk, <= 65536 day rows (km1 require)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var nAgg = 0
    val bounded = scala.collection.mutable.ArrayBuffer[String]()
    val suspects = scala.collection.mutable.ArrayBuffer[String]()
    names.foreach { n =>
      println(s"\n======== $n ========")
      try {
        val planStr = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        println(planStr)
        classify(planStr).foreach { case (id, consumer) =>
          if (isAggregateMerge(consumer)) nAgg += 1
          else if (boundedByContract.contains(n)) bounded += s"$n#$id->$consumer"
          else suspects += s"$n#$id->$consumer"
        }
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    println(s"[plan-police] SinglePartition exchanges: " +
      s"total=${nAgg + bounded.size + suspects.size} aggregate_merge=$nAgg " +
      s"bounded_contract=${bounded.size} ${bounded.mkString("[", ",", "]")} " +
      s"suspect=${suspects.size} ${suspects.mkString("[", ",", "]")}")
    spark.stop()
  }
}
