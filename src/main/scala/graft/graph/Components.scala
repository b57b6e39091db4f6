package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Fixpoint, LoopFrames}

/** Connected components, two ways:
  *
  *  - [[run]]: K rounds of min-label propagation, the iterative
  *    component operator in its oracle-expressible form (the
  *    [[PageRank]] convention): label_0(v) = v; label_{i+1}(v) =
  *    min(label_i(v), min over in-neighbors u of label_i(u)). After
  *    k ≥ graph diameter rounds every node carries its component's min
  *    id — the weakly-connected-components fixpoint (ComponentsSpec pins
  *    that the declared query's k is past it on the panel graph). A
  *    second engine replays it exactly as K chained CTEs, which keeps
  *    the output hash-checkable end to end.
  *  - [[resolve]]: the engine's components resolver for dedup clusters
  *    and DBSCAN, run to convergence: driver union-find when the edge
  *    list fits, else min-label propagation with pointer jumping.
  *
  * Scale shape of a propagation round: ONE edge-keyed shuffle join
  * (edge list against the node-sized label frame) plus one
  * destination-keyed min aggregate — the canonical Pregel round — with
  * the label frame cut through [[Fixpoint]]. No driver-side iteration
  * state.
  */
object Components {

  /** @param edges (src, dst), BOTH directions present for undirected
    *              graphs — the node set is derived from edge sources
    *              (the [[PageRank.run]] contract).
    * @return (node, label) after `k` rounds; label = component min id
    *         once k ≥ diameter. */
  def run(edges: DataFrame, k: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // loop constant keyed on the per-round join key (round-20)
    val e = LoopFrames.keyed(edges, "src")
    val labels0 = Fixpoint.cut(e.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label")))
    Fixpoint.run(labels0, k, cutEvery = 2, cutLast = true) { (labels, _) =>
      // merge hint at the JOIN site — see LoopFrames.keyed's scaladoc
      val nbrMin = e.hint("merge")
        .join(labels.select($"node".as("src"), $"label".as("slabel")), "src")
        .groupBy($"dst".as("node")).agg(min($"slabel").as("nbr"))
      labels.join(nbrMin, Seq("node"), "left")
        .select($"node", least($"label", coalesce($"nbr", $"label")).as("label"))
    }.state
  }

  /** Round cap of [[resolve]]'s propagation loop: past it the
    * resolver fails rather than return unconverged labels. */
  val MaxIter = 25

  /** Connected components of an undirected graph, run to convergence.
    *
    * A graph whose edge list fits on the driver (the common case: LSH
    * or the ε-grid already pruned it to a contracted graph) resolves
    * with one count probe, one collect and a union-find. The probe is a
    * count, not a speculative collect, so a multi-million-row edge list
    * never reaches the driver when the distributed path runs. Beyond
    * `collectEdgeThreshold` edges, min-label propagation plus pointer
    * jumping (label ← label's label) converges in O(log diameter)
    * join+agg rounds; the count of changed labels is observed on each
    * round's cut, and the loop fails if labels still change after
    * `maxIter` rounds rather than return unconverged clusters.
    *
    * @param sym (a, b), SYMMETRIC: both directions of every edge,
    *            persisted by the caller (the probe and the collect or
    *            the keyed copy each read it) and released here once
    *            read. Nodes without an edge are not in the output.
    * @return (id, label), label = min id of the node's component. */
  def resolve(sym: DataFrame, maxIter: Int = MaxIter,
              collectEdgeThreshold: Long = 5000000L): DataFrame = try {
    val spark = sym.sparkSession
    import spark.implicits._
    val probeLimit = math.min(collectEdgeThreshold + 1, Int.MaxValue.toLong).toInt
    if (sym.limit(probeLimit).count() <= collectEdgeThreshold) {
      val fetched = sym.select($"a", $"b").as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      fetched.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return fetched.map(_._1).distinct.map(id => (id, find(id))).toSeq
        .toDF("id", "label")
    }
    // keyed on the per-round join key: an unkeyed persisted frame is
    // re-shuffled by every propagation round (the LoopFrames rationale)
    val symK = LoopFrames.keyed(sym, "b")
    sym.unpersist() // the loop reads only the keyed copy
    try {
      val labels0 = Fixpoint.cut(symK.select($"a".as("id")).distinct()
        .withColumn("label", $"id"))
      val changed = sum(when($"label" =!= $"old", 1L).otherwise(0L))
      val res = Fixpoint.run(labels0, maxIter, cutEvery = 1,
          stop = Some(Fixpoint.Observed(changed, (_, n) => n == 0L))) { (labels, _) =>
        val nbrMin = symK.hint("merge")
          .join(labels.select($"id".as("b"), $"label".as("nl")), "b")
          .groupBy($"a".as("id")).agg(min($"nl").as("nl"))
        val propagated = labels.join(nbrMin, Seq("id"), "left")
          .select($"id", $"label".as("old"),
            least($"label", coalesce($"nl", $"label")).as("label"))
        propagated
          .join(propagated.select($"id".as("label"), $"label".as("gl")),
            Seq("label"), "left")
          .select($"id", least($"label", coalesce($"gl", $"label")).as("label"),
            $"old")
      }
      require(res.converged,
        s"Components.resolve: labels still changing after maxIter=$maxIter " +
          "propagation rounds")
      res.state.select($"id", $"label")
    } finally symK.unpersist()
  } finally sym.unpersist()

  /** DuckDB CTE chain replaying [[run]] on an `edges(src, dst)` CTE the
    * caller prepends: emits `nodes, l_0 … l_K`; select from `l_$k`. */
  def oracleSqlSuffix(k: Int): String = {
    // AS MATERIALIZED is load-bearing (round-19): each l_i references
    // l_{i−1} TWICE, and DuckDB's planner inlines rather than
    // materializes these — without the keyword the evaluation tree
    // doubles per round (2^k re-evaluations of the whole upstream
    // graph build; g16_wcc's 8-round oracle measured 425s at sf0.01,
    // 0.5s materialized). The per-round frames are node-sized — tiny.
    val rounds = (0 until k).map { i =>
      s"""l_${i + 1} AS MATERIALIZED (
         |  SELECT n.node, least(n.label, COALESCE(m.nbr, n.label)) AS label
         |  FROM l_$i n LEFT JOIN (
         |    SELECT e.dst AS node, min(p.label) AS nbr
         |    FROM edges e JOIN l_$i p ON p.node = e.src GROUP BY 1) m
         |  USING (node))""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |l_0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$rounds""".stripMargin
  }
}
