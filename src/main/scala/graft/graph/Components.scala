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
  * the label frame cut through [[Fixpoint]].
  *
  * Size rule, shared by both: an edge list of at most
  * [[DriverEdges.CollectThreshold]] rows is fetched once and the loop
  * runs on the driver (union-find in [[resolve]], the K min-label
  * rounds in [[run]]); only a larger one keeps its iteration state in
  * distributed frames. Min-label propagation over integers is exact,
  * so both paths of [[run]] give the same rows and schema.
  */
object Components {

  /** @param edges (src, dst), BOTH directions present for undirected
    *              graphs — the node set is derived from edge sources
    *              (the [[PageRank.run]] contract).
    * @return (node, label) after `k` rounds; label = component min id
    *         once k ≥ diameter. */
  def run(edges: DataFrame, k: Int): DataFrame =
    DriverEdges.fixedRounds(edges, schema(edges, k))(distributed(_, k))(local(_, k))

  /** The distributed rounds; the label frame is cut every other round
    * and on the last. */
  private[graft] def distributed(edges: DataFrame, k: Int): DataFrame = {
    // loop constant keyed on the per-round join key (round-20)
    val e = LoopFrames.keyed(edges, "src")
    Fixpoint.run(Fixpoint.cut(init(e)), k, cutEvery = 2, cutLast = true) {
      (labels, _) => round(e, labels)
    }.state
  }

  /** The same rounds on the driver: the node set is the distinct srcs
    * (the distributed left join keeps it), and a node takes the least
    * of its label and its in-neighbours' labels. */
  private def local(edges: Array[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    var labels = scala.collection.mutable.LongMap.from(edges.map(e => (e._1, e._1)))
    for (_ <- 1 to k) {
      val nbr = scala.collection.mutable.LongMap.empty[Long]
      edges.foreach { case (s, d) =>
        val l = labels(s)
        if (nbr.get(d).forall(l < _)) nbr(d) = l
      }
      labels = labels.map { case (n, l) => (n, math.min(l, nbr.getOrElse(n, l))) }
    }
    labels.toSeq.sortBy(_._1)
  }

  private def init(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).distinct().select(col("node"), col("node").as("label"))

  /** The distributed output's schema, by analysis alone: every round
    * after the first has the first's shape. */
  private def schema(e: DataFrame, k: Int) =
    (if (k <= 0) init(e) else round(e, init(e))).schema

  private def round(e: DataFrame, labels: DataFrame): DataFrame = {
    // merge hint at the JOIN site — see LoopFrames.keyed's scaladoc
    val nbrMin = e.hint("merge")
      .join(labels.select(col("node").as("src"), col("label").as("slabel")), "src")
      .groupBy(col("dst").as("node")).agg(min(col("slabel")).as("nbr"))
    labels.join(nbrMin, Seq("node"), "left")
      .select(col("node"), least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
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
              collectEdgeThreshold: Long = DriverEdges.CollectThreshold): DataFrame = try {
    val spark = sym.sparkSession
    import spark.implicits._
    DriverEdges.fetch(sym, "a", "b", collectEdgeThreshold) match {
      case Some(fetched) => unionFind(fetched).toDF("id", "label")
      case None => propagate(sym, maxIter)
    }
  } finally sym.unpersist()

  /** (id, min id of its component) for every edge endpoint. */
  private def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.map(_._1).distinct.map(id => (id, find(id))).toSeq
  }

  /** [[resolve]]'s distributed path: min-label propagation with pointer
    * jumping over a keyed copy of `sym`. */
  private def propagate(sym: DataFrame, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
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
  }

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
