package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540):
  * embedding-space deduplication scoped to CLUSTERS — documents are
  * clustered, cosine pairs are computed only WITHIN a cluster, and of
  * any pair above the similarity threshold one member is dropped.
  *
  * Scale shape (the paper's own argument for web-scale): the pairwise
  * stage is bounded by Σ_cell |cell|² — the er1/d1 blocking bound —
  * never an all-pairs join; at 100 TB `nCells` grows ∝ n/targetCell so
  * per-cell work stays constant while the cluster fit and assignment
  * are one bounded fit + one broadcast-join scan. Cluster fit here is
  * the repo's PORTABLE md5-order coarse-cell quantizer
  * ([[IvfPq.coarseCells]] — the deterministic stand-in for the paper's
  * k-means, exactly as s3/s8/mm4 use it), which is what lets a second
  * engine replay fit, assignment, pairs and drop decisions so the
  * whole pipeline is hash-checked, not spot-checked.
  *
  * Drop rule, two modes (round-14, VERDICT item 5):
  *  - default (`paperRule = false`): of a pair at-or-above `threshold`
  *    (compared on the r6-ROUNDED cosine, so a last-ulp difference
  *    cannot flip the decision cross-engine), the HIGHER id is
  *    dropped — the d7 keep-lowest-id convention, one pass, no extra
  *    distance work;
  *  - `paperRule = true`: the paper's exact choice — drop the member
  *    FARTHER from its cell centroid (squared L2, r6-rounded so the
  *    comparison replays cross-engine; ties fall back to dropping the
  *    higher id, a total order both engines share). The centroid
  *    distance is the SAME `__cd2` the assignment argmin already
  *    computed, carried along instead of recomputed — the "second
  *    distance pass" the default avoids costs nothing here.
  */
object SemDedup {

  /** All within-cluster candidate pairs with their cosine and the
    * SemDeDup decision. Output: `(cell, id_a, id_b, cos, drop_id)`
    * with `cos` r6-rounded and `drop_id` NULL below threshold.
    *
    * Cell-count modes (round-15, VERDICT item 4): pass `nCells` > 0
    * for a FIXED cluster count, or `targetCell` > 0 for the ADAPTIVE
    * mode — `nCells = ceil(n / targetCell)` from one count() before
    * the fit, so per-cell size (and with it the Σ cell² pairwise
    * cost) stays CONSTANT as the corpus grows instead of growing
    * quadratically per cell. This closes the one measured
    * super-linear line in the sf1x record: fixed nCells=8 inflated
    * d14b ~100× in pair volume at 10× data; adaptive keeps the pair
    * stage linear in n. The oracle replays the same rule with a
    * subquery LIMIT (`LIMIT greatest(1, ceil(count(*)/targetCell))`),
    * so the adaptive fit stays hash-checked cross-engine.
    *
    * Assignment topology (round-16, VERDICT item 2): flat IVF scans
    * all nCells centroids per point — n·nCells = n²/targetCell
    * distance evaluations, the one stage measured super-linear at the
    * sf1x decade (flat adaptive read 8.0× warm at 10× data where the
    * hierarchical two-level fit read 1.4× — docs/SCALING.md batch-2
    * table). So `pairs` now AUTO-SWITCHES: when the (fixed or
    * adaptive) cell count exceeds [[HierSwitch]] the assignment rides
    * the measured-better hierarchical topology ([[pairsHier]]'s
    * super-cell routing, n·O(√nCells) work); at or below it the flat
    * exact argmin is kept — with ≤ 4 cells the super prefix IS most
    * of the cell table, so two-level routing would add stages for no
    * work saved. The oracle replays the SAME switch: both assignment
    * CTEs guarded by the replayed `ceil(n/targetCell) > 4` predicate
    * (UNION ALL of two mutually-exclusive branches), so the default
    * path stays hash-checked at every SF on whichever side of the
    * switch the corpus lands. */
  def pairs(df: DataFrame, idCol: String, vecCol: String, dims: Int,
            nCells: Int, threshold: Double,
            paperRule: Boolean = false, targetCell: Int = 0): DataFrame = {
    require((nCells > 0) ^ (targetCell > 0),
      s"exactly one of nCells ($nCells) / targetCell ($targetCell) must be set")
    val k =
      if (targetCell > 0)
        math.max(1L, (df.count() + targetCell - 1) / targetCell).toInt
      else nCells
    val cells = Fixpoint.cut(IvfPq.coarseCells(df, idCol, vecCol, k))
    val asg = if (k > HierSwitch) assignHier(df, idCol, vecCol, dims, cells, k)
              else assignFlat(df, idCol, vecCol, dims, cells)
    pairStage(df, idCol, vecCol, asg, threshold, paperRule)
  }

  /** Cell count above which [[pairs]] routes assignment through the
    * hierarchical super-cell topology. 4 keeps the gate-SF corpora
    * (nCells 8 at sf0.01, 32 at sf0.1) on the hierarchical path — the
    * default 100 TB topology is the one the correctness gate
    * hash-checks — while tiny fits (the unit-test corpora, sf0.001's
    * single cell) keep the exact flat argmin. */
  val HierSwitch = 4

  /** Flat exact assignment — nearest cell by exact squared L2 (the mm4
    * assignment idiom: broadcast the nCells full vectors, min over a
    * (cd2, cell) struct — lexicographic, ties to the smaller cell id on
    * both engines); the winning distance rides along r6-rounded for the
    * paper rule. n·nCells distance evaluations. */
  private def assignFlat(df: DataFrame, idCol: String, vecCol: String,
                         dims: Int, cells: DataFrame): DataFrame =
    // round-21: compiled per-row argmin over the collapsed broadcast
    // cell row (removes the ×nCells explode + id-keyed Exchange; the
    // CellAssign scaladoc carries the min(struct) parity argument)
    df.crossJoin(broadcast(CellAssign.collapse(cells, "cell", "cellv")))
      .select(col(idCol),
        CellAssign.nearest(col(vecCol), col("__cents"), dims).as("mn"))
      .select(col(idCol), col("mn.cid").as("cell"),
        round(col("mn.d2") + lit(1e-9), 6).as("__d"))

  /** SemDeDup with the HIERARCHICAL coarse fit (round-15) — the
    * assignment path the flat scaladoc note promises at the next
    * decade: nCells = ⌈n/targetCell⌉ as in the adaptive mode, but a
    * point never scans all nCells centroids. Instead S = ⌈√nCells⌉
    * SUPER-cells (the md5-order PREFIX of the cell table, so the
    * supers need no second fit) partition the centroids: each cell is
    * assigned to its nearest super (nCells·S distances, tiny), each
    * point to its nearest super (n·S), then to the nearest cell AMONG
    * that super's members (n·members) — n·O(√nCells) total distance
    * work vs flat's n·nCells, at the price of an approximate cell
    * argmin (a point near a super boundary can land in a second-best
    * cell — the same trade the paper's k-means already makes). Every
    * argmin is the shared lexicographic (dist, id) struct-min, so the
    * whole two-level assignment — and the pairs and drop decisions
    * downstream — replays in the DuckDB oracle verbatim. */
  def pairsHier(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                targetCell: Int, threshold: Double,
                paperRule: Boolean = false): DataFrame = {
    require(targetCell > 0, s"targetCell $targetCell")
    val k = math.max(1L, (df.count() + targetCell - 1) / targetCell).toInt
    val cells = Fixpoint.cut(IvfPq.coarseCells(df, idCol, vecCol, k))
    pairStage(df, idCol, vecCol,
      assignHier(df, idCol, vecCol, dims, cells, k), threshold, paperRule)
  }

  /** Hierarchical two-level assignment over a fitted cell table. */
  private def assignHier(df: DataFrame, idCol: String, vecCol: String,
                         dims: Int, cells: DataFrame, k: Int): DataFrame = {
    val s = math.ceil(math.sqrt(k.toDouble)).toInt.max(1)
    // supers = md5-order prefix of the SAME cell table (cell < S):
    // super s IS cell s, so every super has at least one member
    // (itself, at distance 0) and no second fit pass exists
    val supers = cells.filter(col("cell") < s)
      .select(col("cell").as("sup"), col("cellv").as("supv"))
    // round-21: every stage is a compiled per-row argmin over a
    // collapsed broadcast centroid row (CellAssign scaladoc parity
    // argument). The former shape paid, per corpus point: a ×S
    // explode + id-keyed Exchange (point → super), an id-keyed
    // self-JOIN of df against that assignment (two more corpus
    // Exchanges), and a second id-keyed argmin Exchange (point →
    // member cell). All gone: scan → 1-row BNLJ → broadcast-join
    // members → project.
    val supRow = broadcast(CellAssign.collapse(supers, "sup", "supv"))
    // cell → nearest super (nCells·S distances — driver-free, tiny)
    val cellSup = Fixpoint.cut(cells.crossJoin(supRow)
      .select(col("cell"), col("cellv"),
        CellAssign.nearest(col("cellv"), col("__cents"), dims)
          .getField("cid").as("sup")))
    // each super's member cells, collapsed for the per-super argmin
    val members = broadcast(cellSup.groupBy(col("sup")).agg(
      sort_array(collect_list(struct(col("cell").cast("int").as("cid"),
        col("cellv").as("cvec")))).as("__members")))
    // point → nearest super (n·S), then → nearest cell among that
    // super's members (n·|members|); the vector rides along so no
    // join back to df is needed
    df.select(col(idCol), col(vecCol))
      .crossJoin(supRow)
      .select(col(idCol), col(vecCol),
        CellAssign.nearest(col(vecCol), col("__cents"), dims)
          .getField("cid").as("sup"))
      .join(members, "sup")
      .select(col(idCol),
        CellAssign.nearest(col(vecCol), col("__members"), dims).as("mn"))
      .select(col(idCol), col("mn.cid").as("cell"),
        round(col("mn.d2") + lit(1e-9), 6).as("__d"))
  }

  /** Shared within-cell pair + drop stage over an assignment
    * `(idCol, cell, __d r6-rounded)` — identical for the flat and
    * hierarchical fits. */
  private def pairStage(df: DataFrame, idCol: String, vecCol: String,
                        asg: DataFrame, threshold: Double,
                        paperRule: Boolean): DataFrame = {
    // persisted: both sides of the within-cell self-join read it
    val e = graft.io.PersistRegistry.trackPersist(
      Similarity.withNormalized(df, vecCol, "__nv")
        .select(col(idCol).as("__id"), col("__nv"))
        .join(asg.withColumnRenamed(idCol, "__id"), "__id"))
    val a = e.select(col("cell"), col("__id").as("id_a"),
      col("__nv").as("__va"), col("__d").as("__da"))
    val b = e.select(col("cell"), col("__id").as("id_b"),
      col("__nv").as("__vb"), col("__d").as("__db"))
    val victim =
      if (paperRule)
        when(col("__da") > col("__db"), col("id_a"))
          .when(col("__da") < col("__db"), col("id_b"))
          .otherwise(col("id_b")) // tie: the keep-lowest-id fallback
      else col("id_b")
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.dot(col("__va"), col("__vb"))
        + lit(1e-9), 6))
      .select(col("cell"), col("id_a"), col("id_b"), col("cos"),
        when(col("cos") >= threshold, victim).as("drop_id"))
  }
}
