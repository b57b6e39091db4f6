package graft.sim

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** A fitted IVF coarse quantizer — the production lifecycle is build
  * the index ONCE, query it many times, so the model is a first-class
  * value: `IvfAnn.fit` → [[save]] → `IvfAnn.load` → `IvfAnn.search`.
  * Wraps the Spark ML KMeansModel directly so a reloaded index assigns
  * cells bit-identically to the fresh fit (same BLAS path), rather
  * than re-deriving assignments from a centroid table. */
final case class IvfModel(km: KMeansModel) {
  def nCells: Int = km.clusterCenters.length
  def seed: Long = km.getSeed
  /** Persist the quantizer (Spark ML persistence — parquet + metadata
    * under `path`; cluster-readable, versioned by Spark). */
  def save(path: String): Unit = km.write.overwrite().save(path)
}

/** IVF (inverted-file) ANN: coarse KMeans quantizer bins the corpus into
  * cells; each query probes only its `nprobe` nearest cells. The
  * standard recall/cost knob — nprobe=1 recalls ~0.34 on near-isotropic
  * embeddings, 2 ≈ 2×, 3 ≈ 0.7+ (asserted in AnnRecallSpec) — while the
  * scanned fraction stays nprobe/nCells of the corpus. At 100 TB,
  * nCells scales with the corpus (cells ≈ corpus / target cell size)
  * and the quantizer fits on a bounded sample.
  */
object IvfAnn {

  /** Fit the coarse quantizer on a BOUNDED deterministic sample of the
    * corpus (seeded hash-order + limit → TakeOrderedAndProject: a
    * per-partition bounded heap, never a full sort or full-corpus
    * materialization), then coalesce(1) (cf. MlPack.kmeans5): the
    * sample is head-sized at any corpus scale and every Lloyd
    * iteration is one job — one task per iteration beats 32 near-empty
    * launches. */
  def fit(df: DataFrame, idCol: String, vecCol: String, nCells: Int = 8,
          seed: Long = 42L, quantizerSampleSize: Int = 0): IvfModel = {
    val e = asFeatures(df, idCol, vecCol)
    val sampleN =
      if (quantizerSampleSize > 0) quantizerSampleSize
      else math.max(256 * nCells, 2048)
    val fitInput = quantizerFitInput(e, sampleN, seed).coalesce(1).persist()
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setFeaturesCol("features").setPredictionCol("cell")
    val fitted = km.fit(fitInput)
    fitInput.unpersist()
    IvfModel(fitted)
  }

  /** Reload a quantizer persisted with [[IvfModel.save]]. */
  def load(path: String): IvfModel = IvfModel(KMeansModel.load(path))

  /** Probe a fitted index: top-k most-cosine-similar corpus rows per
    * query row (self excluded). `queryPred` selects the query subset of
    * `df`; both sides come from the same frame (the self-search shape
    * of the s3 benchmark). Centroids are broadcast; candidates are
    * bound by cell membership (nprobe/nCells of the corpus); ranking
    * is a row_number window over the bounded candidate set. */
  def search(model: IvfModel, df: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, nprobe: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val e = asFeatures(df, idCol, vecCol)
    val binned = model.km.transform(e).drop("features")
    // rank all centroids per query by L2 distance, keep nprobe
    val centers = model.km.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq.toDF("cell", "center")
    val qBase = binned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cell"))
    val probes = qBase.crossJoin(broadcast(centers))
      .withColumn("cdist", aggregate(
        zip_with(col("qv"), col("center"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = binned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("cell"), col("vec_id").as("corpus_id"),
        col("cos"), col("rank"))
  }

  /** Fused fit + search convenience (the s3 benchmark shape). */
  def topK(df: DataFrame, idCol: String, vecCol: String, queryPred: Column,
           k: Int, nCells: Int = 8, nprobe: Int = 2, seed: Long = 42L,
           quantizerSampleSize: Int = 0): DataFrame =
    search(fit(df, idCol, vecCol, nCells, seed, quantizerSampleSize),
      df, idCol, vecCol, queryPred, k, nprobe)

  /** Portable IVF cosine top-k (the s3 query surface, round-11): the
    * same composition as [[topK]] — coarse cells, argmin assignment,
    * nprobe probing, cosine ranking within probed cells — but the
    * coarse quantizer is the md5-order portable fit
    * ([[IvfPq.coarseCells]], the s7/s8/s12 convention) instead of
    * trained KMeans, precisely so the whole fit→assign→probe→rank
    * pipeline is SQL-reproducible and hash-checked end-to-end.
    * [[topK]]'s trained quantizer remains the production drop-in
    * (AnnRecallSpec keeps its recall floor). Output matches [[search]]:
    * (query_id, cell, corpus_id, cos, rank) where `cell` is the corpus
    * row's assigned cell.
    *
    * `corpusPred` (round-14, the s16 surface) is FILTERED vector
    * search: a metadata predicate applied ONLY to the candidate scan —
    * the coarse cells, the corpus assignment and the query probes are
    * all fit on the FULL corpus (one shared index serves every
    * predicate, the production filtered-ANN contract), and the filter
    * prunes candidates inside the probed cells before ranking. */
  def portableTopK(df: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int, nCells: Int, nprobe: Int,
                   dims: Int, corpusPred: Option[Column] = None): DataFrame = {
    require(nprobe <= nCells, s"nprobe $nprobe exceeds nCells $nCells")
    val cells = Fixpoint.cut(IvfPq.coarseCells(df, idCol, vecCol, nCells))
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    // nearest cell per corpus row (argmin d2, ties to smallest cell id)
    // as ONE compiled per-row loop over the collapsed broadcast cell
    // row (round-21, the m16 ArgminDist2 treatment): the former
    // crossJoin ×nCells + groupBy(vec_id) argmin paid a corpus-keyed
    // Exchange per assignment — now a pure projection, same winner
    // (CellAssign scaladoc parity argument, pinned in CellAssignSpec)
    val assign = base
      .crossJoin(broadcast(CellAssign.collapse(cells, "cell", "cellv")))
      .select(col("vec_id"),
        CellAssign.nearest(col("v"), col("__cents"), dims)
          .getField("cid").as("cell"))
    // nprobe nearest cells per query (bounded window over nCells rows)
    val wp = Window.partitionBy(col("query_id")).orderBy(col("cd2"), col("cell"))
    val probes = Similarity.withNormalized(base.filter(queryPred), "v", "qv")
      .select(col("vec_id").as("query_id"), col("v"), col("qv"))
      .crossJoin(broadcast(cells))
      .withColumn("cd2", Dist2(col("v"), col("cellv"), dims))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    // candidates bound by probed-cell membership; cosine on normalized
    // sides so each pair is one fused dot product. The optional corpus
    // predicate prunes HERE — after the shared-index assignment,
    // before any scoring — so the filter rides the candidate scan.
    val corpusBase = corpusPred.map(df.filter).getOrElse(df)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val corpus = Similarity.withNormalized(corpusBase, "v", "cv")
      .select(col("vec_id"), col("cv"))
      .join(assign, "vec_id")
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", Similarity.dot(col("qv"), col("cv")))
      .select(col("query_id"), col("cell"), col("vec_id").as("corpus_id"),
        col("cos"))
    graft.operators.TopK.perKey(scored, Seq("query_id"),
        Seq(graft.operators.TopK.descNullsLast(col("cos")), col("corpus_id")), k)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("cos"),
        col("rank"))
  }

  /** DuckDB oracle for [[portableTopK]] over the `embeddings` view:
    * the [[IvfPq.oracleSql]] coarse tier (md5-order cells, argmin
    * assignment, nprobe probes) composed with the s1 cosine idiom
    * (normalize once per vector, fixed-order fold dot product). */
  def portableOracleSql(k: Int, nCells: Int, nprobe: Int, dims: Int,
                        queryPredSql: String,
                        corpusPredSql: String = ""): String = {
    val corpusFilter =
      if (corpusPredSql.isEmpty) ""
      else s" AND nv.vec_id IN (SELECT vec_id FROM embeddings" +
        s" WHERE $corpusPredSql)"
    def d2(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0,
         |      list_transform(range(1, $dims + 1),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings),
       |hs AS (SELECT vec_id, v,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
       |cells AS (SELECT v AS cellv,
       |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
       |  FROM hs ORDER BY h, vec_id LIMIT $nCells),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell) AS arn
       |    FROM e, cells c) WHERE arn = 1),
       |probes AS (SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell) AS prn
       |    FROM e, cells c WHERE $queryPredSql) WHERE prn <= $nprobe),
       |nm AS (SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM e),
       |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM nm),
       |q AS (SELECT p.query_id, p.cell, nv.nv AS qv
       |  FROM probes p JOIN nv ON nv.vec_id = p.query_id),
       |sc AS (
       |  SELECT q.query_id, a.cell, nv.vec_id AS corpus_id,
       |    list_reduce(list_prepend(0.0,
       |        list_transform(range(1, len(qv) + 1), i -> qv[i] * nv.nv[i])),
       |        (acc, x) -> acc + x) AS cos
       |  FROM q JOIN asg a ON a.cell = q.cell
       |  JOIN nv ON nv.vec_id = a.vec_id
       |  WHERE q.query_id <> nv.vec_id$corpusFilter),
       |rk AS (
       |  SELECT query_id, cell, corpus_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, corpus_id) AS rank
       |  FROM sc)
       |SELECT query_id, cell, corpus_id, round(cos + 1e-9, 6) AS cos, rank
       |FROM rk WHERE rank <= $k""".stripMargin
  }

  /** [[portableTopK]] with the HIERARCHICAL coarse routing (round-16)
    * — the d14c/SemDedup two-level topology applied to SEARCH, so the
    * ANN tier carries the same 100 TB assignment argument the dedup
    * tier measured (1.4× warm at 10× data vs flat's 8×): nCells =
    * ⌈n/targetCell⌉ ADAPTIVE cells (per-cell size constant as the
    * corpus grows), S = ⌈√nCells⌉ super-cells taken as the md5-order
    * PREFIX of the cell table (no second fit; super s IS cell s), and
    * BOTH the corpus assignment and the query probing route
    * point → nearest super → that super's member cells — n·O(√nCells)
    * distance evaluations end to end instead of flat IVF's n·nCells.
    * A query ranks only the member cells of its `nprobeSup` nearest
    * supers and probes the `nprobe` nearest of those (supers owning
    * fewer cells probe them all) — the standard two-level IVF recall
    * trade with a knob at BOTH levels: nprobeSup=1 is the cheapest
    * routing (recall@5 measured 0.38 at the gate corpus, vs flat
    * nprobe=3's 0.56), nprobeSup=2 recovers most of the flat recall
    * at 2S extra distances per query while the corpus-side assignment
    * stays n·O(√nCells). Every argmin/rank is the shared
    * lexicographic (dist, id) struct-min so the whole routing replays
    * in the DuckDB oracle verbatim. */
  def hierTopK(df: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, k: Int, targetCell: Int, nprobe: Int,
               dims: Int, nprobeSup: Int = 1, nAssignSup: Int = 1,
               nprobeScale: Double = 0.0): DataFrame = {
    require(targetCell > 0 && nprobe > 0 && nprobeSup > 0 && nAssignSup > 0,
      s"targetCell $targetCell nprobe $nprobe nprobeSup $nprobeSup" +
        s" nAssignSup $nAssignSup")
    val kc = math.max(1L,
      (df.count() + targetCell - 1) / targetCell).toInt
    // DERIVED probe width (round-19, VERDICT item 5 — the d20 lesson
    // applied to the recall knob): nCells is already count-adaptive
    // (kc ∝ n/targetCell), so a FIXED nprobe decays per decade — r17's
    // recall fell 0.74→0.38 when sf0.1's 32-cell index outgrew
    // nprobe=3, and a pinned 8 repeats that cliff at the sf3d decade
    // (8/3125 ≈ 0.26% probe fraction). With nprobeScale > 0 the probe
    // width follows the index: np = max(nprobe, ⌈scale·√kc⌉), keeping
    // the probed fraction ≈ scale/√kc of the corpus — the same O(√n)
    // envelope as the routing itself, so cost AND recall scale
    // together. IEEE sqrt/ceil are correctly rounded on both engines,
    // so the oracle replays the derivation bit-identically.
    val np =
      if (nprobeScale > 0)
        math.max(nprobe, math.ceil(nprobeScale * math.sqrt(kc.toDouble)).toInt)
      else nprobe
    val sCount = math.ceil(math.sqrt(kc.toDouble)).toInt.max(1)
    // the SUPER-level probe width follows the super count the same way
    // (adaptive mode only): nps = max(nprobeSup, ⌈√S⌉) — a fixed
    // nprobeSup is the same decaying knob one level up (S = ⌈√kc⌉
    // grows per decade; AnnKnobs at sf0.1: nps 2→3 lifts recall@5
    // 0.86→0.92 at unchanged wall). Derivation replayed in the oracle.
    val nps =
      if (nprobeScale > 0)
        math.max(nprobeSup, math.ceil(math.sqrt(sCount.toDouble)).toInt)
      else nprobeSup
    val cells = Fixpoint.cut(IvfPq.coarseCells(df, idCol, vecCol, kc))
    val supers = cells.filter(col("cell") < sCount)
      .select(col("cell").as("sup"), col("cellv").as("supv"))
    // round-21: every CORPUS-SIDE stage of the two-level routing is a
    // compiled per-row argmin/top-n over a collapsed broadcast
    // centroid row (the m16 ArgminDist2 treatment — CellAssign
    // scaladoc has the parity argument). The former shape paid, per
    // corpus row: a ×S explode + row_number window Exchange (corpSup),
    // a vec_id self-JOIN of base against corpSup (two more corpus
    // Exchanges), and a groupBy(vec_id, sup) argmin Exchange. All four
    // are gone: scan → 1-row BNLJ → explode(top-n) → broadcast-join
    // members → project. Query-side stages (≤ |queries| rows) keep the
    // bounded window form.
    val supRow = broadcast(CellAssign.collapse(supers, "sup", "supv"))
    // cell → nearest super (kc·S distances — tiny, driver-free)
    val cellSup = Fixpoint.cut(cells.crossJoin(supRow)
      .select(col("cell"), col("cellv"),
        CellAssign.nearest(col("cellv"), col("__cents"), dims)
          .getField("cid").as("sup")))
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    // each super's member cells, collapsed for the per-super argmin
    val members = broadcast(cellSup.groupBy(col("sup")).agg(
      sort_array(collect_list(struct(col("cell").cast("int").as("cid"),
        col("cellv").as("cvec")))).as("__members")))
    // corpus row → its nAssignSup nearest supers (round-17, VERDICT
    // item 5): at nAssignSup=1 this is the plain argmin routing; at 2
    // a BOUNDARY point — one whose true nearest cell lives under its
    // second-nearest super — is additionally assigned to its nearest
    // cell under that super, so queries probing either side of the
    // super boundary can reach it. Bounded ×nAssignSup duplication in
    // the inverted lists (still n·O(√nCells) assignment distances),
    // deduplicated at scoring below. `v` rides along so the member
    // argmin below needs no join back to base.
    val corpSup = base
      .crossJoin(supRow)
      .select(col("vec_id"), col("v"),
        explode(CellAssign.topN(col("v"), col("__cents"), dims, nAssignSup))
          .as("sup"))
    // corpus row → nearest cell among EACH routed super's members
    val assign = corpSup
      .join(members, "sup")
      .select(col("vec_id"),
        CellAssign.nearest(col("v"), col("__members"), dims)
          .getField("cid").as("cell"))
    // query → nprobe nearest cells among its nprobeSup supers' members
    val qbase = Similarity.withNormalized(base.filter(queryPred), "v", "qv")
      .select(col("vec_id").as("query_id"), col("v"), col("qv"))
    val ws = Window.partitionBy(col("vec_id"))
      .orderBy(col("__sd2"), col("sup"))
    val qsup = qbase.select(col("query_id").as("vec_id"), col("v"))
      .crossJoin(broadcast(supers))
      .withColumn("__sd2", Dist2(col("v"), col("supv"), dims))
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= nps)
      .select(col("vec_id").as("query_id"), col("sup"))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("cd2"), col("cell"))
    val probes = qbase.join(qsup, "query_id")
      .join(broadcast(cellSup), "sup")
      .withColumn("cd2", Dist2(col("v"), col("cellv"), dims))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= np)
      .select(col("query_id"), col("qv"), col("cell"))
    // scoring tail — identical to portableTopK: candidates bound by
    // probed-cell membership, one fused dot per normalized pair
    val corpus = Similarity.withNormalized(base, "v", "cv")
      .select(col("vec_id"), col("cv"))
      .join(assign, "vec_id")
    val scoredRaw = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", Similarity.dot(col("qv"), col("cv")))
      .select(col("query_id"), col("cell"), col("vec_id").as("corpus_id"),
        col("cos"))
    // multi-super assignment can surface the same (query, corpus) pair
    // through two cells — keep one (min cell; cos is the identical
    // fused dot on both rows). Skipped at nAssignSup=1 where no
    // duplicate can exist: the extra shuffle would buy nothing.
    val scored =
      if (nAssignSup == 1) scoredRaw
      else scoredRaw.groupBy(col("query_id"), col("corpus_id"))
        .agg(min(col("cell")).as("cell"), min(col("cos")).as("cos"))
        .select(col("query_id"), col("cell"), col("corpus_id"), col("cos"))
    graft.operators.TopK.perKey(scored, Seq("query_id"),
        Seq(graft.operators.TopK.descNullsLast(col("cos")), col("corpus_id")), k)
      .select(col("query_id"), col("cell"), col("corpus_id"), col("cos"),
        col("rank"))
  }

  /** DuckDB oracle for [[hierTopK]] over the `embeddings` view: the
    * d14c two-level routing CTEs (adaptive cell LIMIT, super prefix,
    * cell→super, point→super, within-super argmin/rank) composed with
    * [[portableOracleSql]]'s cosine scoring tail. */
  def hierOracleSql(k: Int, targetCell: Int, nprobe: Int, dims: Int,
                    queryPredSql: String, nprobeSup: Int = 1,
                    nAssignSup: Int = 1, nprobeScale: Double = 0.0): String = {
    // the count-adaptive probe width replayed IN SQL (see hierTopK):
    // np = max(nprobe, ceil(scale·sqrt(kc))) — sqrt/ceil are correctly
    // rounded IEEE on both engines
    val npSql =
      if (nprobeScale > 0)
        s"(SELECT greatest($nprobe, CAST(ceil($nprobeScale * sqrt(kc)) " +
          s"AS BIGINT)) FROM nc)"
      else nprobe.toString
    // super-level probe width, derived the same way in adaptive mode:
    // nps = max(nprobeSup, ceil(sqrt(S))) with S = ceil(sqrt(kc))
    val npsSql =
      if (nprobeScale > 0)
        s"(SELECT greatest($nprobeSup, CAST(ceil(sqrt(" +
          s"CAST(ceil(sqrt(kc)) AS BIGINT))) AS BIGINT)) FROM nc)"
      else nprobeSup.toString
    def d2(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0,
         |      list_transform(range(1, $dims + 1),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |          FROM embeddings),
       |nc AS (SELECT greatest(1, CAST(ceil(count(*) / $targetCell.0)
       |         AS BIGINT)) AS kc FROM e),
       |hs AS (SELECT vec_id, v,
       |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM e),
       |cells AS (SELECT v AS cellv,
       |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
       |  FROM hs ORDER BY h, vec_id
       |  LIMIT (SELECT kc FROM nc)),
       |sup AS (SELECT cellv AS supv, cell AS sup FROM cells
       |  WHERE cell < (SELECT CAST(ceil(sqrt(kc)) AS BIGINT) FROM nc)),
       |casg AS (SELECT cell, cellv, sup FROM (
       |    SELECT c.cell, c.cellv, s.sup,
       |      row_number() OVER (PARTITION BY c.cell
       |        ORDER BY ${d2("c.cellv", "s.supv")}, s.sup) AS rn
       |    FROM cells c, sup s) WHERE rn = 1),
       |psup AS (SELECT vec_id, sup FROM (
       |    SELECT e.vec_id, s.sup,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "s.supv")}, s.sup) AS rn
       |    FROM e, sup s) WHERE rn <= $nAssignSup),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, p.sup, ca.cell,
       |      row_number() OVER (PARTITION BY e.vec_id, p.sup
       |        ORDER BY ${d2("e.v", "ca.cellv")}, ca.cell) AS arn
       |    FROM e
       |    JOIN psup p ON p.vec_id = e.vec_id
       |    JOIN casg ca ON ca.sup = p.sup) WHERE arn = 1),
       |qsup AS (SELECT vec_id, sup FROM (
       |    SELECT e.vec_id, s.sup,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "s.supv")}, s.sup) AS srn
       |    FROM e, sup s
       |    WHERE $queryPredSql) WHERE srn <= $npsSql),
       |probes AS (SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, ca.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "ca.cellv")}, ca.cell) AS prn
       |    FROM e
       |    JOIN qsup p ON p.vec_id = e.vec_id
       |    JOIN casg ca ON ca.sup = p.sup) WHERE prn <= $npSql),
       |nm AS (SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM e),
       |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM nm),
       |q AS (SELECT p.query_id, p.cell, nv.nv AS qv
       |  FROM probes p JOIN nv ON nv.vec_id = p.query_id),
       |sc0 AS (
       |  SELECT q.query_id, a.cell, nv.vec_id AS corpus_id,
       |    list_reduce(list_prepend(0.0,
       |        list_transform(range(1, len(qv) + 1), i -> qv[i] * nv.nv[i])),
       |        (acc, x) -> acc + x) AS cos
       |  FROM q JOIN asg a ON a.cell = q.cell
       |  JOIN nv ON nv.vec_id = a.vec_id
       |  WHERE q.query_id <> nv.vec_id),
       |${
        // multi-super assignment can reach one (query, corpus) pair
        // through two cells — replay the Spark-side dedup (min cell;
        // cos identical on both rows). At nAssignSup=1 the pass-through
        // keeps the plan byte-identical to the round-16 oracle.
        if (nAssignSup == 1) "sc AS (SELECT * FROM sc0),"
        else
          """sc AS (
            |  SELECT query_id, min(cell) AS cell, corpus_id, min(cos) AS cos
            |  FROM sc0 GROUP BY query_id, corpus_id),""".stripMargin
      }
       |rk AS (
       |  SELECT query_id, cell, corpus_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, corpus_id) AS rank
       |  FROM sc)
       |SELECT query_id, cell, corpus_id, round(cos + 1e-9, 6) AS cos, rank
       |FROM rk WHERE rank <= $k""".stripMargin
  }

  /** Rename to the (vec_id, v) convention and add the ML-vector view.
    * NOT normalization: the quantizer bins RAW vectors (cosine ranking
    * re-normalizes per pair inside Similarity.cosine). */
  private def asFeatures(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("features", array_to_vector(col("v")))
  }

  /** Deterministic bounded sample for the coarse-quantizer fit (see
    * [[graft.operators.Sampling.hashOrderedLimit]] for the plan-shape
    * guarantees). Exposed for IvfQuantizerSpec's bound assertion. */
  private[graft] def quantizerFitInput(e: DataFrame, sampleN: Int,
                                       seed: Long): DataFrame =
    graft.operators.Sampling.hashOrderedLimit(e, col("vec_id"), sampleN, seed)
}
