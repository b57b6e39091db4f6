package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.{PersistRegistry, Stage, Tables}
import graft.queries.Rx.{r4, r6}
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps
import graft.operators.Fixpoint

/** Near-dedup + similarity search (BASELINE.json scale extensions).
  * Every operator here is the scale-path variant: LSH banding, blocked
  * pair generation, bucketed ANN — no unbounded all-pairs joins.
  */
object DedupSimPack extends QueryPack {

  private val ShingleN = 3
  private val NumPerm = 16
  private val Bands = 4
  private val RowsPerBand = 4

  /** The compute-once curation DAG d2/d6/d7 and the other MinHash
    * queries read: the persisted (shingles, signatures) pair and the
    * verified candidate-pair table. */
  val sharedStage: Stage = Stage("setup_dedup_shared")(buildSharedStage)

  private def shingleSigs(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sharedStage.memo(s, dir, ":sigs") {
      val docs = Tables.documents(s, dir)
      val sh = PersistRegistry.trackPersist(Dedup.shingleRows(docs, "doc_id", "text", ShingleN))
      val sigs = PersistRegistry.trackPersist(Dedup.minhashSignatures(sh, NumPerm))
      (sh, sigs)
    }

  /** The verified candidate-pair table: d2 surfaces it, d6 clusters it
    * and d7 anti-joins it — one band join + Jaccard verification feeds
    * all three (the compute-once curation DAG a production pipeline
    * would materialize as a table). */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    sharedStage.memo(s, dir, ":pairs") {
      val (sh, sigs) = shingleSigs(s, dir)
      val cands = Dedup.lshCandidates(sigs, Bands, RowsPerBand)
      PersistRegistry.trackPersist(
        Dedup.verifyJaccard(cands, sh, sigs.select(col("id"), col("n_sh"))))
    }

  /** Materialize the shared shingle/signature/verified-pairs stage for
    * (session, dir). Bench times this as its own "setup_dedup_shared"
    * line so those queries' numbers measure the queries, not whichever
    * ran first. */
  def buildSharedStage(s: SparkSession, dir: String): Unit = {
    verifiedPairs(s, dir).count(); ()
  }

  /** Shared oracle prefix: per-doc distinct shingle list + per-doc
    * minhash signature columns, mirrored from Dedup.minhashSignatures
    * (one min-aggregate per permutation, constants interpolated). */
  private val OracleSig = {
    val minExprs = (0 until NumPerm).map(i =>
      s"min((h30 * ${Dedup.permA(i)} + ${Dedup.permB(i)}) % 2147483647) AS s$i")
      .mkString(",\n      |    ")
    s"""d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents),
      |shl AS (SELECT doc_id,
      |    CASE WHEN len(ts) >= 3
      |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
      |                         for i in range(1, len(ts) - 1)])
      |      ELSE [] END AS shs
      |  FROM d),
      |sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM shl),
      |sh30 AS (SELECT id, sh,
      |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h30
      |  FROM sh),
      |sig AS (SELECT id,
      |    $minExprs
      |  FROM sh30 GROUP BY id)""".stripMargin
  }

  /** d2's oracle signature/band CTEs, shared with the streaming
    * near-dedup (st28, StreamMultimodalPack) so the stream's in-row
    * MinHash replays the identical signature construction. */
  private[queries] def OracleSigShared: String = OracleSig
  private[queries] def OracleBandShared: String = OracleBand

  /** d23's two-family signature + r=2,b=8 band CTEs, shared with the
    * streaming derived-F near-dedup (st31, StreamMultimodalPack) so
    * the stream's in-row two-family MinHash replays identically. */
  private[queries] def OracleSig2Shared: String = OracleSig2
  private[queries] def OracleBandR2Shared: String = OracleBandR2
  private[queries] def OracleBandR2BShared: String = OracleBandR2B

  /** [[OracleSig]] widened to BOTH permutation families (s0..s15 the
    * d2 table, s16..s31 the independent d21 second table) — 32 min
    * aggregates over the same single shingle pass, mirroring
    * Dedup.minhashSignatures(…, permOffset = NumPerm). */
  private val OracleSig2 = {
    val minExprs = (0 until 2 * NumPerm).map(i =>
      s"min((h30 * ${Dedup.permA(i)} + ${Dedup.permB(i)}) % 2147483647) AS s$i")
      .mkString(",\n      |    ")
    s"""d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents),
      |shl AS (SELECT doc_id,
      |    CASE WHEN len(ts) >= 3
      |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
      |                         for i in range(1, len(ts) - 1)])
      |      ELSE [] END AS shs
      |  FROM d),
      |sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM shl),
      |sh30 AS (SELECT id, sh,
      |    CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 1073741824 AS h30
      |  FROM sh),
      |sig AS (SELECT id,
      |    $minExprs
      |  FROM sh30 GROUP BY id)""".stripMargin
  }

  /** [[OracleBand]] for the second family: bands over s16..s31, CTE
    * `band2`. */
  private val OracleBand2 = {
    val arms = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r =>
        s"s${NumPerm + b * RowsPerBand + r}")
      s"SELECT id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_key FROM sig"
    }
    arms.mkString("band2 AS (\n  ", "\n  UNION ALL ", ")")
  }

  /** r=2, b=8 banding of the SAME 16-perm signature (d22/d23): 8
    * bands of 2 rows — the s-curve shifted left so a J=0.5 pair's
    * catch probability is 1−(1−0.25)^8 ≈ 0.90 per family (vs 0.228
    * for 4×4), at zero extra signature cost. CTE `bandr2`. */
  private val OracleBandR2 = {
    val arms = (0 until 2 * Bands).map { b =>
      val cols = (0 until 2).map(r => s"s${b * 2 + r}")
      s"SELECT id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_key FROM sig"
    }
    arms.mkString("bandr2 AS (\n  ", "\n  UNION ALL ", ")")
  }

  /** [[OracleBandR2]] over the second permutation family (s16..s31),
    * CTE `bandr2b` — the F=2 arm of d23's derived-family union. */
  private val OracleBandR2B = {
    val arms = (0 until 2 * Bands).map { b =>
      val cols = (0 until 2).map(r => s"s${NumPerm + b * 2 + r}")
      s"SELECT id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_key FROM sig"
    }
    arms.mkString("bandr2b AS (\n  ", "\n  UNION ALL ", ")")
  }

  /** Oracle band CTE: one UNION ALL arm per band, band_key = md5 of the
    * comma-joined 4 signature values of that band. */
  private val OracleBand = {
    val arms = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}")
      s"SELECT id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_key FROM sig"
    }
    arms.mkString("band AS (\n  ", "\n  UNION ALL ", ")")
  }

  def queries: Seq[Q] = Seq(

    // MinHash+LSH near-dedup: signatures → band buckets → candidate
    // pairs → exact Jaccard verification (only candidates verified).
    Q("d2_minhash_lsh",
      (s, dir) => {
        verifiedPairs(s, dir)
          .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
            r6(col("jaccard")).as("jaccard"))
      },
      Some(s"""WITH $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2)
              |SELECT c.id_a, c.id_b, coalesce(i.n_inter, 0) AS n_inter,
              |  za.n_sh AS n_a, zb.n_sh AS n_b,
              |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) + 1e-9, 6)
              |    AS jaccard
              |FROM cand c
              |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |JOIN sizes za ON za.id = c.id_a
              |JOIN sizes zb ON zb.id = c.id_b""".stripMargin)),

    // D21 (round-19, VERDICT item 7): MULTI-TABLE MinHash LSH — the
    // recall knob the text tier was missing. mm17 widened dHash recall
    // with a second STRIDED composition because fingerprint bits admit
    // only 2 such tables (BandedLsh.hammingPairsTables cap rationale);
    // MinHash has no such cap — the second table is an INDEPENDENT
    // permutation family (seed indices 16..31), banded 4×4 exactly
    // like the first, candidates UNIONed, exact Jaccard verified once.
    // Candidate recall lifts from 1−(1−s^4)^4 to 1−(1−s^4)^8 at 2×
    // signature aggregates and UNCHANGED join shape — at 100 TB both
    // tables are the same bucketed band join, never all-pairs.
    // Measured where it matters (tools/MinhashTables on the
    // gen_mids.py mid-similarity fixture — the gate corpora's planted
    // dups are all J ≥ ~0.9, where any table catches everything):
    // exact-truth recall 0.607 → 0.772 at J ≥ 0.5 (0.485 → 0.641 at
    // 0.4), with 476 of 2231 verified pairs surfaced ONLY by the
    // second family. `tables_hit` (1/2/3) makes the composition
    // LOAD-BEARING in the hash at the gate corpora too: 27 + 36 of
    // sf0.1's 326 candidate rows are single-table, so the oracle must
    // replay BOTH candidate stages exactly to match the column.
    Q("d21_minhash_twotable",
      (s, dir) => {
        import s.implicits._
        val (sh, sigs) = shingleSigs(s, dir)
        val sigs2 = Dedup.minhashSignatures(sh, NumPerm, permOffset = NumPerm)
        val c1 = Dedup.lshCandidates(sigs, Bands, RowsPerBand)
          .withColumn("t", lit(1L))
        val c2 = Dedup.lshCandidates(sigs2, Bands, RowsPerBand)
          .withColumn("t", lit(2L))
        // candidate build feeds verify + final join
        val cands = Fixpoint.cut(c1.unionByName(c2)
          .groupBy($"id_a", $"id_b").agg(sum($"t").as("tables_hit")))
        Dedup.verifyJaccard(cands.select($"id_a", $"id_b"), sh,
            sigs.select($"id", $"n_sh"))
          .join(cands, Seq("id_a", "id_b"))
          .select($"id_a", $"id_b", $"tables_hit", $"n_inter", $"n_a",
            $"n_b", r6($"jaccard").as("jaccard"))
      },
      Some(s"""WITH $OracleSig2,
              |$OracleBand,
              |$OracleBand2,
              |cand AS (
              |  SELECT id_a, id_b, CAST(sum(t) AS BIGINT) AS tables_hit
              |  FROM (
              |    SELECT DISTINCT a.id AS id_a, b.id AS id_b, 1 AS t
              |    FROM band a JOIN band b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id
              |    UNION ALL
              |    SELECT DISTINCT a.id, b.id, 2
              |    FROM band2 a JOIN band2 b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id)
              |  GROUP BY 1, 2),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2)
              |SELECT c.id_a, c.id_b, c.tables_hit,
              |  coalesce(i.n_inter, 0) AS n_inter,
              |  za.n_sh AS n_a, zb.n_sh AS n_b,
              |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) + 1e-9, 6)
              |    AS jaccard
              |FROM cand c
              |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |JOIN sizes za ON za.id = c.id_a
              |JOIN sizes zb ON zb.id = c.id_b""".stripMargin)),

    // D22 (round-20, VERDICT item 2): the r=2, b=8 BANDING VARIANT of
    // the same 16-perm signature — the other axis of the recall knob.
    // d21 added a second permutation family at the d2 banding (4×4);
    // this re-slices the EXISTING signature into 8 bands of 2 rows,
    // moving the s-curve itself: P(catch | J=s) = 1−(1−s²)^8, which
    // crosses 0.90 at exactly s = 0.5 (vs 0.228 for 4×4) — so the
    // J ≥ 0.5 near-dups a real pipeline dedups at are caught at ≥0.9
    // by ONE family at ZERO extra signature cost; only the band join
    // fans 8 keys per doc instead of 4 (same bucketed shape, never
    // all-pairs). Measured on the gen_mids mid-similarity fixture
    // (tools/MinhashTables; gate corpora plant only J≥0.9 dups where
    // every scheme saturates): candidate recall at J ≥ 0.5 =
    // 0.607 (4×4) → ≥0.9 here, the VERDICT item 2 target. The price
    // is precision at low J — more sub-threshold candidates reach
    // verification (the exact-Jaccard stage exists to reject them) —
    // which is why r=2 is the DEDUP setting and r=4 stays the
    // clustering default.
    Q("d22_minhash_r2",
      (s, dir) => {
        import s.implicits._
        val (sh, sigs) = shingleSigs(s, dir)
        val cands = Dedup.lshCandidates(sigs, 2 * Bands, 2)
        Dedup.verifyJaccard(cands, sh, sigs.select($"id", $"n_sh"))
          .select($"id_a", $"id_b", $"n_inter", $"n_a", $"n_b",
            r6($"jaccard").as("jaccard"))
      },
      Some(s"""WITH $OracleSig,
              |$OracleBandR2,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM bandr2 a JOIN bandr2 b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |   AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2)
              |SELECT c.id_a, c.id_b, coalesce(i.n_inter, 0) AS n_inter,
              |  za.n_sh AS n_a, zb.n_sh AS n_b,
              |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) + 1e-9, 6)
              |    AS jaccard
              |FROM cand c
              |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |JOIN sizes za ON za.id = c.id_a
              |JOIN sizes zb ON zb.id = c.id_b""".stripMargin)),

    // D23 (round-20, VERDICT item 8): the FAMILY COUNT becomes the
    // tier's last adaptive knob — derived from a declared recall
    // target instead of pinned. Dedup.familiesForRecall replays the
    // s-curve closed form: one (r=2, b=8) family catches a J=s pair
    // with p1 = 1−(1−s²)^8, so the smallest F with (1−p1)^F ≤
    // 1−target meets the target; at (target=0.9, s0=0.5) the ladder
    // derives F=2 — p1 = 0.89989, one family misses by 1.1e-4 (the
    // margin that makes the cross-engine `power` replay safe), two
    // reach 0.9900. The oracle recomputes the DERIVATION itself (the
    // d20/s17 idiom: a guarded CASE ladder over exactly-representable
    // doubles — 0.75^8 = 6561/65536 is exact in binary — erroring
    // loudly past F=2 rather than silently replaying the wrong
    // composition), then runs the derived number of independent
    // permutation families (seed ranges 0..15, 16..31) through the
    // same banded join, unioned, verified once. families_hit (1/2/3)
    // keeps both arms load-bearing in the hash; n_families carries
    // the derived knob into the output schema. Expected recall at
    // J ≥ 0.5: 1−(1−0.8999)² ≈ 0.99 (measured on gen_mids via
    // tools/MinhashTables). Cost is linear in F — F× signature
    // aggregates over one shingle pass, F band passes, one verify.
    Q("d23_minhash_families",
      (s, dir) => {
        import s.implicits._
        val (sh, sigs) = shingleSigs(s, dir)
        val nFam = Dedup.familiesForRecall(target = 0.9, s0 = 0.5,
          r = 2, b = 2 * Bands)
        val perFam = (0 until nFam).map { i =>
          val sigsI = if (i == 0) sigs
            else Dedup.minhashSignatures(sh, NumPerm, permOffset = i * NumPerm)
          Dedup.lshCandidates(sigsI, 2 * Bands, 2)
            .withColumn("t", lit(1L << i))
        }
        // candidate build feeds verify + final join
        val cands = Fixpoint.cut(perFam.reduce(_ unionByName _)
          .groupBy($"id_a", $"id_b").agg(sum($"t").as("families_hit")))
        Dedup.verifyJaccard(cands.select($"id_a", $"id_b"), sh,
            sigs.select($"id", $"n_sh"))
          .join(cands, Seq("id_a", "id_b"))
          .select($"id_a", $"id_b", lit(nFam.toLong).as("n_families"),
            $"families_hit", $"n_inter", $"n_a", $"n_b",
            r6($"jaccard").as("jaccard"))
      },
      Some(s"""WITH $OracleSig2,
              |$OracleBandR2,
              |$OracleBandR2B,
              |fd AS (
              |  SELECT CASE
              |    WHEN power(1 - p1, 1) <= 0.1 + 1e-12 THEN 1
              |    WHEN power(1 - p1, 2) <= 0.1 + 1e-12 THEN 2
              |    ELSE error('d23 oracle replays F<=2; derived F>2')
              |    END AS f
              |  FROM (SELECT 1 - power(1 - power(0.5, 2), 8) AS p1)),
              |cand AS (
              |  SELECT id_a, id_b, CAST(sum(t) AS BIGINT) AS families_hit
              |  FROM (
              |    SELECT DISTINCT a.id AS id_a, b.id AS id_b, 1 AS t
              |    FROM bandr2 a JOIN bandr2 b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id
              |    UNION ALL
              |    SELECT DISTINCT a.id, b.id, 2
              |    FROM bandr2b a JOIN bandr2b b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id
              |     AND (SELECT f FROM fd) >= 2)
              |  GROUP BY 1, 2),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2)
              |SELECT c.id_a, c.id_b,
              |  CAST((SELECT f FROM fd) AS BIGINT) AS n_families,
              |  c.families_hit, coalesce(i.n_inter, 0) AS n_inter,
              |  za.n_sh AS n_a, zb.n_sh AS n_b,
              |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) + 1e-9, 6)
              |    AS jaccard
              |FROM cand c
              |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |JOIN sizes za ON za.id = c.id_a
              |JOIN sizes zb ON zb.id = c.id_b""".stripMargin)),

    // D24 (round-20): the keep/drop DECISION at the derived-recall
    // composition — the round's recall work (d22's r=2,b=8 s-curve,
    // d23's family-count knob) glued into the curation end product.
    // d7 keeps the corpus deduped through the 4×4 clustering-grade
    // pairs; a pipeline deduping at a declared ≥0.9 recall target
    // must make the SAME decision from the recall-grade candidate
    // set: F = familiesForRecall(0.9, J0.5, r2, b8) = 2 families,
    // candidates unioned, ONE exact-Jaccard verification at 0.5, the
    // verified edges clustered (connected components) and
    // non-canonical members dropped. At the gate corpora the planted
    // dups are all J ≥ 0.9, where both compositions verify the same
    // 25 edges — so the hash pins the full two-family r2b8 candidate
    // build + verify + closure in both engines while the kept SET
    // matches d7's (divergence isolates a composition defect); the
    // recall difference the composition exists for is measured on the
    // gen_mids fixture (SCALING.md: 0.607 → 0.996 candidate recall at
    // J ≥ 0.5). Oracle: d7's recursive-closure tail over the d23
    // candidate CTEs — with the two-family union written as UNION ALL
    // inside a subquery + outer DISTINCT: under WITH RECURSIVE,
    // DuckDB treats a MATERIALIZED CTE whose top level is `a UNION b`
    // as recursive-shaped even with NO self-reference and iterates it
    // into garbage (measured: 229 phantom candidate rows instead of
    // 45 at sf0.01); iterative-CTE chains stay AS MATERIALIZED per
    // the r19 lesson (inlined, this oracle is 12.1s; materialized,
    // 0.29s).
    Q("d24_dedup_keep_target",
      (s, dir) => {
        import s.implicits._
        val (sh, sigs) = shingleSigs(s, dir)
        val nFam = Dedup.familiesForRecall(target = 0.9, s0 = 0.5,
          r = 2, b = 2 * Bands)
        val cands = Fixpoint.cut((0 until nFam).map { i =>
          val sigsI = if (i == 0) sigs
            else Dedup.minhashSignatures(sh, NumPerm, permOffset = i * NumPerm)
          Dedup.lshCandidates(sigsI, 2 * Bands, 2)
        }.reduce(_ unionByName _).distinct()) // candidate build feeds verify twice (d21/d23 idiom)
        val edges = Fixpoint.cut(Dedup.verifyJaccard(cands, sh,
            sigs.select($"id", $"n_sh"))
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b"))
          // components() references edges twice (a↔b symmetrization) and
          // probes + collects it — without a cut, each of those actions
          // re-executes the two-family union + verify DAG (measured at
          // sf0.01: 59s cold / 10.2s warm; checkpointed: see
          // OPTIMIZATION_r20.md).
        val drop = Dedup.components(edges)
          .filter($"id" =!= $"cluster").select($"id".as("doc_id"))
        Tables.documents(s, dir).select($"doc_id", $"lang", $"source")
          .join(drop, Seq("doc_id"), "left_anti")
      },
      Some(s"""WITH RECURSIVE ${OracleSig2.replace(
                 "sh30 AS (", "sh30 AS MATERIALIZED (").replace(
                 "sig AS (", "sig AS MATERIALIZED (")},
              |${OracleBandR2.replace("bandr2 AS (",
                 "bandr2 AS MATERIALIZED (")},
              |${OracleBandR2B.replace("bandr2b AS (",
                 "bandr2b AS MATERIALIZED (")},
              |fd AS (
              |  SELECT CASE
              |    WHEN power(1 - p1, 1) <= 0.1 + 1e-12 THEN 1
              |    WHEN power(1 - p1, 2) <= 0.1 + 1e-12 THEN 2
              |    ELSE error('d24 oracle replays F<=2; derived F>2')
              |    END AS f
              |  FROM (SELECT 1 - power(1 - power(0.5, 2), 8) AS p1)),
              |cand AS MATERIALIZED (
              |  SELECT DISTINCT id_a, id_b FROM (
              |    SELECT a.id AS id_a, b.id AS id_b
              |    FROM bandr2 a JOIN bandr2 b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id
              |    UNION ALL
              |    SELECT a.id, b.id
              |    FROM bandr2b a JOIN bandr2b b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id < b.id
              |     AND (SELECT f FROM fd) >= 2)),
              |sizes AS MATERIALIZED (
              |  SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS MATERIALIZED (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a)
              |SELECT d.doc_id, d.lang, d.source FROM documents d
              |WHERE d.doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE doc_id <> cluster)""".stripMargin)),

    // Incremental dedup: a NEW batch (the most recent 20% of the id
    // range at EVERY scale factor — cutoff derived from max(doc_id),
    // not a constant) deduped against the standing corpus without
    // re-pairing the existing docs among themselves — the delta's band
    // keys probe the full signature index, then only the touched pairs
    // get exact Jaccard verification. The production shape for
    // continuous ingestion at 100 TB: per batch you pay the delta's
    // shingling + its bucket fan-in, never a corpus re-pass. The
    // cutoff derives from max(doc_id) over DOCUMENTS (docs with <3
    // tokens have no signature row, so a signature-side max could
    // diverge from the oracle's), broadcast as a 1-row scalar join —
    // the J4 idiom, integer arithmetic both engines replicate exactly.
    Q("d9_incremental",
      (s, dir) => {
        import s.implicits._
        val (sh, sigs) = shingleSigs(s, dir)
        val cut = Tables.documents(s, dir)
          .agg(expr("(max(doc_id) + 1) * 4 div 5").as("__cut"))
        val newSigs = sigs.crossJoin(broadcast(cut))
          .filter($"id" >= $"__cut").drop("__cut")
        val index = Dedup.bandIndex(sigs, Bands, RowsPerBand)
        val cands = Dedup.lshCandidatesAgainstIndex(
          Dedup.bandIndex(newSigs, Bands, RowsPerBand), index)
        Dedup.verifyJaccard(cands, sh, sigs.select($"id", $"n_sh"))
          .select($"id_a", $"id_b", $"n_inter", $"n_a", $"n_b",
            r6($"jaccard").as("jaccard"))
      },
      Some(s"""WITH $OracleSig,
              |$OracleBand,
              |cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
              |  WHERE b.id >= (SELECT c FROM cut)),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2)
              |SELECT c.id_a, c.id_b, coalesce(i.n_inter, 0) AS n_inter,
              |  za.n_sh AS n_a, zb.n_sh AS n_b,
              |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) + 1e-9, 6)
              |    AS jaccard
              |FROM cand c
              |LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |JOIN sizes za ON za.id = c.id_a
              |JOIN sizes zb ON zb.id = c.id_b""".stripMargin)),

    // Dup-cluster formation: verified near-dup pairs (jaccard >= 0.5)
    // → connected components → canonical (min-id) cluster per doc with
    // its size. The step that turns pair lists into the keep/drop
    // decision of a corpus dedup pass. Oracle: recursive-CTE transitive
    // closure (exact for any component diameter).
    Q("d6_dup_clusters",
      (s, dir) => {
        import s.implicits._
        val edges = verifiedPairs(s, dir)
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b")
        val comp = Dedup.components(edges)
        val sizes = comp.groupBy($"cluster").agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "cluster")
          .select($"id".as("doc_id"), $"cluster", $"cluster_size")
      },
      Some(s"""WITH RECURSIVE $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a),
              |cs AS (SELECT cluster, count(*) AS cluster_size
              |       FROM comp GROUP BY cluster)
              |SELECT comp.doc_id, comp.cluster, cs.cluster_size
              |FROM comp JOIN cs USING (cluster)""".stripMargin)),

    // D18 (round-15): duplicate-cluster SIZE HISTOGRAM — the audit a
    // curation pipeline runs before choosing a dedup strategy: how is
    // duplicate mass distributed? A few giant clusters (crawler
    // loops, boilerplate mirrors) call for cluster-cap policies; a
    // long near-singleton tail means exact dedup alone recovers
    // little. This is precisely the Zipf-vs-uniform distinction the
    // sf1z scale fixture models — made a first-class queryable.
    // Shape: d6's components (memoized verified-pairs stage),
    // singletons = their own cluster via the d17 left-join idiom,
    // then two bounded aggregates; output ≤ distinct cluster sizes
    // (≤ √(2n) rows), so the histogram is driver-safe at any corpus
    // size.
    Q("d18_cluster_size_hist",
      (s, dir) => {
        import s.implicits._
        val edges = verifiedPairs(s, dir)
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b")
        val comp = Dedup.components(edges)
        val assigned = Tables.documents(s, dir).select($"doc_id")
          .join(comp.select($"id".as("doc_id"), $"cluster"),
            Seq("doc_id"), "left")
          .withColumn("cluster", coalesce($"cluster", $"doc_id"))
        assigned.groupBy($"cluster")
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy($"cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            ($"cluster_size" * count(lit(1))).as("n_docs"))
          .orderBy($"cluster_size".desc)
      },
      Some(s"""WITH RECURSIVE $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a),
              |asg AS (
              |  SELECT d.doc_id, coalesce(comp.cluster, d.doc_id) AS cluster
              |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
              |cs AS (SELECT cluster, count(*) AS cluster_size
              |       FROM asg GROUP BY cluster)
              |SELECT cluster_size, count(*) AS n_clusters,
              |  cluster_size * count(*) AS n_docs
              |FROM cs GROUP BY cluster_size
              |ORDER BY cluster_size DESC""".stripMargin)),

    // D17 (round-14): LEAKAGE-SAFE train/val/test split — the split a
    // dedup-aware pipeline actually ships: WHOLE near-dup clusters
    // (d6's components, singletons = their own cluster) are assigned
    // to a split by a portable hash of the cluster id (~70/15/15), so
    // a doc and its near-duplicates can never straddle train and
    // eval — the leakage w16's row-wise split cannot rule out. The
    // assignment is a pure function of the cluster id (no extra
    // shuffle beyond d6's components + one count aggregate), so it is
    // stable under growth that does NOT merge existing clusters: a
    // new doc whose dup edges bridge two clusters merges them, and
    // the merged component's min-id label — hence its split — can
    // change for one side's docs (round-15 ADVICE caveat). Output
    // audits the split: docs and clusters per side.
    Q("d17_leakage_safe_split",
      (s, dir) => {
        import s.implicits._
        val edges = verifiedPairs(s, dir)
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b")
        val comp = Dedup.components(edges)
        val assigned = Tables.documents(s, dir).select($"doc_id")
          .join(comp.select($"id".as("doc_id"), $"cluster"), Seq("doc_id"), "left")
          .withColumn("cluster", coalesce($"cluster", $"doc_id"))
          .withColumn("bucket",
            TextOps.hash60($"cluster".cast("string")) % 100)
          .withColumn("split", when($"bucket" < 70, "train")
            .when($"bucket" < 85, "val").otherwise("test"))
        assigned.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"cluster").as("n_clusters"))
          .orderBy($"split")
      },
      Some(s"""WITH RECURSIVE $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a),
              |asg AS (
              |  SELECT d.doc_id, coalesce(comp.cluster, d.doc_id) AS cluster
              |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
              |sp AS (
              |  SELECT doc_id, cluster,
              |    CASE WHEN b < 70 THEN 'train'
              |         WHEN b < 85 THEN 'val' ELSE 'test' END AS split
              |  FROM (SELECT *,
              |      CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 15))
              |        AS BIGINT) % 100 AS b
              |    FROM asg))
              |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
              |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The dedup END PRODUCT: the kept corpus — every doc except
    // non-canonical members of a dup cluster (keep = cluster
    // representative or never-duplicated). This is the keep/drop
    // decision d6's clusters exist for, materialized as an anti-join.
    Q("d7_dedup_keep",
      (s, dir) => {
        import s.implicits._
        val edges = verifiedPairs(s, dir)
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b")
        val drop = Dedup.components(edges)
          .filter($"id" =!= $"cluster").select($"id".as("doc_id"))
        Tables.documents(s, dir).select($"doc_id", $"lang", $"source")
          .join(drop, Seq("doc_id"), "left_anti")
      },
      Some(s"""WITH RECURSIVE $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a)
              |SELECT d.doc_id, d.lang, d.source FROM documents d
              |WHERE d.doc_id NOT IN
              |  (SELECT doc_id FROM comp WHERE doc_id <> cluster)""".stripMargin)),

    // D14 (round-13): SemDeDup (Abbas et al. 2023) — SEMANTIC dedup
    // scoped to embedding clusters: cosine pairs exist only WITHIN a
    // cluster (Σ cell² bound, the er1 blocking argument — the paper's
    // own web-scale trick), of any pair ≥ 0.9 the higher id is marked
    // dropped. Cluster fit is the portable md5-order quantizer
    // (s3/mm4's k-means stand-in), assignment exact L2, cosines
    // r6-rounded before the threshold — so fit, assignment, pairs and
    // drop decisions ALL replay in DuckDB and the operator is
    // hash-checked end to end. Top-20 pairs shown (bounded heap);
    // d5 is the LSH-bucketed flavor of the same curation step.
    // ADAPTIVE cell count since round-15 (VERDICT item 4):
    // targetCell=64 keeps per-cell size — and with it the Σ cell²
    // pair volume — constant as the corpus grows (nCells: 8 at
    // sf0.01, 32 at sf0.1, ~313 at sf1x), closing the record's one
    // measured super-linear line; the oracle's subquery LIMIT
    // replays the same ceil(n/64) rule.
    // HIERARCHICAL-BY-DEFAULT since round-16 (VERDICT item 2):
    // SemDedup.pairs auto-switches the assignment to the two-level
    // super-cell routing when nCells > 4 — the topology measured 1.4×
    // warm at 10× data where flat read 8.0× — so this DEFAULT-path
    // query rides it at both gate SFs (nCells 8/32 > 4). The oracle
    // replays the switch itself: flat and hierarchical assignment
    // CTEs UNION ALL'd under the mutually-exclusive replayed
    // `ceil(n/64) > 4` predicate, so whichever side of the switch a
    // corpus lands on is the side that gets hash-checked.
    Q("d14_semdedup",
      (s, dir) => {
        import s.implicits._
        graft.sim.SemDedup.pairs(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", dims = 64, nCells = 0, threshold = 0.9,
            targetCell = 64)
          .orderBy(desc("cos"), $"id_a", $"id_b")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nc AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS BIGINT))
             |         AS k FROM e),
             |hs AS (SELECT vec_id, v,
             |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM e),
             |cells AS (SELECT v AS cellv,
             |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
             |  FROM hs ORDER BY h, vec_id
             |  LIMIT greatest(1, CAST(ceil(
             |    (SELECT count(*) FROM e) / 64.0) AS BIGINT))),
             |fasg AS (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS rn
             |    FROM e, cells c
             |    WHERE (SELECT k FROM nc) <= 4) WHERE rn = 1),
             |sup AS (SELECT cellv AS supv, cell AS sup FROM cells
             |  WHERE cell < (SELECT CAST(ceil(sqrt(k)) AS BIGINT) FROM nc)),
             |casg AS (SELECT cell, sup FROM (
             |    SELECT c.cell, s.sup,
             |      row_number() OVER (PARTITION BY c.cell ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (c.cellv[i] - s.supv[i]) * (c.cellv[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM cells c, sup s) WHERE rn = 1),
             |psup AS (SELECT vec_id, sup FROM (
             |    SELECT e.vec_id, s.sup,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - s.supv[i]) * (e.v[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM e, sup s
             |    WHERE (SELECT k FROM nc) > 4) WHERE rn = 1),
             |hasg AS (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS rn
             |    FROM e
             |    JOIN psup p ON p.vec_id = e.vec_id
             |    JOIN casg ca ON ca.sup = p.sup
             |    JOIN cells c ON c.cell = ca.cell) WHERE rn = 1),
             |asg AS (SELECT vec_id, cell FROM fasg
             |  UNION ALL SELECT vec_id, cell FROM hasg),
             |nm AS (SELECT e.vec_id, a.cell,
             |    list_transform(e.v, x -> x / sqrt(list_reduce(
             |      list_prepend(0.0, list_transform(range(1, 65),
             |        i -> e.v[i] * e.v[i])), (acc, x) -> acc + x))) AS nv
             |  FROM e JOIN asg a USING (vec_id)),
             |p AS (
             |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65), i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM nm a JOIN nm b ON a.cell = b.cell
             |    AND a.vec_id < b.vec_id)
             |SELECT cell, id_a, id_b, cos,
             |  CASE WHEN cos >= 0.9 THEN id_b END AS drop_id
             |FROM p ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // D14c (round-15): SemDeDup with the HIERARCHICAL coarse fit —
    // the 100 TB assignment path implemented, not just noted: flat
    // IVF scans all nCells centroids per point (n·nCells = n²/64
    // distance evals under the adaptive rule), so at another decade
    // the assignment itself becomes the super-linear stage. Here
    // S = ⌈√nCells⌉ super-cells (the md5-order PREFIX of the cell
    // table — no second fit) route each point: nearest super (n·S),
    // then nearest cell among that super's members — n·O(√nCells)
    // work, the standard two-level IVF trade (a boundary point can
    // land in a second-best cell, the same approximation the paper's
    // k-means already accepts). Every argmin is the shared
    // lexicographic (dist, id) struct-min, so the two-level routing,
    // the within-cell pairs and the drop decisions ALL replay in
    // DuckDB — the approximation is hash-checked, not hand-waved.
    Q("d14c_semdedup_hier",
      (s, dir) => {
        import s.implicits._
        graft.sim.SemDedup.pairsHier(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", dims = 64, targetCell = 64, threshold = 0.9)
          .orderBy(desc("cos"), $"id_a", $"id_b")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |hs AS (SELECT vec_id, v,
             |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM e),
             |cells AS (SELECT v AS cellv,
             |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
             |  FROM hs ORDER BY h, vec_id
             |  LIMIT greatest(1, CAST(ceil(
             |    (SELECT count(*) FROM e) / 64.0) AS BIGINT))),
             |sup AS (SELECT cellv AS supv, cell AS sup FROM cells
             |  WHERE cell < (SELECT greatest(1, CAST(ceil(sqrt(ceil(
             |    count(*) / 64.0))) AS BIGINT)) FROM e)),
             |casg AS (SELECT cell, sup FROM (
             |    SELECT c.cell, s.sup,
             |      row_number() OVER (PARTITION BY c.cell ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (c.cellv[i] - s.supv[i]) * (c.cellv[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM cells c, sup s) WHERE rn = 1),
             |psup AS (SELECT vec_id, sup FROM (
             |    SELECT e.vec_id, s.sup,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - s.supv[i]) * (e.v[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM e, sup s) WHERE rn = 1),
             |asg AS (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS rn
             |    FROM e
             |    JOIN psup p ON p.vec_id = e.vec_id
             |    JOIN casg ca ON ca.sup = p.sup
             |    JOIN cells c ON c.cell = ca.cell) WHERE rn = 1),
             |nm AS (SELECT e.vec_id, a.cell,
             |    list_transform(e.v, x -> x / sqrt(list_reduce(
             |      list_prepend(0.0, list_transform(range(1, 65),
             |        i -> e.v[i] * e.v[i])), (acc, x) -> acc + x))) AS nv
             |  FROM e JOIN asg a USING (vec_id)),
             |p AS (
             |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65), i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM nm a JOIN nm b ON a.cell = b.cell
             |    AND a.vec_id < b.vec_id)
             |SELECT cell, id_a, id_b, cos,
             |  CASE WHEN cos >= 0.9 THEN id_b END AS drop_id
             |FROM p ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // D14b (round-14): SemDeDup with the PAPER-EXACT drop rule — of a
    // pair above threshold, drop the member FARTHER from its cell
    // centroid (Abbas et al. 2023 §2: keep the point closest to the
    // centroid as the cluster-representative), not the d7
    // keep-lowest-id convention d14 uses. The centroid distance is the
    // same squared-L2 the assignment argmin already computed, carried
    // r6-rounded so the farther/closer comparison replays cross-engine
    // (ties → higher id, a shared total order). Same Σ|cell|² shape,
    // zero extra distance passes; a LOWER threshold than d14 so the
    // two rules visibly diverge on pairs the hash would otherwise
    // never see. Rides the round-16 hierarchical-by-default
    // assignment switch exactly as d14 (see the d14 note); the dd the
    // paper rule compares is the distance to the SWITCH-chosen cell,
    // replayed in whichever oracle branch the corpus count selects.
    Q("d14b_semdedup_paper",
      (s, dir) => {
        import s.implicits._
        graft.sim.SemDedup.pairs(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", dims = 64, nCells = 0, threshold = 0.7,
            paperRule = true, targetCell = 64)
          .orderBy(desc("cos"), $"id_a", $"id_b")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nc AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS BIGINT))
             |         AS k FROM e),
             |hs AS (SELECT vec_id, v,
             |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM e),
             |cells AS (SELECT v AS cellv,
             |    row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
             |  FROM hs ORDER BY h, vec_id
             |  LIMIT greatest(1, CAST(ceil(
             |    (SELECT count(*) FROM e) / 64.0) AS BIGINT))),
             |fasg AS (SELECT vec_id, cell, round(cd2 + 1e-9, 6) AS dd
             |  FROM (
             |    SELECT e.vec_id, c.cell,
             |      list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65),
             |          i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |        (acc, x) -> acc + x) AS cd2,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS rn
             |    FROM e, cells c
             |    WHERE (SELECT k FROM nc) <= 4) WHERE rn = 1),
             |sup AS (SELECT cellv AS supv, cell AS sup FROM cells
             |  WHERE cell < (SELECT CAST(ceil(sqrt(k)) AS BIGINT) FROM nc)),
             |casg AS (SELECT cell, sup FROM (
             |    SELECT c.cell, s.sup,
             |      row_number() OVER (PARTITION BY c.cell ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (c.cellv[i] - s.supv[i]) * (c.cellv[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM cells c, sup s) WHERE rn = 1),
             |psup AS (SELECT vec_id, sup FROM (
             |    SELECT e.vec_id, s.sup,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - s.supv[i]) * (e.v[i] - s.supv[i]))),
             |          (acc, x) -> acc + x), s.sup) AS rn
             |    FROM e, sup s
             |    WHERE (SELECT k FROM nc) > 4) WHERE rn = 1),
             |hasg AS (SELECT vec_id, cell, round(cd2 + 1e-9, 6) AS dd
             |  FROM (
             |    SELECT e.vec_id, c.cell,
             |      list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65),
             |          i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |        (acc, x) -> acc + x) AS cd2,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 65),
             |            i -> (e.v[i] - c.cellv[i]) * (e.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS rn
             |    FROM e
             |    JOIN psup p ON p.vec_id = e.vec_id
             |    JOIN casg ca ON ca.sup = p.sup
             |    JOIN cells c ON c.cell = ca.cell) WHERE rn = 1),
             |asg AS (SELECT vec_id, cell, dd FROM fasg
             |  UNION ALL SELECT vec_id, cell, dd FROM hasg),
             |nm AS (SELECT e.vec_id, a.cell, a.dd,
             |    list_transform(e.v, x -> x / sqrt(list_reduce(
             |      list_prepend(0.0, list_transform(range(1, 65),
             |        i -> e.v[i] * e.v[i])), (acc, x) -> acc + x))) AS nv
             |  FROM e JOIN asg a USING (vec_id)),
             |p AS (
             |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
             |    a.dd AS da, b.dd AS db,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65), i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM nm a JOIN nm b ON a.cell = b.cell
             |    AND a.vec_id < b.vec_id)
             |SELECT cell, id_a, id_b, cos,
             |  CASE WHEN cos >= 0.7 THEN
             |    (CASE WHEN da > db THEN id_a
             |          WHEN da < db THEN id_b ELSE id_b END)
             |  END AS drop_id
             |FROM p ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // Duplicate-cluster-BALANCED sampling — the alternative to d7's
    // hard drop: instead of keeping one representative per dup
    // cluster, sample the corpus with per-doc weight 1/cluster_size
    // (deterministic A-Res, the t20 machinery: rank key u^(1/w) =
    // u^cluster_size — an INTEGER exponent, exact on both engines), so
    // a 5-way duplicated page gets one-fifth the selection pressure
    // and the sample's cluster distribution is unbiased. Composes the
    // d6 components with the t20 sampler; top-k is a bounded heap
    // (TakeOrderedAndProject), never a global sort.
    Q("d13_balanced_sample",
      (s, dir) => {
        import s.implicits._
        val edges = verifiedPairs(s, dir)
          .filter($"jaccard" >= 0.5)
          .select($"id_a", $"id_b")
        val comp = Dedup.components(edges)
        val sizes = comp.groupBy($"cluster")
          .agg(count(lit(1)).as("cluster_size"))
        val keyed = Tables.documents(s, dir).select($"doc_id", $"text")
          .join(comp.select($"id".as("doc_id"), $"cluster"),
            Seq("doc_id"), "left")
          .join(broadcast(sizes), Seq("cluster"), "left")
          .select($"doc_id",
            coalesce($"cluster", $"doc_id").as("cluster"),
            coalesce($"cluster_size", lit(1L)).as("cluster_size"),
            ((pmod(graft.text.TextOps.hash60($"text"), lit(1000000L))
              .cast("double") + 0.5) / 1e6).as("u"))
          .withColumn("akey",
            r6(pow($"u", $"cluster_size".cast("double"))))
        keyed.orderBy(desc("akey"), $"doc_id").limit(50)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("akey"), $"doc_id")))
          .select($"doc_id", $"cluster", $"cluster_size", $"akey", $"rank")
      },
      Some(s"""WITH RECURSIVE $OracleSig,
              |$OracleBand,
              |cand AS (
              |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS n_inter
              |  FROM cand c
              |  JOIN sh sa ON sa.id = c.id_a
              |  JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
              |  GROUP BY 1, 2),
              |ed AS (
              |  SELECT c.id_a, c.id_b
              |  FROM cand c
              |  LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  JOIN sizes za ON za.id = c.id_a
              |  JOIN sizes zb ON zb.id = c.id_b
              |  WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              |        / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= 0.5),
              |sym AS (
              |  SELECT id_a AS a, id_b AS b FROM ed
              |  UNION SELECT id_b, id_a FROM ed
              |  UNION SELECT id_a, id_a FROM ed
              |  UNION SELECT id_b, id_b FROM ed),
              |reach(a, b) AS (
              |  SELECT a, b FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
              |comp AS (SELECT a AS doc_id, min(b) AS cluster
              |         FROM reach GROUP BY a),
              |cs AS (SELECT cluster, count(*) AS cluster_size
              |       FROM comp GROUP BY cluster),
              |docs AS (
              |  SELECT d.doc_id,
              |    coalesce(comp.cluster, d.doc_id) AS cluster,
              |    coalesce(cs.cluster_size, 1) AS cluster_size,
              |    (CAST(CAST(('0x' || substr(md5(d.text), 1, 15)) AS BIGINT)
              |       % 1000000 AS DOUBLE) + 0.5) / 1e6 AS u
              |  FROM documents d
              |  LEFT JOIN comp ON comp.doc_id = d.doc_id
              |  LEFT JOIN cs ON cs.cluster = comp.cluster),
              |k AS (
              |  SELECT doc_id, cluster, cluster_size,
              |    round(pow(u, CAST(cluster_size AS DOUBLE)) + 1e-9, 6)
              |      AS akey
              |  FROM docs),
              |rk AS (SELECT *, row_number()
              |    OVER (ORDER BY akey DESC, doc_id) AS rank FROM k)
              |SELECT doc_id, cluster, cluster_size, akey, rank
              |FROM rk WHERE rank <= 50""".stripMargin)),

    // SimHash 32-bit signatures (near-dup via signature equality /
    // low Hamming distance).
    Q("d3_simhash",
      (s, dir) => Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |          FROM documents),
             |tok AS (SELECT doc_id AS id, unnest(ts) AS tok FROM d),
             |tw AS (SELECT id, tok, count(*) AS w FROM tok GROUP BY 1, 2),
             |th AS (SELECT id, w,
             |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4294967296 AS h
             |  FROM tw),
             |bits AS (
             |  SELECT id, b, sum(w * (((h >> b) & 1) * 2 - 1)) AS s
             |  FROM th, (SELECT unnest(range(0, 32)) AS b)
             |  GROUP BY 1, 2)
             |SELECT id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
             |                         ELSE 0 END) AS BIGINT) AS simhash
             |FROM bits GROUP BY id""".stripMargin)),

    // Blocked n-gram Jaccard near-dup, BOUNDED fan-out (Dedup.
    // blockedNgramNearDup): stop-shingle df cap (>64 docs/block) +
    // candidates only from co-shingle collisions + per-doc top-5 via the
    // bounded heap. Pair work ≤ maxDf × shingle rows (linear), output
    // ≤ docs × 5 — no block size can go quadratic. Ranking key is the
    // raw int-ratio jaccard (bit-identical across engines) with id_b
    // tie-break, so the oracle's row_number reproduces cand_rank.
    // Content-defined chunking dedup (the FastCDC/rsync idea on token
    // streams): 3-gram rolling hashes, a chunk boundary wherever
    // hash % 8 == 0 (content-defined, so an insertion early in a doc
    // re-aligns at the next boundary instead of shifting every chunk —
    // the property fixed-size chunking lacks), chunk fingerprints, and
    // doc pairs sharing ≥ 2 chunks — PARTIAL-overlap duplicate
    // detection, the class the whole-document d-ops can't see.
    // Scale shape: gram/boundary/fingerprint stages are all doc-keyed
    // narrow ops + one (doc, chunk) aggregate; the pair join is
    // bounded by a 2..10 docs-per-fingerprint band (the d4 df-cap
    // idea — megachunk boilerplate is excluded, not joined).
    Q("d12_shared_chunks",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")
        // token arrays MATERIALIZED before the gram lambda references
        // them 3× per element (the t14 CollapseProject hazard: an
        // inlined split() re-evaluates per lambda reference — measured
        // 18s vs 5s at sf0.1 on this very query before the barrier)
        val toks = Fixpoint.cut(Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("ts")))
        // compiled gram kernel (round-21): the transform(sequence,
        // …md5…) HOF walked an interpreted tree per position — GramHash
        val grams = toks
          .select($"doc_id", graft.text.GramHash($"ts", 3).as("ghs"))
          .select($"doc_id", posexplode($"ghs").as(Seq("pos0", "gh")))
          .select($"doc_id", ($"pos0" + 1).as("pos"), $"gh")
        // checkpointed: the df-band filter and BOTH self-join sides
        // read it — without the barrier the whole token→chunk pipeline
        // would re-run ×4
        val chunks = Fixpoint.cut(grams
          .withColumn("chunk_no", sum(
            when($"gh" % 8 === 0 || $"pos" === 1, 1L).otherwise(0L)).over(w))
          .groupBy($"doc_id", $"chunk_no")
          .agg(md5(array_join(transform(
            array_sort(collect_list(struct($"pos", $"gh".as("g")))),
            x => x("g").cast("string")), ",")).as("fp")))
        val banded = chunks.join(
          chunks.groupBy($"fp").agg(countDistinct($"doc_id").as("ndocs"))
            .filter($"ndocs".between(2, 10)).select($"fp"), "fp")
        banded.as("a").join(banded.as("b"),
            $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= 2)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, u.pos,
             |    CAST(('0x' || substr(md5(ts[u.pos] || ' ' || ts[u.pos+1]
             |      || ' ' || ts[u.pos+2]), 1, 15)) AS BIGINT) AS gh
             |  FROM d, LATERAL unnest(range(1, len(ts) - 1)) AS u(pos)),
             |b AS (
             |  SELECT doc_id, pos, gh,
             |    sum(CASE WHEN gh % 8 = 0 OR pos = 1 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
             |  FROM g),
             |ch AS (
             |  SELECT doc_id, chunk_no,
             |    md5(string_agg(CAST(gh AS VARCHAR), ',' ORDER BY pos)) AS fp
             |  FROM b GROUP BY 1, 2),
             |keep AS (SELECT fp FROM ch GROUP BY fp
             |         HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
             |k AS (SELECT ch.* FROM ch JOIN keep USING (fp))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  count(*) AS n_shared
             |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // D15 (round-14): SPAN-level dedup — anchor-diagonal detection of
    // verbatim copied spans (the Lee et al. 2022 substring-dedup
    // shape; dedup/Dedup.spanMatches carries the design note). Token
    // 3-gram anchors at stride 1, DF-banded 2..10 (the d12 fan-out
    // bound), matched pairs grouped on the pa−pb diagonal, longest
    // consecutive run per diagonal via gaps-and-islands (the w12
    // idiom) — a pair reports the longest shared span in TOKENS, the
    // quantity doc-level Jaccard (d4) and chunk fingerprints (d12)
    // cannot see when the span straddles chunk boundaries. Keep
    // pairs with a span of ≥ 5 tokens.
    Q("d15_span_dedup",
      (s, dir) => {
        import s.implicits._
        graft.dedup.Dedup.spanMatches(
            Tables.documents(s, dir), "doc_id", "text", dfMax = 10)
          .filter($"longest_run_tokens" >= 5)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, u.pos,
             |    CAST(('0x' || substr(md5(ts[u.pos] || ' ' || ts[u.pos+1]
             |      || ' ' || ts[u.pos+2]), 1, 15)) AS BIGINT) AS gh
             |  FROM d, LATERAL unnest(range(1, len(ts) - 1)) AS u(pos)),
             |keep AS (SELECT gh FROM g GROUP BY gh
             |         HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
             |k AS (SELECT g.* FROM g JOIN keep USING (gh)),
             |m AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    a.pos AS pa, a.pos - b.pos AS diag
             |  FROM k a JOIN k b ON a.gh = b.gh AND a.doc_id < b.doc_id),
             |r AS (
             |  SELECT doc_a, doc_b, diag, pa,
             |    pa - row_number() OVER (
             |      PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
             |  FROM m),
             |runs AS (
             |  SELECT doc_a, doc_b, diag, grp, count(*) AS run_anchors
             |  FROM r GROUP BY 1, 2, 3, 4)
             |SELECT doc_a, doc_b,
             |  CAST(sum(run_anchors) AS BIGINT) AS n_anchor_matches,
             |  CAST(count(DISTINCT diag) AS BIGINT) AS n_diagonals,
             |  CAST(max(run_anchors) + 2 AS BIGINT) AS longest_run_tokens
             |FROM runs GROUP BY 1, 2 HAVING max(run_anchors) + 2 >= 5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("d4_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        Dedup.blockedNgramNearDup(Tables.documents(s, dir), "doc_id", "text",
            Seq("lang", "source"), ShingleN, maxDf = 64, perDocK = 5)
          .select($"lang", $"source", $"id_a", $"id_b",
            $"n_inter", $"n_a", $"n_b",
            r6($"jaccard").as("jaccard"), $"cand_rank")
      },
      Some("""WITH d AS (SELECT doc_id, lang, source,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |s AS (SELECT doc_id, lang, source,
             |    CASE WHEN len(ts) >= 3
             |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
             |                          for i in range(1, len(ts) - 1)])
             |      ELSE [] END AS shs
             |  FROM d),
             |ex AS (SELECT doc_id, lang, source, unnest(shs) AS sh FROM s),
             |dfq AS (SELECT lang, source, sh, count(*) AS dfreq
             |        FROM ex GROUP BY 1, 2, 3),
             |fx AS (SELECT ex.* FROM ex
             |       JOIN dfq ON dfq.lang = ex.lang AND dfq.source = ex.source
             |               AND dfq.sh = ex.sh
             |       WHERE dfq.dfreq <= 64),
             |sz AS (SELECT doc_id, lang, source, count(*) AS n
             |       FROM fx GROUP BY 1, 2, 3),
             |inter AS (
             |  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
             |    count(*) AS n_inter
             |  FROM fx a JOIN fx b
             |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |j AS (
             |  SELECT i.lang, i.source, i.id_a, i.id_b, i.n_inter,
             |    za.n AS n_a, zb.n AS n_b,
             |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jac
             |  FROM inter i
             |  JOIN sz za ON za.doc_id = i.id_a
             |  JOIN sz zb ON zb.doc_id = i.id_b),
             |rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY id_a
             |    ORDER BY jac DESC, id_b) AS cand_rank
             |  FROM j)
             |SELECT lang, source, id_a, id_b, n_inter, n_a, n_b,
             |  round(jac + 1e-9, 6) AS jaccard, cand_rank
             |FROM rk WHERE cand_rank <= 5""".stripMargin)),

    // D16 (round-14): CONTAINMENT near-dup — Broder's asymmetric
    // resemblance over the same df-capped co-shingle candidates as d4,
    // ranked by max(n_inter/n_a, n_inter/n_b) instead of Jaccard. A
    // short doc copied verbatim into a much longer one has containment
    // ~1.0 but Jaccard ≤ |A|/|B| — the doc-in-doc shape d4's threshold
    // misses by construction. Same Σ df² linear pair bound; the output
    // carries both containments AND jaccard so the asymmetric pairs
    // are visible.
    Q("d16_containment",
      (s, dir) => {
        import s.implicits._
        Dedup.containmentNearDup(Tables.documents(s, dir), "doc_id", "text",
            Seq("lang", "source"), ShingleN, maxDf = 64, minCont = 0.05,
            perDocK = 5)
          .select($"lang", $"source", $"id_a", $"id_b",
            $"n_inter", $"n_a", $"n_b",
            r6($"cont_a").as("cont_a"), r6($"cont_b").as("cont_b"),
            r6($"jaccard").as("jaccard"), $"cand_rank")
      },
      Some("""WITH d AS (SELECT doc_id, lang, source,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |s AS (SELECT doc_id, lang, source,
             |    CASE WHEN len(ts) >= 3
             |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
             |                          for i in range(1, len(ts) - 1)])
             |      ELSE [] END AS shs
             |  FROM d),
             |ex AS (SELECT doc_id, lang, source, unnest(shs) AS sh FROM s),
             |dfq AS (SELECT lang, source, sh, count(*) AS dfreq
             |        FROM ex GROUP BY 1, 2, 3),
             |fx AS (SELECT ex.* FROM ex
             |       JOIN dfq ON dfq.lang = ex.lang AND dfq.source = ex.source
             |               AND dfq.sh = ex.sh
             |       WHERE dfq.dfreq <= 64),
             |sz AS (SELECT doc_id, lang, source, count(*) AS n
             |       FROM fx GROUP BY 1, 2, 3),
             |inter AS (
             |  SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
             |    count(*) AS n_inter
             |  FROM fx a JOIN fx b
             |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |j AS (
             |  SELECT i.lang, i.source, i.id_a, i.id_b, i.n_inter,
             |    za.n AS n_a, zb.n AS n_b,
             |    CAST(i.n_inter AS DOUBLE) / za.n AS ca,
             |    CAST(i.n_inter AS DOUBLE) / zb.n AS cb,
             |    CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jac
             |  FROM inter i
             |  JOIN sz za ON za.doc_id = i.id_a
             |  JOIN sz zb ON zb.doc_id = i.id_b),
             |f AS (SELECT * FROM j WHERE greatest(ca, cb) >= 0.05),
             |rk AS (
             |  SELECT *, row_number() OVER (PARTITION BY id_a
             |    ORDER BY greatest(ca, cb) DESC, id_b) AS cand_rank
             |  FROM f)
             |SELECT lang, source, id_a, id_b, n_inter, n_a, n_b,
             |  round(ca + 1e-9, 6) AS cont_a, round(cb + 1e-9, 6) AS cont_b,
             |  round(jac + 1e-9, 6) AS jaccard, cand_rank
             |FROM rk WHERE cand_rank <= 5""".stripMargin)),

    // D8 (beyond-reference, LLM pipeline): benchmark decontamination —
    // docs 0-19 stand in for an eval set; corpus docs sharing >= 2
    // distinct 3-gram shingles with a benchmark doc are flagged with
    // the overlap count and ratio. Benchmark shingles broadcast;
    // corpus side is linear (one explode + broadcast join + agg).
    Q("d8_decontaminate",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Dedup.decontaminate(
            docs.filter($"doc_id" >= 20), docs.filter($"doc_id" < 20),
            "doc_id", "text", ShingleN)
          .filter($"n_overlap" >= 2)
          .select($"doc_id", $"bench_id", $"n_overlap", $"n_doc",
            r6($"overlap_ratio").as("overlap_ratio"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |s AS (SELECT doc_id,
             |    CASE WHEN len(ts) >= 3
             |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
             |                          for i in range(1, len(ts) - 1)])
             |      ELSE [] END AS shs
             |  FROM d),
             |ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
             |c AS (SELECT * FROM ex WHERE doc_id >= 20),
             |b AS (SELECT doc_id AS bench_id, sh FROM ex WHERE doc_id < 20),
             |sz AS (SELECT doc_id, count(*) AS n_doc FROM c GROUP BY 1),
             |ov AS (SELECT c.doc_id, b.bench_id, count(*) AS n_overlap
             |       FROM c JOIN b USING (sh) GROUP BY 1, 2)
             |SELECT ov.doc_id, ov.bench_id, ov.n_overlap, sz.n_doc,
             |  round(CAST(ov.n_overlap AS DOUBLE) / sz.n_doc + 1e-9, 6)
             |    AS overlap_ratio
             |FROM ov JOIN sz ON sz.doc_id = ov.doc_id
             |WHERE ov.n_overlap >= 2""".stripMargin)),

    // Embedding near-dup: top-20 most-cosine-similar CANDIDATE pairs —
    // candidates only from (label, sign-bucket) cells with Hamming-1
    // multi-probe (Similarity.nearDupPairs), never a label-blocked
    // all-pairs join; global top-20 via TakeOrderedAndProject.
    Q("d5_embedding_neardup",
      (s, dir) => {
        import s.implicits._
        Similarity.nearDupPairs(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v")),
            "label", "vec_id", "v", nBits = 4)
          .withColumn("cos", r6($"cos"))
          .orderBy(desc("cos"), $"id_a", $"id_b")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nm AS (SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |bk AS (SELECT vec_id, label,
             |    list_transform(v, x -> x / nrm) AS nv,
             |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) +
             |    (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) +
             |    (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
             |  FROM nm),
             |q AS (SELECT vec_id, label, nv,
             |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
             |            xor(bucket, 4), xor(bucket, 8)]) AS probe
             |  FROM bk),
             |p AS (
             |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(a.nv) + 1), i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM q a JOIN bk b ON a.label = b.label AND a.probe = b.bucket
             |    AND a.vec_id < b.vec_id)
             |SELECT label, id_a, id_b, cos FROM p
             |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // D20 (round-18): d5's hyperplane LSH with the bucket width
    // DERIVED from the corpus count — the widenFactor lesson applied
    // to the embedding tier. d5 pins nBits=4, which the sf3d decade
    // measured as the scaling soft spot: 16 cells × 10 labels left
    // ~1.3k vectors per cell at 200k vectors and the candidate stage
    // went near-linear per decade. Similarity.adaptiveBits picks the
    // smallest b in [4,16] with 2^b ≥ n/64 (avg cell ≤ 64), and the
    // oracle replays the DERIVATION as a count-guarded CASE ladder
    // (the mm12 w-switch idiom): sf0.01's 500 vectors take b=4 —
    // byte-identical to d5 — and sf0.1's 2000 take b=5, so the
    // adaptive switch itself is under hash at both SFs. Candidate
    // semantics unchanged (Hamming-≤1 multi-probe: the SQL's
    // bit_count(xor) ≤ 1 is exactly the Scala probe-list join, since
    // both buckets sit below 2^b). Capped at 16 bits — past that the
    // right scale move is IVF (s7/s17), not more axis hyperplanes.
    Q("d20_embedding_neardup_adaptive",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
          .select($"vec_id", $"label",
            $"embedding".cast("array<double>").as("v"))
        // one count() sizes the bucket space — the same bounded
        // driver scalar hammingPairs takes (BandedLsh scaladoc)
        val bits = Similarity.adaptiveBits(emb.count())
        Similarity.nearDupPairs(emb, "label", "vec_id", "v", nBits = bits)
          .withColumn("cos", r6($"cos"))
          .orderBy(desc("cos"), $"id_a", $"id_b")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nn AS (SELECT count(*) AS n FROM e),
             |bb AS (SELECT CASE
             |    WHEN n <= 1024 THEN 4 WHEN n <= 2048 THEN 5
             |    WHEN n <= 4096 THEN 6 WHEN n <= 8192 THEN 7
             |    WHEN n <= 16384 THEN 8 WHEN n <= 32768 THEN 9
             |    WHEN n <= 65536 THEN 10 WHEN n <= 131072 THEN 11
             |    WHEN n <= 262144 THEN 12 WHEN n <= 524288 THEN 13
             |    WHEN n <= 1048576 THEN 14 WHEN n <= 2097152 THEN 15
             |    ELSE 16 END AS bits
             |  FROM nn),
             |nm AS (SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |bk AS (SELECT vec_id, label,
             |    list_transform(v, x -> x / nrm) AS nv,
             |    CAST(list_reduce(list_prepend(0,
             |      list_transform(range(1, bb.bits + 1),
             |        i -> CASE WHEN v[i] >= 0 THEN (1 << (i - 1)) ELSE 0 END)),
             |      (acc, x) -> acc + x) AS BIGINT) AS bucket
             |  FROM nm, bb),
             |p AS (
             |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(a.nv) + 1),
             |          i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM bk a JOIN bk b ON a.label = b.label
             |    AND a.vec_id < b.vec_id
             |  WHERE bit_count(xor(a.bucket, b.bucket)) <= 1)
             |SELECT label, id_a, id_b, cos FROM p
             |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // Bloom-prefiltered decontamination KEEP-LIST (the 100 TB form of
    // d8's end product): the eval set's shingles aggregate into a
    // fixed-size bloom sketch (Spark's own BloomFilterAggregate) that
    // ships to every corpus task as a plan literal; corpus shingles
    // failing the probe never reach the exact overlap join, and the
    // join itself kills the sketch's false positives — result-identical
    // to the plain exact pass (no false negatives), so the oracle is
    // the exact SQL. Output: corpus docs NOT sharing >= 2 distinct
    // 3-gram shingles with any benchmark doc.
    Q("d10_bloom_keep",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        // persisted: read 3× (sizing count, sketch aggregate, exact
        // verify join) — eval-set sized, released by PersistRegistry
        val benchSh = graft.io.PersistRegistry.trackPersist(
          Dedup.shingleRows(
              docs.filter($"doc_id" < 20), "doc_id", "text", ShingleN)
            .select($"id".as("bench_id"), $"sh"))
        val nBench = benchSh.count()
        val bloom = graft.dedup.Bloom.buildBytes(benchSh, $"sh",
          expectedItems = math.max(nBench, 64L), numBits = math.max(nBench, 64L) * 16L)
        val corpus = docs.filter($"doc_id" >= 20)
        val drop = Dedup.shingleRows(corpus, "doc_id", "text", ShingleN)
          .filter(graft.dedup.Bloom.mightContain(bloom, $"sh"))
          .join(broadcast(benchSh), Seq("sh"))
          .groupBy($"id", $"bench_id").agg(count(lit(1)).as("n_overlap"))
          .filter($"n_overlap" >= 2)
          .select($"id".as("doc_id")).distinct()
        // drop is bounded by eval-set contamination (tiny vs corpus):
        // broadcast it so the kept corpus never shuffles for the anti
        corpus.select($"doc_id", $"lang", $"source")
          .join(broadcast(drop), Seq("doc_id"), "left_anti")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |s AS (SELECT doc_id,
             |    CASE WHEN len(ts) >= 3
             |      THEN list_distinct([array_to_string(ts[i:i+2], ' ')
             |                          for i in range(1, len(ts) - 1)])
             |      ELSE [] END AS shs
             |  FROM d),
             |ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
             |ov AS (SELECT c.doc_id
             |       FROM ex c JOIN ex b ON c.sh = b.sh
             |       WHERE c.doc_id >= 20 AND b.doc_id < 20
             |       GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id >= 20
             |  AND doc_id NOT IN (SELECT doc_id FROM ov)""".stripMargin)),

    // BM25 top-k retrieval (graft.text.Bm25): lexical search over the
    // corpus for a bag-of-terms query. Query terms are pushed into the
    // token explode (hit rows only), df/N/avgdl broadcast, top-k is
    // TakeOrderedAndProject. avgdl enters the score pre-rounded so the
    // per-row arithmetic is engine-identical; k1=1.5 / b=0.75 are exact
    // binary64 constants mirrored literally in the oracle.
    Q("s4_bm25",
      (s, dir) => graft.text.Bm25.topK(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "join", "window", "hash"), k = 20),
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |    round(avg(len(ts)) + 1e-9, 4) AS avgdl FROM d),
             |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
             |             FROM d)
             |       WHERE term IN ('spark', 'join', 'window', 'hash')
             |       GROUP BY 1, 2, 3),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, count(*) AS n_terms,
             |    round(sum(
             |      ln(((st.n_docs - dfq.df) + CAST(0.5 AS DOUBLE))
             |         / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             |      * (tf.tf * (CAST(1.5 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             |      / (tf.tf + CAST(1.5 AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl))
             |    ) + 1e-9, 6) AS score
             |  FROM tf JOIN dfq USING (term), st
             |  GROUP BY tf.doc_id),
             |rk AS (SELECT doc_id, n_terms, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
             |  FROM sc)
             |SELECT doc_id, n_terms, score FROM rk
             |WHERE rn <= 20""".stripMargin)),

    // Brute-force cosine top-k (exact ANN baseline): queries broadcast,
    // corpus scanned once, per-query heap top-k.
    Q("s1_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val queries = e.filter($"vec_id" < 10)
        Similarity.cosineTopK(e, queries, "vec_id", "v", 5)
          .select($"query_id", $"corpus_id", r6($"cos").as("cos"), $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nm AS (SELECT vec_id, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM nm),
             |q AS (SELECT vec_id AS query_id, nv AS qv FROM nv WHERE vec_id < 10),
             |sc AS (
             |  SELECT q.query_id, nv.vec_id AS corpus_id,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(qv) + 1), i -> qv[i] * nv.nv[i])),
             |        (acc, x) -> acc + x) AS cos
             |  FROM q, nv WHERE q.query_id <> nv.vec_id),
             |rk AS (
             |  SELECT query_id, corpus_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, corpus_id) AS rank
             |  FROM sc)
             |SELECT query_id, corpus_id, round(cos + 1e-9, 6) AS cos, rank
             |FROM rk WHERE rank <= 5""".stripMargin)),

    // S13 (round 12): MMR diversity rerank (Carbonell & Goldstein
    // 1998) over the s1 shortlist — greedily pick 5 of each query's
    // top-20 maximizing λ·rel − (1−λ)·max-sim-to-selected (λ=0.7), so
    // the result covers the neighborhood instead of returning five
    // near-duplicates (diverse exemplar selection for training data).
    // The greedy loop is k=5 relational rounds over the BOUNDED pool;
    // the expensive part stays the shortlist build (the audited s1
    // shape). Picks argmax on r6-rounded scores (ties → smaller id),
    // so the whole greedy TRAJECTORY replays in DuckDB (sim/Mmr
    // .oracleSqlSuffix) and pick order itself is hash-checked.
    Q("s13_mmr_diverse",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val queries = e.filter($"vec_id" < 3)
        val pool = PersistRegistry.trackPersist(
          Similarity.cosineTopK(e, queries, "vec_id", "v", 20)
            .select($"query_id", $"corpus_id", $"cos".as("rel")))
        val nv = Similarity.withNormalized(e, "v", "nv")
          .select($"vec_id", $"nv")
        val a = pool.select($"query_id", $"corpus_id".as("a"))
          .join(nv.withColumnRenamed("vec_id", "a"), "a")
          .withColumnRenamed("nv", "va")
        val b = pool.select($"query_id", $"corpus_id".as("b"))
          .join(nv.withColumnRenamed("vec_id", "b"), "b")
          .withColumnRenamed("nv", "vb")
        val pcos = a.join(b, "query_id").filter($"a" =!= $"b")
          .select($"query_id", $"a", $"b",
            Similarity.dot($"va", $"vb").as("c"))
        graft.sim.Mmr.run(pool, pcos, k = 5, lam = 0.7)
          .select($"query_id", $"pick", $"corpus_id",
            r6($"score").as("score"))
          .orderBy($"query_id", $"pick")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              |          FROM embeddings),
              |nm AS (SELECT vec_id, v,
              |    sqrt(list_reduce(list_prepend(0.0,
              |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
              |      (acc, x) -> acc + x)) AS nrm
              |  FROM e),
              |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv
              |       FROM nm),
              |q AS (SELECT vec_id AS query_id, nv AS qv FROM nv
              |      WHERE vec_id < 3),
              |sc AS (
              |  SELECT q.query_id, nv.vec_id AS corpus_id,
              |    list_reduce(list_prepend(0.0,
              |        list_transform(range(1, len(qv) + 1),
              |          i -> qv[i] * nv.nv[i])),
              |        (acc, x) -> acc + x) AS cos
              |  FROM q, nv WHERE q.query_id <> nv.vec_id),
              |pool AS MATERIALIZED (
              |  SELECT query_id, corpus_id, cos AS rel FROM (
              |    SELECT query_id, corpus_id, cos,
              |      row_number() OVER (PARTITION BY query_id
              |        ORDER BY cos DESC, corpus_id) AS rank
              |    FROM sc) WHERE rank <= 20),
              |pcos AS MATERIALIZED (
              |  SELECT pa.query_id, pa.corpus_id AS a, pb.corpus_id AS b,
              |    list_reduce(list_prepend(0.0,
              |        list_transform(range(1, len(na.nv) + 1),
              |          i -> na.nv[i] * nb.nv[i])),
              |        (acc, x) -> acc + x) AS c
              |  FROM pool pa
              |  JOIN pool pb ON pb.query_id = pa.query_id
              |    AND pb.corpus_id <> pa.corpus_id
              |  JOIN nv na ON na.vec_id = pa.corpus_id
              |  JOIN nv nb ON nb.vec_id = pb.corpus_id),
              |${graft.sim.Mmr.oracleSqlSuffix(5,
                  "CAST(0.7 AS DOUBLE)", "CAST(0.3 AS DOUBLE)")}
              |SELECT query_id, pick, corpus_id,
              |  round(score + 1e-9, 6) AS score
              |FROM sel_5 ORDER BY query_id, pick""".stripMargin)),

    // IVF ANN (graft.sim.IvfAnn): each query probes its nprobe NEAREST
    // cells — the standard IVF recall knob. The declared query uses the
    // PORTABLE md5-order coarse fit (IvfPq.coarseCells, the s7/s8/s12
    // convention) so the full fit→assign→probe→rank pipeline is
    // hash-checked against DuckDB end-to-end (round-11: retired the
    // former rows-only pin); the trained-KMeans quantizer (IvfAnn.fit,
    // seed 42) remains the production path, with its recall floors
    // asserted in AnnRecallSpec and save/load round-trip in specs.
    Q("s3_ann_ivf",
      (s, dir) => {
        import s.implicits._
        graft.sim.IvfAnn.portableTopK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, nCells = 8, nprobe = 3, dims = 64)
          .select($"query_id", $"cell", $"corpus_id", r6($"cos").as("cos"), $"rank")
      },
      Some(graft.sim.IvfAnn.portableOracleSql(
        k = 5, nCells = 8, nprobe = 3, dims = 64,
        queryPredSql = "vec_id < 10"))),

    // S16 (round-14): FILTERED vector search — s3's portable IVF with
    // a metadata predicate on the candidate scan (the
    // pgvector/Qdrant-style "filtered ANN" every production vector
    // store exposes). The coarse cells, corpus assignment and query
    // probes are fit on the FULL corpus — one shared index serves
    // every predicate — and the filter prunes inside the probed cells
    // BEFORE any distance is scored, so selectivity directly cuts
    // scan work instead of post-filtering a top-k that may then run
    // dry (the classic filtered-ANN failure). Same output surface as
    // s3, hash-checked end to end with the filter replayed in SQL.
    Q("s16_filtered_ann",
      (s, dir) => {
        import s.implicits._
        graft.sim.IvfAnn.portableTopK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"label",
                $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, nCells = 8, nprobe = 3, dims = 64,
            corpusPred = Some(col("label") === 2))
          .select($"query_id", $"cell", $"corpus_id", r6($"cos").as("cos"), $"rank")
      },
      Some(graft.sim.IvfAnn.portableOracleSql(
        k = 5, nCells = 8, nprobe = 3, dims = 64,
        queryPredSql = "vec_id < 10", corpusPredSql = "label = 2"))),

    // S17 (round-16): HIERARCHICAL IVF ANN — the d14c two-level
    // routing applied to SEARCH. Flat IVF's assignment and probing
    // both scan all nCells centroids per vector; with the adaptive
    // nCells = ⌈n/64⌉ rule that is n²/64 distance evaluations — the
    // same stage d14c measured 8× vs 1.4× warm at 10× data. Here
    // corpus rows AND queries route point → nearest super-cell
    // (⌈√nCells⌉ of them, the md5-order prefix) → that super's member
    // cells, so the whole index build and probe path is n·O(√nCells).
    // The recall trade (a boundary query probes only its super's
    // cells) is the standard two-level IVF argument and is replayed
    // verbatim by the oracle, so the approximation itself is
    // hash-checked end to end at both gate SFs. nprobeSup=2 probes
    // the two nearest supers per query — 2S extra distances buys back
    // most of the flat recall (AnnRecallSpec: 0.38 at nprobeSup=1 vs
    // flat s3's 0.56). nAssignSup=3 routes each CORPUS point to its
    // nearest cell under its THREE nearest supers — a boundary point
    // whose true cell lives across a super boundary becomes reachable
    // from any side — at a bounded ×3 inverted-list duplication,
    // deduplicated before the re-rank (both the dup and the dedup
    // replay in the oracle). Knobs re-derived in round 18 from the
    // tools/AnnKnobs grid: the r17 setting (nprobe=3, nAssignSup=2)
    // measured recall@5 = 0.74 at sf0.01 but only 0.38 at
    // sf0.1's 32-cell index — recall at FIXED nprobe falls as the
    // adaptive cell count grows. (nprobe=8, nprobeSup=2,
    // nAssignSup=3) measures 1.00 at sf0.01 and 0.84 at sf0.1 at
    // unchanged wall time (~2.4s): probing ~25% of cells, the
    // standard IVF recall/scan trade on weakly-clustered vectors.
    // Round-19 (VERDICT item 5): BOTH probe widths became DERIVED
    // knobs like d20's bucket bits — np = max(8, ⌈2·√nCells⌉) and
    // nps = max(2, ⌈√S⌉) with S = ⌈√nCells⌉ supers, each derivation
    // replayed in the oracle — because nCells is count-adaptive and a
    // fixed probe width decays one recall cliff per decade (r17's
    // 0.74→0.38 at 32 cells; a pinned 8 is 0.26% of sf3d's 3125
    // cells). The probed fraction stays ≈ 2/√nCells, the same O(√n)
    // envelope as the hierarchical routing, so cost and recall now
    // scale together. AnnKnobs grid (SCALING.md): sf0.1 recall@5
    // 0.84 fixed → 0.92 derived (np 12, nps 3); sf3d 0.42 fixed →
    // 1.00 derived (np 112, nps 8) at unchanged wall.
    Q("s17_ann_ivf_hier",
      (s, dir) => {
        import s.implicits._
        graft.sim.IvfAnn.hierTopK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, targetCell = 64, nprobe = 8, dims = 64, nprobeSup = 2,
            nAssignSup = 3, nprobeScale = 2.0)
          .select($"query_id", $"cell", $"corpus_id", r6($"cos").as("cos"),
            $"rank")
      },
      Some(graft.sim.IvfAnn.hierOracleSql(
        k = 5, targetCell = 64, nprobe = 8, dims = 64,
        queryPredSql = "e.vec_id < 10", nprobeSup = 2, nAssignSup = 3,
        nprobeScale = 2.0))),

    // Product quantization + exact re-rank (sim.Pq): 64-dim embeddings
    // → 16 subspaces × 64 centroids, corpus stored as 16 small ints per
    // vector (16× compression); queries scan CODES via per-query ADC
    // lookup tables (O(m) reads per pair instead of O(D) multiplies),
    // keep a 50-candidate shortlist, and re-rank only those with true
    // L2 (the standard IVF-PQ deployment; PqSpec pins recall ≥ 0.8 —
    // measured 0.94 — vs 0.4 without the re-rank). Centroids are a
    // portable md5-hash-order sample — NOT seeded KMeans — precisely so
    // the full pipeline (codebook → codes → ADC shortlist → re-rank) is
    // reproducible in SQL and hash-checked. All distances are
    // fixed-order folds; the subspace terms are summed in subspace
    // order on both engines.
    Q("s7_pq_topk",
      (s, dir) => {
        import s.implicits._
        graft.sim.Pq.rerankTopK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, kShort = 50, m = 16, nCentroids = 64, dims = 64)
          .select($"query_id", $"corpus_id", r6($"d2").as("d2"), $"rank")
      },
      Some(graft.sim.Pq.rerankOracleSql(
        k = 5, kShort = 50, m = 16, nCentroids = 64, dims = 64,
        queryPredSql = "vec_id < 10"))),

    // IVF-PQ (round-10 judge item 3): s3's cell shortlisting composed
    // with s7's code compression — the ADC pass scans only the nprobe
    // probed cells instead of s7's full codes table, then exactly
    // re-ranks the shortlist. Same md5-order portable fit for BOTH
    // tiers, so the whole trained-then-applied pipeline is
    // SQL-reproducible and hash-checked; same output schema as s7 so
    // the two are drop-in comparable. Recall floor vs the exact L2
    // top-k is pinned in AnnRecallSpec.
    Q("s8_ivfpq",
      (s, dir) => {
        import s.implicits._
        graft.sim.IvfPq.topK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, kShort = 50, m = 16, nCentroids = 64, dims = 64,
            nCells = 8, nprobe = 3)
          .select($"query_id", $"corpus_id", r6($"d2").as("d2"), $"rank")
      },
      Some(graft.sim.IvfPq.oracleSql(
        k = 5, kShort = 50, m = 16, nCentroids = 64, dims = 64,
        nCells = 8, nprobe = 3, queryPredSql = "vec_id < 10"))),

    // Scalar quantization (sim.Sq): the "int8 embeddings" tier — each
    // dimension uniformly quantized to 256 cells between the corpus
    // per-dimension min/max (fit = ONE dims-keyed aggregate, no
    // codebook), corpus stored as 64 one-byte codes (4× scan bandwidth
    // vs float32), queries scored asymmetrically against reconstructed
    // cell centers in one codes scan, then the shortlist exactly
    // re-ranked (the s7 deployment shape). Every cell assignment and
    // distance is identical IEEE arithmetic on both engines, so the
    // whole fit→encode→score→re-rank pipeline is hash-checked.
    Q("s10_sq_topk",
      (s, dir) => {
        import s.implicits._
        graft.sim.Sq.rerankTopK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, kShort = 50, dims = 64, levels = 256)
          .select($"query_id", $"corpus_id", r6($"d2").as("d2"), $"rank")
      },
      Some(graft.sim.Sq.oracleSql(
        k = 5, kShort = 50, dims = 64, levels = 256,
        queryPredSql = "vec_id < 10"))),

    // IVF-SQ (sim.IvfSq): the quantization matrix's third point —
    // s8's cell shortlisting with s10's one-byte codes instead of PQ
    // lookup tables: probed-cell scan at 4× bandwidth with near-exact
    // asymmetric distances, then the usual exact re-rank. Same output
    // schema as s7/s8/s10, so the four are drop-in comparable;
    // AnnRecallSpec pins the recall ordering (SQ codes ≥ PQ codes at
    // the same nprobe).
    Q("s12_ivfsq",
      (s, dir) => {
        import s.implicits._
        graft.sim.IvfSq.topK(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", queryPred = col("vec_id") < 10,
            k = 5, kShort = 50, dims = 64, levels = 256,
            nCells = 8, nprobe = 3)
          .select($"query_id", $"corpus_id", r6($"d2").as("d2"), $"rank")
      },
      Some(graft.sim.IvfSq.oracleSql(
        k = 5, kShort = 50, dims = 64, levels = 256,
        nCells = 8, nprobe = 3, queryPredSql = "vec_id < 10"))),

    // S14 (round-13): Rocchio pseudo-relevance feedback (Rocchio 1971,
    // the SMART system's query expansion — the classic PRF loop every
    // retrieval stack still runs): (1) retrieve the s4 query's BM25
    // top-5 as the feedback set, (2) expand the query with the 3 terms
    // appearing in the MOST feedback docs (per-doc distinct, ≥ 4 chars
    // as the stopword proxy, originals excluded, ties → term asc), (3)
    // re-retrieve with the expanded bag via the s4b batch scorer.
    // Fully relational — the feedback set is a 5-row FRAME, never a
    // driver collect — and every stage (both BM25 passes, the
    // expansion pick) replays in DuckDB, so the expanded-query RANKING
    // itself is hash-checked. Scale shape: two bounded corpus passes +
    // one broadcast of ≤ 7 terms; the expansion aggregate touches only
    // the feedback docs' tokens.
    Q("s14_rocchio_prf",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val q0 = Seq("spark", "join", "window", "hash")
        val top5 = graft.text.Bm25.topK(docs, "doc_id", "text", q0, k = 5)
          .select($"doc_id")
        val cand = docs
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
          .join(broadcast(top5), "doc_id")
          .select($"doc_id", explode(array_distinct($"__toks")).as("term"))
          .filter(length($"term") >= 4 && !$"term".isInCollection(q0))
          .groupBy($"term").agg(count(lit(1)).as("nfb"))
          .orderBy(desc("nfb"), $"term").limit(3)
        // ≤ 7 rows, but its LINEAGE is the whole round-1 retrieval —
        // every broadcast of the query table would re-run BM25 pass 1
        // (27 shuffles unpinned vs 10 pinned, the d11 lesson)
        val expanded = Fixpoint.cut(cand.select($"term")
          .unionByName(q0.toDF("term"))
          .select(lit(0L).as("query_id"), $"term"))
        graft.text.Bm25.topKBatch(docs, "doc_id", "text", expanded,
            "query_id", "term", k = 10)
          .select($"doc_id", $"n_terms", $"score", $"rank")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |    round(avg(len(ts)) + 1e-9, 4) AS avgdl FROM d),
             |tf1 AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
             |             FROM d)
             |       WHERE term IN ('spark', 'join', 'window', 'hash')
             |       GROUP BY 1, 2, 3),
             |dfq1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
             |sc1 AS (SELECT tf1.doc_id,
             |    round(sum(
             |      ln(((st.n_docs - dfq1.df) + CAST(0.5 AS DOUBLE))
             |         / (dfq1.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             |      * (tf1.tf * (CAST(1.5 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             |      / (tf1.tf + CAST(1.5 AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * tf1.dl / st.avgdl))
             |    ) + 1e-9, 6) AS score
             |  FROM tf1 JOIN dfq1 USING (term), st
             |  GROUP BY tf1.doc_id),
             |top5 AS (SELECT doc_id FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY score DESC,
             |      doc_id) AS rn FROM sc1) WHERE rn <= 5),
             |cand AS (SELECT term, count(*) AS nfb FROM (
             |    SELECT DISTINCT t.doc_id, t.term
             |    FROM (SELECT doc_id, unnest(ts) AS term FROM d) t
             |    JOIN top5 USING (doc_id))
             |  WHERE len(term) >= 4
             |    AND term NOT IN ('spark', 'join', 'window', 'hash')
             |  GROUP BY 1),
             |exp3 AS (SELECT term FROM (
             |    SELECT term, row_number() OVER (ORDER BY nfb DESC, term)
             |      AS rn FROM cand) WHERE rn <= 3),
             |qt AS (SELECT term FROM exp3
             |  UNION SELECT unnest(['spark', 'join', 'window', 'hash'])),
             |tf2 AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
             |             FROM d)
             |       WHERE term IN (SELECT term FROM qt)
             |       GROUP BY 1, 2, 3),
             |dfq2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
             |sc2 AS (SELECT tf2.doc_id, count(*) AS n_terms,
             |    round(sum(
             |      ln(((st.n_docs - dfq2.df) + CAST(0.5 AS DOUBLE))
             |         / (dfq2.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             |      * (tf2.tf * (CAST(1.5 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             |      / (tf2.tf + CAST(1.5 AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * tf2.dl / st.avgdl))
             |    ) + 1e-9, 6) AS score
             |  FROM tf2 JOIN dfq2 USING (term), st
             |  GROUP BY tf2.doc_id),
             |rk AS (SELECT doc_id, n_terms, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM sc2)
             |SELECT doc_id, n_terms, score, rank FROM rk
             |WHERE rank <= 10""".stripMargin)),

    // Batch BM25: a query SET scored in one corpus pass — df computed
    // once per distinct term, query table broadcast, per-query top-k
    // via the bounded-heap TopKAgg (O(queries × k) shuffled, no
    // per-query sort). Single-query equivalence to s4 is spec-pinned.
    Q("s4b_bm25_batch",
      (s, dir) => {
        import s.implicits._
        val queries = Seq(
          (1L, "spark"), (1L, "join"),
          (2L, "window"), (2L, "hash"), (2L, "sort")).toDF("qid", "term")
        graft.text.Bm25.topKBatch(Tables.documents(s, dir), "doc_id", "text",
            queries, "qid", "term", k = 10)
          .select($"query_id", $"doc_id", $"n_terms", $"score", $"rank")
      },
      Some("""WITH q(query_id, term) AS (
             |  VALUES (1, 'spark'), (1, 'join'),
             |         (2, 'window'), (2, 'hash'), (2, 'sort')),
             |d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |    round(avg(len(ts)) + 1e-9, 4) AS avgdl FROM d),
             |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
             |             FROM d)
             |       WHERE term IN (SELECT term FROM q)
             |       GROUP BY 1, 2, 3),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
             |    round(sum(
             |      ln(((st.n_docs - dfq.df) + CAST(0.5 AS DOUBLE))
             |         / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             |      * (tf.tf * (CAST(1.5 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             |      / (tf.tf + CAST(1.5 AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl))
             |    ) + 1e-9, 6) AS score
             |  FROM tf JOIN dfq USING (term) JOIN q USING (term), st
             |  GROUP BY 1, 2),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY score DESC, doc_id) AS rank
             |  FROM sc)
             |SELECT query_id, doc_id, n_terms, score, rank
             |FROM rk WHERE rank <= 10""".stripMargin)),

    // S15 (round-14): greedy farthest-point k-center coreset (Gonzalez
    // 1985) — diversity selection over the embedding corpus. Each of
    // the k rounds is one TakeOrdered top-1 scan (map-side max, no
    // shuffle) + one narrow `least` fold; the assignment is a narrow
    // array-of-structs argmin per row. The greedy argmax sequence is
    // bit-reproducible in DuckDB (fixed-order distance folds), so the
    // whole selected-center set is hash-checked — sim/KCenter.scala
    // carries the design note. Contract (round-15 ADVICE): greedy
    // REQUIRES k ≤ distinct points and fails loudly on duplicated
    // embeddings exhausting the corpus — safe here by construction
    // (k=5 against ≥50 md5-derived, pairwise-distinct vectors at the
    // smallest SF; a duplicate would need a 64-dim md5 collision).
    Q("s15_kcenter",
      (s, dir) => {
        import s.implicits._
        graft.sim.KCenter.greedy(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v")),
            "vec_id", "v", k = 5)
          .select($"rank", $"center_id", r6($"sel_dist").as("sel_dist"),
            $"n_assigned", r6($"cover_radius").as("cover_radius"))
      },
      Some(graft.sim.KCenter.greedyOracleSql(k = 5, dims = 64))),

    // TF-IDF cosine document-pair similarity via a df-capped inverted
    // index — the sparse-vector complement to d5's dense-embedding
    // near-dup. Pair enumeration joins per-term postings with
    // df ≤ 10% of the corpus (high-df terms are pruned from the DOT
    // only — the standard stop-term cut that bounds candidate work at
    // Σ df² over rare terms; norms keep every term, so pruning only
    // ever LOWERS a pair's cosine, never invents one). Weights tf·ln(N/df) are
    // exact on both engines (integer inputs, one ln); the
    // order-sensitive sums (norms, dots) are r6-rounded before the
    // division and the threshold compares the rounded cosine (the d5
    // contract). At broadcast-hostile vocabulary scale the dfq join
    // flips to a term-keyed shuffle co-partitioned with the posting
    // self-join.
    Q("d11_tfidf_pairs",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
        // tf feeds dfq AND the weight join; w feeds norms AND the
        // pair join — pin both (PersistRegistry) or each branch
        // re-runs the tokenize+count subtree (measured: 19 Exchanges
        // unpinned vs 3 pinned)
        val tf = graft.io.PersistRegistry.trackPersist(
          toks.select($"doc_id", explode($"__toks").as("term"))
            .groupBy($"doc_id", $"term")
            .agg(count(lit(1)).cast("double").as("tf")))
        val dfq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val nDocs = toks.agg(count(lit(1)).as("n_docs"))
        val w = graft.io.PersistRegistry.trackPersist(
          tf.join(broadcast(dfq), "term").crossJoin(broadcast(nDocs))
            .withColumn("w", $"tf" * log($"n_docs".cast("double") / $"df")))
        val nm = w.groupBy($"doc_id").agg(r6(sqrt(sum($"w" * $"w"))).as("nrm"))
        // stop-term cut as a CORPUS FRACTION (df ≤ 10% of docs), not a
        // fixed count — a fixed cap silently tightens as the corpus
        // grows; integer predicate, so engine parity is trivial
        val wc = w.filter($"df" * 10 <= $"n_docs")
          .select($"doc_id", $"term", $"w")
        val dot = wc.as("a").join(wc.as("b"),
            $"a.term" === $"b.term" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
          .agg(r6(sum($"a.w" * $"b.w")).as("dot"))
        dot
          .join(broadcast(nm.select($"doc_id".as("id_a"), $"nrm".as("na"))),
            "id_a")
          .join(broadcast(nm.select($"doc_id".as("id_b"), $"nrm".as("nb"))),
            "id_b")
          .select($"id_a", $"id_b", r6($"dot" / ($"na" * $"nb")).as("cos"))
          .filter($"cos" >= 0.5)
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |n AS (SELECT count(*) AS n_docs FROM d),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, unnest(ts) AS term FROM d)
             |       GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |w AS (SELECT tf.doc_id, tf.term, dfq.df, n.n_docs,
             |        tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df) AS w
             |      FROM tf JOIN dfq USING (term), n),
             |nm AS (SELECT doc_id, round(sqrt(sum(w * w)) + 1e-9, 6) AS nrm
             |       FROM w GROUP BY 1),
             |wc AS (SELECT doc_id, term, w FROM w WHERE df * 10 <= n_docs),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        round(sum(a.w * b.w) + 1e-9, 6) AS dot
             |      FROM wc a JOIN wc b
             |        ON a.term = b.term AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2),
             |c AS (SELECT id_a, id_b,
             |        round(p.dot / (na.nrm * nb.nrm) + 1e-9, 6) AS cos
             |      FROM p JOIN nm na ON na.doc_id = p.id_a
             |             JOIN nm nb ON nb.doc_id = p.id_b)
             |SELECT id_a, id_b, cos FROM c WHERE cos >= 0.5""".stripMargin)),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    // 2009) — the standard RAG-stack fusion of a lexical arm (s4's
    // BM25 top-50 for the term bag) and a dense arm (s1's cosine
    // top-50 for query vector 0): rrf = Σ 1/(60 + rank), absent arm
    // contributes 0. Fusion is rank-only — cross-engine float parity
    // needs just the rank parity the two arm queries already prove
    // (BM25 ranks on the 6dp-rounded score; cosine on bit-equal
    // fixed-order dot products). Both arms are top-k-BOUNDED before
    // fusion, so the full-outer join and re-rank touch ≤ 2k rows no
    // matter the corpus size — the single-partition window is over a
    // ≤50-row frame, not a corpus sort.
    Q("s9_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val lex = graft.text.Bm25.topK(Tables.documents(s, dir),
            "doc_id", "text", Seq("spark", "join", "window", "hash"), k = 50)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(desc("score"), asc("doc_id"))))
          .select($"doc_id", $"lex_rank")
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val den = Similarity.cosineTopK(e, e.filter($"vec_id" === 0),
            "vec_id", "v", 50)
          .select($"corpus_id".as("doc_id"), $"rank".as("dense_rank"))
        lex.join(den, Seq("doc_id"), "full")
          .select($"doc_id",
            r6(coalesce(lit(1.0) / (lit(60) + $"lex_rank"), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + $"dense_rank"), lit(0.0)))
              .as("rrf"),
            coalesce($"lex_rank", lit(0)).cast("long").as("lex_rank"),
            coalesce($"dense_rank", lit(0)).cast("long").as("dense_rank"))
          .orderBy(desc("rrf"), asc("doc_id")).limit(20)
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |st AS (SELECT count(*) AS n_docs,
             |    round(avg(len(ts)) + 1e-9, 4) AS avgdl FROM d),
             |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             |       FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
             |             FROM d)
             |       WHERE term IN ('spark', 'join', 'window', 'hash')
             |       GROUP BY 1, 2, 3),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |    round(sum(
             |      ln(((st.n_docs - dfq.df) + CAST(0.5 AS DOUBLE))
             |         / (dfq.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
             |      * (tf.tf * (CAST(1.5 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             |      / (tf.tf + CAST(1.5 AS DOUBLE)
             |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             |            + CAST(0.75 AS DOUBLE) * tf.dl / st.avgdl))
             |    ) + 1e-9, 6) AS score
             |  FROM tf JOIN dfq USING (term), st
             |  GROUP BY tf.doc_id),
             |lex AS (SELECT doc_id, rn AS lex_rank FROM
             |    (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
             |       AS rn FROM sc)
             |  WHERE rn <= 50),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |      FROM embeddings),
             |nm AS (SELECT vec_id, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM nm),
             |q AS (SELECT nv AS qv FROM nv WHERE vec_id = 0),
             |scd AS (
             |  SELECT nv.vec_id AS doc_id,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(qv) + 1), i -> qv[i] * nv.nv[i])),
             |        (acc, x) -> acc + x) AS cos
             |  FROM q, nv WHERE nv.vec_id <> 0),
             |den AS (SELECT doc_id, rn AS dense_rank FROM
             |    (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
             |       AS rn FROM scd)
             |  WHERE rn <= 50),
             |f AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
             |        lex.lex_rank, den.dense_rank
             |      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id)
             |SELECT doc_id,
             |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0)
             |    + coalesce(CAST(1.0 AS DOUBLE) / (60 + dense_rank), 0.0)
             |    + 1e-9, 6) AS rrf,
             |  CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
             |  CAST(coalesce(dense_rank, 0) AS BIGINT) AS dense_rank
             |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // Semantic dedup KEEP-LIST (the SemDeDup end product, and the
    // embedding analog of d7): near-dup pairs from bounded (label,
    // sign-LSH cell) candidates with Hamming-1 probes, thresholded on
    // ROUNDED cosine (engine-stable gate), connected components, keep
    // the min-id representative per component. At scale this is the
    // pass that prunes semantically redundant training data without an
    // all-pairs join — pair work stays inside LSH cells, components
    // run on the (tiny) above-threshold edge set.
    Q("s5_semantic_keep",
      (s, dir) => {
        import s.implicits._
        val pairs = Similarity.nearDupPairs(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v")),
            "label", "vec_id", "v", nBits = 4)
          .filter(r6($"cos") >= 0.35)
          .select($"id_a", $"id_b")
        val drop = Dedup.components(pairs)
          .filter($"id" =!= $"cluster").select($"id".as("vec_id"))
        Tables.embeddings(s, dir).select($"vec_id", $"label")
          .join(broadcast(drop), Seq("vec_id"), "left_anti")
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id, label,
             |          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nm AS (SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |bk AS (SELECT vec_id, label,
             |    list_transform(v, x -> x / nrm) AS nv,
             |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) +
             |    (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) +
             |    (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
             |  FROM nm),
             |q AS (SELECT vec_id, label, nv,
             |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
             |            xor(bucket, 4), xor(bucket, 8)]) AS probe
             |  FROM bk),
             |p AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(a.nv) + 1), i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) AS cos
             |  FROM q a JOIN bk b ON a.label = b.label AND a.probe = b.bucket
             |    AND a.vec_id < b.vec_id),
             |ed AS (SELECT DISTINCT id_a, id_b FROM p
             |       WHERE round(cos + 1e-9, 6) >= CAST(0.35 AS DOUBLE)),
             |sym AS (
             |  SELECT id_a AS a, id_b AS b FROM ed
             |  UNION SELECT id_b, id_a FROM ed
             |  UNION SELECT id_a, id_a FROM ed
             |  UNION SELECT id_b, id_b FROM ed),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
             |comp AS (SELECT a AS vec_id, min(b) AS cluster
             |         FROM reach GROUP BY a)
             |SELECT vec_id, label FROM embeddings
             |WHERE vec_id NOT IN
             |  (SELECT vec_id FROM comp WHERE vec_id <> cluster)""".stripMargin)),

    // LSH-bucketed ANN: sign-hyperplane bucket on the first 4 dims with
    // Hamming-1 MULTI-PROBE (query probes its own + 4 bit-flip buckets =
    // 5/16 of the corpus; recall ~3× the single-bucket variant on these
    // near-isotropic embeddings, still a bounded candidate set).
    Q("s2_ann_lsh",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val queries = e.filter($"vec_id" < 10)
        Similarity.annTopK(e, queries, "vec_id", "v", 5, 4, probeHamming1 = true)
          .select($"query_id", $"bucket", $"corpus_id", r6($"cos").as("cos"), $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nm AS (SELECT vec_id, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |bk AS (
             |  SELECT vec_id, list_transform(v, x -> x / nrm) AS nv,
             |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) +
             |    (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) +
             |    (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
             |  FROM nm),
             |q AS (SELECT vec_id AS query_id, qv, probe FROM (
             |        SELECT vec_id, nv AS qv,
             |          unnest([bucket, xor(bucket, 1), xor(bucket, 2),
             |                  xor(bucket, 4), xor(bucket, 8)]) AS probe
             |        FROM bk WHERE vec_id < 10)),
             |sc AS (
             |  SELECT q.query_id, b.bucket, b.vec_id AS corpus_id,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(qv) + 1), i -> qv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) AS cos
             |  FROM q JOIN bk b ON q.probe = b.bucket AND q.query_id <> b.vec_id),
             |rk AS (
             |  SELECT query_id, bucket, corpus_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, corpus_id) AS rank
             |  FROM sc)
             |SELECT query_id, bucket, corpus_id, round(cos + 1e-9, 6) AS cos, rank
             |FROM rk WHERE rank <= 5""".stripMargin)),

    // Hard-negative mining (Similarity.hardNegatives): the contrastive
    // -training data op — per anchor, the most-similar same-LSH-bucket
    // vectors BELOW the positive band (cos < 0.8): hard enough to
    // carry gradient, far enough to not be unlabeled positives. Same
    // bounded candidate set as s2 (no all-pairs), band filter before
    // the per-query heap.
    Q("s11_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        Similarity.hardNegatives(e, e.filter($"vec_id" < 10),
            "vec_id", "v", k = 5, nBits = 4, maxCos = 0.8)
          .select($"query_id", $"corpus_id", r6($"cos").as("cos"), $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |nm AS (SELECT vec_id, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(range(1, len(v) + 1), i -> v[i] * v[i])),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e),
             |bk AS (
             |  SELECT vec_id, list_transform(v, x -> x / nrm) AS nv,
             |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) +
             |    (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END) +
             |    (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) +
             |    (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
             |  FROM nm),
             |q AS (SELECT vec_id AS query_id, nv AS qv, bucket
             |      FROM bk WHERE vec_id < 10),
             |sc AS (
             |  SELECT q.query_id, b.vec_id AS corpus_id,
             |    list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(qv) + 1), i -> qv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) AS cos
             |  FROM q JOIN bk b ON q.bucket = b.bucket
             |    AND q.query_id <> b.vec_id),
             |rk AS (
             |  SELECT query_id, corpus_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, corpus_id) AS rank
             |  FROM sc WHERE cos < 0.8)
             |SELECT query_id, corpus_id, round(cos + 1e-9, 6) AS cos, rank
             |FROM rk WHERE rank <= 5""".stripMargin)))
}
