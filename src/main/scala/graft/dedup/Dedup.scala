package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.operators.Fixpoint

/** Deduplication operators for LLM-data pipelines (BASELINE.json scale
  * extensions): exact, MinHash+LSH, SimHash, blocked n-gram Jaccard.
  *
  * 100 TB design: every variant avoids the quadratic all-pairs join —
  *  - exact: one hash-groupBy (single shuffle on a 128-bit key);
  *  - MinHash+LSH: per-doc signatures (linear), candidates only from
  *    band-bucket collisions (shuffle on band keys, bucket sizes bounded
  *    by real near-dup density), Jaccard verification only on candidates;
  *  - SimHash: per-doc 32-bit signature (linear); near-dup = signature
  *    bucket join;
  *  - n-gram Jaccard: blocked on low-cardinality keys so each block's
  *    pair count is bounded.
  */
object Dedup {

  /** Exact dedup groups: content hash → group size + canonical (min) id.
    * (DataFrame in: `idCol`, `textCol`.) */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical_id"))

  /** MinHash permutation constants (engine-portable, overflow-safe:
    * every intermediate stays under 2^61). */
  def permA(i: Int): Long = (i.toLong * 2654435761L + 1L) % 2147483647L
  def permB(i: Int): Long = (i.toLong * 40503L + 7L) % 2147483647L

  /** Exploded distinct-shingle rows (id, sh) — the shared input of
    * signature building and Jaccard verification. Callers composing both
    * should `.persist()` this frame: Catalyst does not CSE identical
    * subplans across self-joins, so an uncached frame would be
    * re-evaluated once per join branch. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    // Two-step projection on purpose: `shingles` references the token
    // array 3×/element; materializing tokens as an attribute first stops
    // Catalyst from inlining (= re-evaluating) the split per reference.
    df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(TextOps.shingles(col("__toks"), shingleN)).as("sh"))

  /** Per-doc MinHash signature: (id, sig array<long>[numPerm], n_sh) over
    * shingle rows.
    *
    * One md5 per shingle, then numPerm ARITHMETIC permutations
    * `(a_i·h30 + b_i) mod 2^31-1` evaluated as numPerm parallel `min`
    * aggregates over the single shingle pass — no per-seed explode, so
    * the shuffled volume is one row per doc, not numPerm × shingles.
    * The shingle-set size rides along in the same pass.
    *
    * `permOffset` selects an INDEPENDENT permutation family (indices
    * permOffset..permOffset+numPerm−1) — the second LSH table of the
    * d21 multi-table composition: banding two independent families
    * doubles the effective band count, lifting candidate recall from
    * 1−(1−s^r)^b to 1−(1−s^r)^2b at 2× signature cost and unchanged
    * join shape (round-19, VERDICT item 7; the recall knob
    * [[BandedLsh.hammingPairsTables]] caps at 2 fingerprint-derived
    * tables has no cap here — seed families are unlimited). */
  def minhashSignatures(sh: DataFrame, numPerm: Int,
                        permOffset: Int = 0): DataFrame = {
    val hashed = sh.withColumn("h30", pmod(TextOps.hash60(col("sh")), lit(1073741824L)))
    val minAggs = (0 until numPerm).map(i =>
      min((col("h30") * permA(permOffset + i) + permB(permOffset + i))
        % 2147483647L).as(s"__s$i"))
    val aggs = minAggs :+ count(lit(1)).as("n_sh")
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numPerm).map(i => col(s"__s$i")): _*).as("sig"),
        col("n_sh"))
  }

  /** Number of independent permutation families needed to reach
    * candidate recall ≥ `target` at shingle-Jaccard `s0` under (r, b)
    * banding — the LSH s-curve closed form made an adaptive knob
    * (round-20, the d20/s17 pattern applied to the text tier's last
    * constant): one family catches a pair with probability
    * p1 = 1 − (1 − s0^r)^b, so F families (independent seed ranges,
    * [[minhashSignatures]] permOffset) catch it with 1 − (1 − p1)^F;
    * the smallest F with (1 − p1)^F ≤ 1 − target meets the target.
    * Evaluated as the same bounded ladder the DuckDB oracle replays
    * (`power` on exactly-representable inputs; the 1e-12 nudge keeps
    * a last-ulp `pow` divergence from flipping a branch — every
    * declared configuration sits ≥1e-4 from its threshold). Cost is
    * linear in F: F× signature aggregates, F band-join passes of
    * unchanged shape, one shared verify — the knob trades compute for
    * recall with no quadratic term at any corpus size. */
  def familiesForRecall(target: Double, s0: Double, r: Int, b: Int,
                        maxF: Int = 8): Int = {
    require(target > 0.0 && target < 1.0 && s0 > 0.0 && s0 < 1.0,
      s"target $target / s0 $s0 must be in (0,1)")
    val p1 = 1.0 - math.pow(1.0 - math.pow(s0, r), b)
    var f = 1
    while (f < maxF && math.pow(1.0 - p1, f) > 1.0 - target + 1e-12) f += 1
    require(math.pow(1.0 - p1, f) <= 1.0 - target + 1e-12,
      s"recall target $target at s0=$s0 unreachable within $maxF " +
        s"families of (r=$r, b=$b) banding — widen b or lower r")
    f
  }

  /** (id, band, band_key) rows of a signature table — the LSH bucket
    * index both the batch and the incremental candidate joins read.
    * Incremental callers should materialize (persist / write bucketed
    * by band_key) THIS frame for the standing corpus and reuse it
    * across batches via [[lshCandidatesAgainstIndex]] — that is what
    * makes a 1% delta cost the delta's shingling + bucket fan-in
    * instead of a full-corpus re-band per batch. */
  def bandIndex(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    bandedKeys(sigs, bands, rowsPerBand)

  private def bandedKeys(sigs: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws(",", (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1).cast("string")): _*))
    }
    sigs.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** LSH candidate pairs: band the signature array (bands × rowsPerBand =
    * numPerm), bucket-join on (band, band-key md5), keep each pair once.
    * Only colliding buckets generate pairs (the shared
    * [[BandedLsh.selfCandidates]] core — md5 band keys, so the bucket
    * key-space is never the binding constraint here). */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    BandedLsh.selfCandidates(bandedKeys(sigs, bands, rowsPerBand))

  /** Incremental near-dedup candidates from SIGNATURE tables: bands both
    * sides, then delegates to [[lshCandidatesAgainstIndex]]. NOTE the
    * index side is re-banded on every call — callers running repeated
    * batches should band once ([[bandIndex]]), materialize it, and call
    * the index variant directly; only then does the "1% delta costs the
    * delta's shingling + bucket fan-in" incremental claim hold. */
  def lshCandidatesAgainst(newSigs: DataFrame, indexSigs: DataFrame,
                           bands: Int, rowsPerBand: Int): DataFrame =
    lshCandidatesAgainstIndex(
      bandedKeys(newSigs, bands, rowsPerBand),
      bandedKeys(indexSigs, bands, rowsPerBand))

  /** Incremental near-dedup candidates: only pairs TOUCHING the new
    * batch. The delta's band keys join the full banded index (existing
    * ∪ new, [[bandIndex]] output), so existing-vs-existing pairs are
    * never generated — a 1% delta costs the delta's shingling plus its
    * bucket fan-in against the index, not a corpus re-pass. Pairs come
    * out normalized (id_a < id_b) and distinct; new–new pairs are found
    * once. At scale the banded index is the thing a production pipeline
    * keeps materialized (bucketed by band_key) between batches.
    * Delegates to the shared [[BandedLsh.deltaCandidates]] core. */
  def lshCandidatesAgainstIndex(newBanded: DataFrame,
                                indexBanded: DataFrame): DataFrame =
    BandedLsh.deltaCandidates(newBanded, indexBanded)

  /** Exact Jaccard verification of candidate pairs over distinct shingle
    * sets — joins only the candidate docs' shingles, not all pairs.
    * `sh` = shingleRows output (persist it); `sizes` = (id, n_sh). */
  def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                    sizes: DataFrame): DataFrame = {
    val inter = candidates
      .join(sh.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    candidates
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double")
          / nullif(col("n_a") + col("n_b") - col("n_inter"), lit(0L)))
  }

  /** Connected components over an undirected edge list (near-dup pairs →
    * dedup CLUSTERS): symmetrizes the pairs and runs the engine's one
    * resolver, [[graft.graph.Components.resolve]] (driver union-find
    * when the dup graph fits — the common case, LSH already pruned it —
    * else distributed propagation, failing past `maxIter` rounds).
    * Returns (id, cluster) with cluster = min member id (deterministic
    * canonical representative). */
  def components(edges: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIter: Int = graft.graph.Components.MaxIter,
                 collectEdgeThreshold: Long = graft.graph.DriverEdges.CollectThreshold): DataFrame = {
    val sym = edges.select(col(idA).as("a"), col(idB).as("b"))
      .unionByName(edges.select(col(idB).as("a"), col(idA).as("b")))
      .distinct().persist()
    graft.graph.Components.resolve(sym, maxIter, collectEdgeThreshold)
      .withColumnRenamed("label", "cluster")
  }

  /** Blocked n-gram Jaccard near-dup with BOUNDED fan-out — the scale-safe
    * form of "all pairs within a block":
    *
    *  1. shingles exceeding `maxDf` documents within their block are
    *     dropped (stop-shingle cap: boilerplate n-grams contribute no
    *     dedup signal but all the quadratic pairs);
    *  2. candidate pairs come ONLY from co-shingle collisions (the
    *     explode + equi-join — a pair sharing zero shingles has
    *     jaccard 0 and is never enumerated);
    *  3. each doc keeps its `perDocK` best candidates (jaccard desc,
    *     id tie-break) via the bounded-heap [[graft.operators.TopKAgg]].
    *
    * Total pair work is Σ_sh df(sh)² ≤ maxDf × (total shingle rows) —
    * LINEAR in the corpus for constant maxDf, regardless of how hot a
    * (lang, source) block gets; output ≤ docs × perDocK. Jaccard is
    * exact over the FILTERED shingle sets (both sides of the driver's
    * DuckDB oracle apply the same cap, so the contract is still
    * hash-checkable).
    *
    * Output: block cols + id_a, id_b, n_inter, n_a, n_b, jaccard,
    * cand_rank (1..perDocK per id_a).
    */
  def blockedNgramNearDup(docs: DataFrame, idCol: String, textCol: String,
                          blockCols: Seq[String], shingleN: Int,
                          maxDf: Int, perDocK: Int): DataFrame = {
    val scored = coShinglePairs(docs, idCol, textCol, blockCols, shingleN, maxDf)
      .withColumn("jaccard", col("n_inter").cast("double")
        / nullif(col("n_a") + col("n_b") - col("n_inter"), lit(0L)))
    // per-doc candidate cap: bounded heap, never a full window sort
    graft.operators.TopK.perKey(scored, Seq("id_a"),
      Seq(graft.operators.TopK.descNullsLast(col("jaccard")), col("id_b")),
      perDocK, "cand_rank")
  }

  /** Containment near-dup (Broder 1997's asymmetric resemblance): rank
    * candidate pairs by max(|A∩B|/|A|, |A∩B|/|B|) instead of Jaccard,
    * so a SHORT document copied verbatim into a much longer one — the
    * quote-farm / boilerplate-wrapper shape web curation hits daily —
    * scores ~1.0 where symmetric Jaccard (≤ |A|/|B|) can sit below any
    * usable dedup threshold. Shares [[coShinglePairs]]'s df-capped
    * co-shingle candidate generation (identical Σ df² linear bound);
    * only the score and the per-doc ranking differ from
    * [[blockedNgramNearDup]]. Keeps pairs with max containment ≥
    * `minCont`; output adds cont_a = n_inter/n_a, cont_b = n_inter/n_b
    * alongside jaccard so the asymmetry (cont high, jaccard low) is
    * visible in the result.
    */
  def containmentNearDup(docs: DataFrame, idCol: String, textCol: String,
                         blockCols: Seq[String], shingleN: Int,
                         maxDf: Int, minCont: Double, perDocK: Int): DataFrame = {
    val scored = coShinglePairs(docs, idCol, textCol, blockCols, shingleN, maxDf)
      .withColumn("cont_a", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b", col("n_inter").cast("double") / col("n_b"))
      .withColumn("jaccard", col("n_inter").cast("double")
        / nullif(col("n_a") + col("n_b") - col("n_inter"), lit(0L)))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
    graft.operators.TopK.perKey(scored, Seq("id_a"),
      Seq(graft.operators.TopK.descNullsLast(
            greatest(col("cont_a"), col("cont_b"))), col("id_b")),
      perDocK, "cand_rank")
  }

  /** Shared candidate core for [[blockedNgramNearDup]] /
    * [[containmentNearDup]]: df-capped co-shingle pair enumeration with
    * exact intersection and per-doc set sizes. Output: block cols +
    * id_a, id_b, n_inter, n_a, n_b. */
  private def coShinglePairs(docs: DataFrame, idCol: String, textCol: String,
                             blockCols: Seq[String], shingleN: Int,
                             maxDf: Int): DataFrame = {
    val bc = blockCols.map(col)
    // null block keys are excluded EXPLICITLY: the old groupBy+join
    // df-cap dropped them via equi-join null semantics, the count
    // window would group them together — filtering up front makes the
    // contract (block cols must be non-null to participate) independent
    // of the build path. The co-shingle equi-join below would drop
    // their pairs anyway; this also keeps them out of the persisted
    // capped frame and the sizes aggregate.
    val ex = docs
      .filter(bc.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .select((bc :+ col(idCol).as("doc_id")) :+
        TextOps.tokens(col(textCol)).as("__toks"): _*)
      .select((bc :+ col("doc_id")) :+
        explode(TextOps.shingles(col("__toks"), shingleN)).as("sh"): _*)
    // df-cap via a count window over (block, sh): ONE shuffle of the
    // shingle rows (vs the groupBy+join form's agg shuffle + shuffle
    // join of the same rows — measured ~2× slower building this frame)
    val dfw = org.apache.spark.sql.expressions.Window
      .partitionBy(bc :+ col("sh"): _*)
    // persisted: feeds sizes + both sides of the co-shingle join, and
    // Catalyst does not CSE identical subplans across self-joins;
    // tracked so PersistRegistry.clear can release it (the caller never
    // sees this frame)
    val fx = graft.io.PersistRegistry.trackPersist(
      ex.withColumn("__df", count(lit(1)).over(dfw))
        .filter(col("__df") <= maxDf).drop("__df"))
    val sizes = fx.groupBy(bc :+ col("doc_id"): _*).agg(count(lit(1)).as("__n"))
    val inter = fx
      .join(fx.select((bc :+ col("doc_id").as("id_b")) :+ col("sh"): _*),
        blockCols :+ "sh")
      .filter(col("doc_id") < col("id_b"))
      .groupBy((bc :+ col("doc_id")) :+ col("id_b"): _*)
      .agg(count(lit(1)).as("n_inter"))
      .withColumnRenamed("doc_id", "id_a")
    inter
      .join(sizes.select((bc :+ col("doc_id").as("id_a")) :+ col("__n").as("n_a"): _*),
        blockCols :+ "id_a")
      .join(sizes.select((bc :+ col("doc_id").as("id_b")) :+ col("__n").as("n_b"): _*),
        blockCols :+ "id_b")
  }

  /** LLM-pipeline decontamination (the C4/Dolma benchmark-overlap
    * filter): count, per (corpus doc, benchmark doc) pair, the distinct
    * word n-gram shingles they share, so a threshold on `n_overlap` (or
    * `overlap_ratio`) flags training documents contaminated with eval
    * data. The benchmark side is an eval set — small by construction —
    * so its shingles broadcast; the corpus side is a shingle explode,
    * a broadcast hash join, and one per-pair aggregation: LINEAR in
    * the corpus with no corpus-side shuffle before the (doc, bench)
    * agg. The corpus is scanned twice (overlap join + per-doc shingle
    * counts) ON PURPOSE: a persisted shingle table would be larger
    * than the input, so re-running the scan+explode is the cheaper
    * 100 TB plan (unlike d4, whose df-capped table is reused 3×).
    *
    * Output: doc_id, bench_id, n_overlap, n_doc (distinct shingles in
    * the corpus doc), overlap_ratio = n_overlap / n_doc — one row per
    * pair sharing ≥ 1 shingle.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleN: Int): DataFrame = {
    val c = shingleRows(corpus, idCol, textCol, shingleN)
    val b = shingleRows(bench, idCol, textCol, shingleN)
      .select(col("id").as("bench_id"), col("sh"))
    val sizes = c.groupBy(col("id")).agg(count(lit(1)).as("n_doc"))
    c.join(broadcast(b), Seq("sh"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(sizes, Seq("id"))
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_doc"))
      .select(col("id").as("doc_id"), col("bench_id"), col("n_overlap"),
        col("n_doc"), col("overlap_ratio"))
  }

  /** 32-bit SimHash per doc over token frequencies: bit b is set when the
    * count-weighted sum of (2·bit_b(hash(token)) − 1) is positive. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("w"))
      .withColumn("h", pmod(TextOps.hash60(col("tok")), lit(4294967296L)))
    // shiftright/shiftleft by a COLUMN amount only exist in SQL form.
    val bits = tok.select(col("id"), col("w"), col("h"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("contrib",
        col("w") * (expr("shiftright(h, b)").bitwiseAND(lit(1L)) * 2 - 1))
      .groupBy(col("id"), col("b"))
      .agg(sum(col("contrib")).as("s"))
    bits.withColumn("bitval",
        when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(lit(0L)))
      .groupBy(col("id")).agg(sum(col("bitval")).as("simhash"))
  }

  /** SPAN-level dedup via anchor diagonals (round-14; the span-detect
    * core of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — which shows verbatim
    * COPIED SPANS inside otherwise-distinct documents are what
    * substring dedup must find, a shape doc-level Jaccard (d4) and
    * chunk fingerprints (d12) both miss when the span straddles
    * boundaries or the documents otherwise differ).
    *
    * Anchors are token 3-grams at EVERY position (the d12 gram
    * pipeline at stride 1); common-phrase grams are dropped by the
    * document-frequency band `2..dfMax` (the d2/d12 fan-out bound —
    * a gram in >dfMax docs is boilerplate, not evidence). Matched
    * anchor pairs land on DIAGONALS (`pa − pb`): a verbatim span of
    * length L produces L−2 CONSECUTIVE anchors on one diagonal, so
    * the longest run per diagonal — gaps-and-islands on `pa` (the w12
    * idiom: `pa − row_number`) — estimates the longest shared span
    * exactly for unique-anchor spans. Per pair: total matched
    * anchors, distinct diagonals, longest run in TOKENS (run + 2).
    *
    * 100 TB shape: gram build is narrow; the DF filter and the
    * self-join shuffle on the gram key with per-gram pair fan-out
    * ≤ dfMax²; diagonals/runs are one window over the matched pairs.
    * Never an all-pairs anything. Output: `(doc_a, doc_b,
    * n_anchor_matches, n_diagonals, longest_run_tokens)`. */
  def spanMatches(df: DataFrame, idCol: String, textCol: String,
                  dfMax: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // token arrays materialized before the gram lambda references them
    // 3x per element (the t14 CollapseProject hazard, measured on d12)
    val toks = Fixpoint.cut(df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("ts")))
    // compiled gram kernel (round-21): the transform(sequence, …md5…)
    // HOF walked an interpreted tree per position — see GramHash
    // DF filter + both self-join sides read it
    val grams = Fixpoint.cut(toks
      .select(col("doc_id"), graft.text.GramHash(col("ts"), 3).as("ghs"))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gh")))
    val banded = grams.join(
      grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .filter(col("ndocs").between(2, dfMax)).select(col("gh")), "gh")
    val matches = banded.as("a").join(banded.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_anchors"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("run_anchors")).as("n_anchor_matches"),
        countDistinct(col("diag")).as("n_diagonals"),
        (max(col("run_anchors")) + 2).as("longest_run_tokens"))
  }
}
