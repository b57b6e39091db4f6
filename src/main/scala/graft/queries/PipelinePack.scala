package graft.queries

import org.apache.spark.sql.functions._
import graft.cdc.Cdc
import graft.io.Tables
import graft.quality.DataQuality
import graft.queries.Rx.{r4, r6}
import graft.sketch.CountMin
import graft.text.TextOps
import graft.operators.Fixpoint

/** Pipeline-operations pack (beyond-reference, 100 TB completeness):
  * the maintenance operators a production lakehouse runs around the
  * analytical queries — sketch-based heavy hitters, CDC/SCD2
  * compaction, and continuous data-quality validation. Each is
  * oracle-checked end to end; the approximate middle of hh1 is
  * engineered so the FINAL output is exact (sketch shortlist is a
  * guaranteed superset + exact recount), keeping the hash gate
  * applicable. */
object PipelinePack extends QueryPack {

  def queries: Seq[Q] = Seq(

    // Count-min heavy hitters over document word bigrams: the sketch
    // pass bounds shuffle AND combine state by d·w cells instead of
    // the vocabulary (the thing that explodes at web scale), the
    // shortlist pass is d broadcast joins (no shuffle), and the exact
    // recount touches only shortlisted occurrences — so the output is
    // EXACTLY the true heavy-hitter set despite the sketch middle
    // (CountMin.scala scaladoc has the superset argument). Support
    // 1500 ppm ≈ bigrams covering ≥0.15% of the corpus.
    Q("hh1_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        // tokens materialized as an attribute first (the t14 idiom:
        // exploding ngrams(tokens(text)) inline re-inlines the regex
        // split into every element reference)
        val grams = Tables.documents(s, dir)
          .select(TextOps.tokens($"text").as("__toks"))
          .select(explode(TextOps.ngrams($"__toks", 2)).as("gram"))
        // no terminal orderBy: SparkEntry.stable provides the
        // deterministic artifact without a RangePartitioning exchange
        // (whose boundary sampling re-executes the child plan)
        CountMin.heavyHitters(grams, "gram",
            depth = 4, width = 1024, supportPpm = 1500L)
      },
      Some("""WITH d AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |g AS (
             |  SELECT unnest(CASE WHEN len(ts) >= 2
             |    THEN list_transform(range(1, len(ts)),
             |                        i -> ts[i] || ' ' || ts[i+1])
             |    ELSE CAST([] AS VARCHAR[]) END) AS gram
             |  FROM d),
             |tot AS (SELECT count(*) AS n FROM g),
             |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1)
             |SELECT gram, cnt FROM c, tot
             |WHERE cnt * 1000000 >= n * 1500
             |ORDER BY gram""".stripMargin)),

    // HyperLogLog distinct-count estimate of lineitem's order keys —
    // the engine-portable HLL (sketch.Hll scaladoc): md5-derived
    // registers, string-keyed buckets, EXACT integer-scaled harmonic
    // sum — so the driver hash-gates the estimate itself, where the
    // built-in HLL++ (g15_approx) can only be rows-checked. ONE scan;
    // combine state ≤ 4096 registers per partition regardless of key
    // cardinality (the CMS argument, for distinct counting).
    // HllSpec pins the accuracy contract (≤3 % on this data;
    // theoretical RSE 1.04/√4096 ≈ 1.6 %) and the linear-counting
    // branch at low cardinality.
    Q("hll1_distinct",
      (s, dir) => graft.sketch.Hll.estimate(
        Tables.lineitem(s, dir).select(col("l_orderkey")),
        "l_orderkey", p = 12),
      Some(graft.sketch.Hll.oracleSql("lineitem", "l_orderkey", p = 12))),

    // Grouped portable HLL — distinct users per event type, the
    // production shape of approx-distinct (per-day/segment uniques).
    // Register state is bounded by groups·4096 rows; ONE scan + one
    // (group, bucket) aggregate + one group aggregate, vs the exact
    // form's per-group key-cardinality combine state. These group
    // cardinalities sit in the linear-counting regime (hll1 covers
    // the raw-HLL branch); the oracle replays both branches.
    Q("hll2_grouped",
      (s, dir) => graft.sketch.Hll.groupedEstimate(
        Tables.events(s, dir).select(col("event_type"), col("user_id")),
        "event_type", "user_id", p = 12),
      Some(graft.sketch.Hll.groupedOracleSql(
        "events", "event_type", "event_type", "user_id", p = 12))),

    // HLL MERGE — the property that makes sketches the 100 TB answer:
    // registers from independently-sketched sources (lineitem's order
    // keys, orders' order keys) max-merge into the sketch OF THE
    // UNION without touching raw data again — partial sketches per
    // partition/day/shard combine associatively, so distinct-count
    // rollups need no re-scan. The oracle replays both register sets
    // and the same max-merge in SQL; HllSpec pins merge == sketch of
    // concatenation exactly (register-level equality).
    Q("hll3_union",
      (s, dir) => {
        import org.apache.spark.sql.functions.max
        val a = graft.sketch.Hll.registers(
          Tables.lineitem(s, dir).select(col("l_orderkey").as("k")), "k", 12)
        val b = graft.sketch.Hll.registers(
          Tables.orders(s, dir).select(col("o_orderkey").as("k")), "k", 12)
        graft.sketch.Hll.estimateFromRegisters(
          a.unionByName(b).groupBy(col("bucket"))
            .agg(max(col("r")).as("r")), 12)
      },
      Some(graft.sketch.Hll.oracleSql(
        "(SELECT l_orderkey AS k FROM lineitem " +
          "UNION ALL SELECT o_orderkey FROM orders)", "k", p = 12))),

    // Histogram-sketch quantiles (p50/p90/p99 of lineitem's extended
    // price): two bounded-state aggregates instead of the full sort
    // exact `percentile` needs — combine state ≤ 2048 cells per
    // partition, error deterministically ≤ one bucket width
    // (HistQuantile scaladoc; HistQuantileSpec pins the bound against
    // exact percentiles). Like hll1, the ESTIMATE hash-checks —
    // `approx_percentile` can't cross an engine boundary.
    Q("g17_approx_quantile",
      (s, dir) => graft.sketch.HistQuantile.quantiles(
        Tables.lineitem(s, dir).select(col("l_extendedprice")),
        "l_extendedprice", nBins = 2048, qs = Seq(0.5, 0.9, 0.99)),
      Some(graft.sketch.HistQuantile.oracleSql(
        "lineitem", "l_extendedprice", nBins = 2048,
        qs = Seq(0.5, 0.9, 0.99)))),

    // Per-group histogram quantiles — p50/p99 of `value` per event
    // type, the per-key latency-percentile shape every observability
    // pipeline runs. Same bounded-state sketch as g17 with group-dim
    // stats broadcast back; combine state ≤ groups·1024 cells.
    Q("g18_grouped_quantile",
      (s, dir) => graft.sketch.HistQuantile.groupedQuantiles(
        Tables.events(s, dir).select(col("event_type"), col("value")),
        "event_type", "value", nBins = 1024, qs = Seq(0.5, 0.99)),
      Some(graft.sketch.HistQuantile.groupedOracleSql(
        "events", "event_type", "event_type", "value",
        nBins = 1024, qs = Seq(0.5, 0.99)))),

    // KMV / bottom-k theta sketch SET ALGEBRA — the sketch family's
    // missing third member (CMS: frequency; HLL: distinct-union; KMV:
    // intersection/Jaccard). Pairwise audience overlap between order-
    // priority segments: per-segment customer sets sketched to k=256
    // retained hashes, every unordered segment pair estimated for
    // union size, intersection size and Jaccard from the k-sample of
    // the pair union (ThetaKmv scaladoc has the estimator argument;
    // RSE ≈ 1/√k ≈ 6%). The register build is the graft_topk heap
    // aggregate (combine state ≤ k per group per partition); the pair
    // expansion broadcasts a ≤ groups²/2-row frame — so the 100 TB
    // shape is: one scan of raw keys, then k·groups-row algebra. The
    // estimates THEMSELVES hash-check (md5-derived 52-bit hashes,
    // exactly double-representable; exact-count branch below k
    // replayed by the oracle's CASE). ThetaKmvSpec pins accuracy vs
    // exact overlap and the ±1/√k contract.
    Q("th1_theta_overlap",
      (s, dir) => graft.sketch.ThetaKmv.pairwiseOverlap(
        Tables.orders(s, dir).select(
          col("o_orderpriority"), col("o_custkey")),
        "o_orderpriority", "o_custkey", k = 256),
      Some(graft.sketch.ThetaKmv.pairwiseSql(
        "orders", "o_orderpriority", "o_custkey", k = 256))),

    // KMV MERGE — associativity under hash, the property that makes
    // bottom-k sketches a 100 TB rollup primitive (the hll3 argument):
    // per-priority registers max-merged into one sketch retain EXACTLY
    // the global bottom-k (any hash in the global bottom-k is in its
    // own group's bottom-k), so partial sketches per shard/day combine
    // without re-scanning raw data. Emits both paths' retained counts
    // and estimates plus their difference (structurally 0.0); k=4096
    // puts sf0.01 (1.5k customers) on the exact-count branch and
    // sf0.1 (15k) on the estimator branch — the oracle replays the
    // branch switch, the d14 idiom.
    Q("th2_theta_merge",
      (s, dir) => graft.sketch.ThetaKmv.mergeVsDirect(
        Tables.orders(s, dir).select(
          col("o_orderpriority"), col("o_custkey")),
        "o_orderpriority", "o_custkey", k = 4096),
      Some(graft.sketch.ThetaKmv.mergeSql(
        "orders", "o_orderpriority", "o_custkey", k = 4096))),

    // Changelog → SCD2 dimension history: events as per-user change
    // records, consecutive same-state changes collapsed (a no-op
    // update opens no version), validity intervals chained by lead().
    // One key-shuffle end to end (Cdc.scala scaladoc).
    Q("cdc1_scd2",
      (s, dir) => {
        import s.implicits._
        val log = Tables.events(s, dir)
          .select($"user_id", unix_micros($"ts").as("t"),
            $"event_id", $"event_type")
        Cdc.scd2(log, Seq("user_id"), "t", "event_id", "event_type")
          .select($"user_id", $"event_type", $"valid_from", $"valid_to",
            $"version", $"is_current")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
             |  FROM events),
             |d AS (
             |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
             |                   OR event_type <> lag(event_type) OVER w
             |            THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |i AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM d),
             |r AS (
             |  SELECT user_id, event_type, island, min(t) AS valid_from
             |  FROM i GROUP BY 1, 2, 3),
             |v AS (
             |  SELECT user_id, event_type, valid_from,
             |    lead(valid_from) OVER w2 AS valid_to,
             |    CAST(row_number() OVER w2 AS INT) AS version
             |  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from))
             |SELECT user_id, event_type, valid_from, valid_to, version,
             |  valid_to IS NULL AS is_current
             |FROM v""".stripMargin)),

    // MERGE (latest-wins upsert): a pre-cutoff compacted snapshot +
    // a post-cutoff change batch (purchases only), merged so the
    // newest (t, event_id) per user wins — union + one keyed window,
    // never snapshot×updates. `src` tags which side survived, so the
    // check verifies upsert/keep/insert placement, not just values.
    Q("cdc2_merge",
      (s, dir) => {
        import s.implicits._
        val cut = 1705276800000000L // 2024-01-15 UTC
        val ev = Tables.events(s, dir)
          .select($"user_id", unix_micros($"ts").as("t"),
            $"event_id", $"event_type", $"value")
        val snapshot = Cdc.compactLatest(
            ev.filter($"t" < cut), Seq("user_id"), "t", "event_id")
          .withColumn("src", lit("snapshot"))
        val updates = ev
          .filter($"t" >= cut && $"event_type" === "purchase")
          .withColumn("src", lit("update"))
        Cdc.merge(snapshot, updates, Seq("user_id"), "t", "event_id")
          .select($"user_id", $"t", $"event_id", $"event_type",
            r6($"value").as("value"), $"src")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type, value
             |  FROM events),
             |snap AS (
             |  SELECT user_id, t, event_id, event_type, value,
             |    'snapshot' AS src
             |  FROM e WHERE t < 1705276800000000
             |  QUALIFY row_number() OVER (PARTITION BY user_id
             |    ORDER BY t DESC, event_id DESC) = 1),
             |up AS (
             |  SELECT user_id, t, event_id, event_type, value,
             |    'update' AS src
             |  FROM e
             |  WHERE t >= 1705276800000000 AND event_type = 'purchase'),
             |u AS (SELECT * FROM snap UNION ALL SELECT * FROM up)
             |SELECT user_id, t, event_id, event_type,
             |  round(value + 1e-9, 6) AS value, src
             |FROM u
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |  ORDER BY t DESC, event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // CDC time travel (round 12): reconstruct the per-user state AS OF
    // an instant from the SCD2 history — `valid_from <= T < valid_to`
    // range lookup, the "SELECT ... FOR SYSTEM_TIME AS OF" / Delta
    // time-travel idiom rebuilt from plain SCD2 ranges. One windowed
    // history build + one range filter; no snapshot copies — at scale
    // the history is the single source and any instant is a filter,
    // which is the entire point of SCD2 over daily full dumps.
    Q("cdc3_time_travel",
      (s, dir) => {
        import s.implicits._
        val asOf = 1705276800000000L // 2024-01-15 UTC, the cdc2 cutoff
        val log = Tables.events(s, dir)
          .select($"user_id", unix_micros($"ts").as("t"),
            $"event_id", $"event_type")
        Cdc.scd2(log, Seq("user_id"), "t", "event_id", "event_type")
          .filter($"valid_from" <= asOf &&
            ($"valid_to".isNull || $"valid_to" > asOf))
          .select($"user_id", $"event_type".as("state_at_t"),
            $"valid_from", $"version")
          .orderBy($"user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
             |  FROM events),
             |d AS (
             |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
             |                   OR event_type <> lag(event_type) OVER w
             |            THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |i AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM d),
             |r AS (
             |  SELECT user_id, event_type, island, min(t) AS valid_from
             |  FROM i GROUP BY 1, 2, 3),
             |v AS (
             |  SELECT user_id, event_type, valid_from,
             |    lead(valid_from) OVER w2 AS valid_to,
             |    CAST(row_number() OVER w2 AS INT) AS version
             |  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from))
             |SELECT user_id, event_type AS state_at_t, valid_from, version
             |FROM v
             |WHERE valid_from <= 1705276800000000
             |  AND (valid_to IS NULL OR valid_to > 1705276800000000)
             |ORDER BY user_id""".stripMargin)),

    // CDC snapshot diff (round 12): what changed between two instants —
    // the cdc3 range lookup evaluated at T1 and T2 and full-outer
    // joined per key: 'added' (key exists only at T2) or 'changed'
    // (state or version moved); unchanged keys are filtered out, so
    // the output is the CHANGE SET a downstream incremental consumer
    // would apply. Still one SCD2 history build — both snapshots are
    // filters over the same windowed frame, not two table copies.
    Q("cdc4_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val t1 = 1705276800000000L // 2024-01-15 UTC
        val t2 = 1706745600000000L // 2024-02-01 UTC
        val log = Tables.events(s, dir)
          .select($"user_id", unix_micros($"ts").as("t"),
            $"event_id", $"event_type")
        val hist = graft.io.PersistRegistry.trackPersist(Cdc.scd2(log,
          Seq("user_id"), "t", "event_id", "event_type"))
        def at(ts: Long) = hist
          .filter($"valid_from" <= ts &&
            ($"valid_to".isNull || $"valid_to" > ts))
          .select($"user_id", $"event_type".as("state"),
            $"version")
        val a = at(t1).select($"user_id", $"state".as("old_state"),
          $"version".as("old_version"))
        val b = at(t2).select($"user_id", $"state".as("new_state"),
          $"version".as("new_version"))
        a.join(b, Seq("user_id"), "full_outer")
          .filter($"old_state".isNull ||
            $"old_state" =!= $"new_state" ||
            $"old_version" =!= $"new_version")
          .select($"user_id", $"old_state", $"new_state",
            $"old_version", $"new_version",
            when($"old_state".isNull, "added").otherwise("changed")
              .as("change"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
             |  FROM events),
             |d AS (
             |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
             |                   OR event_type <> lag(event_type) OVER w
             |            THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |i AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM d),
             |r AS (
             |  SELECT user_id, event_type, island, min(t) AS valid_from
             |  FROM i GROUP BY 1, 2, 3),
             |v AS (
             |  SELECT user_id, event_type, valid_from,
             |    lead(valid_from) OVER w2 AS valid_to,
             |    CAST(row_number() OVER w2 AS INT) AS version
             |  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)),
             |s1 AS (
             |  SELECT user_id, event_type AS old_state, version AS old_version
             |  FROM v WHERE valid_from <= 1705276800000000
             |    AND (valid_to IS NULL OR valid_to > 1705276800000000)),
             |s2 AS (
             |  SELECT user_id, event_type AS new_state, version AS new_version
             |  FROM v WHERE valid_from <= 1706745600000000
             |    AND (valid_to IS NULL OR valid_to > 1706745600000000))
             |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
             |  old_state, new_state, old_version, new_version,
             |  CASE WHEN old_state IS NULL THEN 'added'
             |       ELSE 'changed' END AS change
             |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
             |WHERE old_state IS NULL OR old_state <> new_state
             |   OR old_version <> new_version
             |ORDER BY user_id""".stripMargin)),

    // Deequ-style data-quality suite: per-table metric batches (ONE
    // Aggregate per table evaluates every completeness / distinctness
    // / bounds metric in a single scan) + referential integrity as
    // anti-join counts. Long-format output keeps a suite of any width
    // one tiny frame.
    Q("dq1_profile",
      (s, dir) => {
        import s.implicits._
        val orders = Tables.orders(s, dir)
        val lineitem = Tables.lineitem(s, dir)
        val om = DataQuality.profile(orders, Seq(
          "orders.rows" -> count(lit(1)),
          "orders.o_custkey.nulls" -> count(when($"o_custkey".isNull, 1)),
          "orders.o_custkey.distinct" -> countDistinct($"o_custkey"),
          "orders.o_totalprice.min" -> min($"o_totalprice"),
          "orders.o_totalprice.max" -> max($"o_totalprice")))
        val lm = DataQuality.profile(lineitem, Seq(
          "lineitem.rows" -> count(lit(1)),
          "lineitem.l_quantity.nonpositive" ->
            count(when($"l_quantity" <= 0, 1))))
        val em = DataQuality.profile(Tables.events(s, dir), Seq(
          "events.event_id.duplicates" ->
            (count(lit(1)) - countDistinct($"event_id"))))
        val dm = DataQuality.profile(Tables.documents(s, dir), Seq(
          "documents.text.blank" ->
            count(when($"text".isNull || length(trim($"text")) === 0, 1))))
        val ri1 = DataQuality.orphanCount("orders.o_custkey.orphans",
          orders, "o_custkey", Tables.customer(s, dir), "c_custkey")
        val ri2 = DataQuality.orphanCount("lineitem.l_orderkey.orphans",
          lineitem, "l_orderkey", orders, "o_orderkey")
        om.unionByName(lm).unionByName(em).unionByName(dm)
          .unionByName(ri1).unionByName(ri2)
          .withColumn("value", r6($"value"))
      },
      Some("""SELECT metric, round(value + 1e-9, 6) AS value FROM (
             |  SELECT 'orders.rows' AS metric,
             |    CAST(count(*) AS DOUBLE) AS value FROM orders
             |  UNION ALL SELECT 'orders.o_custkey.nulls',
             |    CAST(count(*) FILTER (o_custkey IS NULL) AS DOUBLE)
             |  FROM orders
             |  UNION ALL SELECT 'orders.o_custkey.distinct',
             |    CAST(count(DISTINCT o_custkey) AS DOUBLE) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.min',
             |    min(o_totalprice) FROM orders
             |  UNION ALL SELECT 'orders.o_totalprice.max',
             |    max(o_totalprice) FROM orders
             |  UNION ALL SELECT 'lineitem.rows',
             |    CAST(count(*) AS DOUBLE) FROM lineitem
             |  UNION ALL SELECT 'lineitem.l_quantity.nonpositive',
             |    CAST(count(*) FILTER (l_quantity <= 0) AS DOUBLE)
             |  FROM lineitem
             |  UNION ALL SELECT 'events.event_id.duplicates',
             |    CAST(count(*) - count(DISTINCT event_id) AS DOUBLE)
             |  FROM events
             |  UNION ALL SELECT 'documents.text.blank',
             |    CAST(count(*) FILTER (text IS NULL
             |      OR length(trim(text)) = 0) AS DOUBLE) FROM documents
             |  UNION ALL SELECT 'orders.o_custkey.orphans',
             |    CAST(count(*) AS DOUBLE) FROM orders o
             |  WHERE NOT EXISTS (SELECT 1 FROM customer c
             |                    WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL SELECT 'lineitem.l_orderkey.orphans',
             |    CAST(count(*) AS DOUBLE) FROM lineitem l
             |  WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                    WHERE o.o_orderkey = l.l_orderkey)
             |) ORDER BY metric""".stripMargin)),

    // Incremental view maintenance: the nightly-batch contract that a
    // materialized aggregate + a delta batch merge ALGEBRAICALLY into
    // the full-data aggregate — partial states (n, Σv) are mergeable
    // by summation, while avg is NOT mergeable and must be re-derived
    // from the merged partials. At 100 TB this is the difference
    // between re-scanning the whole history nightly and scanning only
    // the delta: the query computes the two partials separately
    // (pre-/post-cutoff), merges the states, and the oracle checks the
    // result equals a single pass over everything.
    Q("iv1_incremental_agg",
      (s, dir) => {
        import s.implicits._
        val cut = 1705276800000000L // 2024-01-15 UTC
        val ev = Tables.events(s, dir)
          .select($"event_type", unix_micros($"ts").as("t"), $"value")
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"event_type")
            .agg(count(lit(1)).as("n"), sum($"value").as("sv"))
        val snapshot = partial(ev.filter($"t" < cut))
        val delta = partial(ev.filter($"t" >= cut))
        snapshot.unionByName(delta)
          .groupBy($"event_type")
          .agg(sum($"n").as("n2"), sum($"sv").as("sv2"))
          .select($"event_type", $"n2".as("n"),
            r4($"sv2").as("sum_value"),
            r6($"sv2" / $"n2").as("avg_value"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  round(sum(value) + 1e-9, 4) AS sum_value,
             |  round(sum(value) / count(*) + 1e-9, 6) AS avg_value
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Behavioral-diversity entropy — Shannon entropy of each user's
    // event-type mix, the segmentation feature that separates
    // single-action users from broad ones (and the per-key form of
    // mi1's marginal entropy). One user-keyed count, entropy on the
    // ≤|types|-row per-user frame; integer products exact before ln
    // (the mi1 arithmetic), per-user term sums ≤5 elements, r6.
    Q("g21_user_entropy",
      (s, dir) => {
        import s.implicits._
        val c = Fixpoint.cut(Tables.events(s, dir)
          .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c")))
        val n = c.groupBy($"user_id").agg(sum($"c").as("n"))
        c.join(broadcast(n), "user_id")
          .select($"user_id", $"n",
            (-($"c".cast("double") / $"n")
              * log($"c".cast("double") / $"n")).as("term"))
          .groupBy($"user_id")
          .agg(max($"n").as("n_events"), count(lit(1)).as("n_types"),
            r6(sum($"term")).as("entropy"))
          .orderBy($"user_id")
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |n AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n
             |      FROM c GROUP BY 1)
             |SELECT c.user_id, max(n.n) AS n_events,
             |  count(*) AS n_types,
             |  round(sum(-(CAST(c.c AS DOUBLE) / n.n)
             |    * ln(CAST(c.c AS DOUBLE) / n.n)) + 1e-9, 6) AS entropy
             |FROM c JOIN n USING (user_id)
             |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Inter-event burstiness (Goh & Barabási 2008): per user,
    // B = (σ − μ)/(σ + μ) of the inter-arrival-time distribution —
    // B → −1 for clockwork-periodic activity, 0 for Poisson, → +1 for
    // bursty humans/bots. The temporal segmentation feature next to
    // g21's type-mix entropy. One partitioned window (lag over the
    // user-keyed Exchange+Sort) + one user-keyed aggregate; gaps are
    // exact µs integer diffs scaled to seconds by ONE IEEE divide, and
    // μ/σ are r6-canonicalized BEFORE the ratio (the f5 convention) so
    // both engines take the quotient of identical doubles.
    Q("g22_burstiness",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
        val g = Tables.events(s, dir)
          .select($"user_id", unix_micros($"ts").as("t"), $"event_id")
          .withColumn("gap",
            ($"t" - lag($"t", 1).over(w)) / lit(1000000.0))
          .filter($"gap".isNotNull)
        g.groupBy($"user_id")
          .agg(count($"gap").as("n_gaps"),
            r6(avg($"gap")).as("mu"),
            r6(stddev_samp($"gap")).as("sd"))
          .filter($"n_gaps" >= 2 && $"sd" + $"mu" > 0)
          .select($"user_id", $"n_gaps", $"mu".as("mean_gap_s"),
            r6(($"sd" - $"mu") / ($"sd" + $"mu")).as("burstiness"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
             |g AS (
             |  SELECT user_id,
             |    (t - lag(t) OVER (PARTITION BY user_id
             |       ORDER BY t, event_id)) / 1000000.0 AS gap
             |  FROM e),
             |s AS (
             |  SELECT user_id, count(gap) AS n_gaps,
             |    round(avg(gap) + 1e-9, 6) AS mu,
             |    round(stddev_samp(gap) + 1e-9, 6) AS sd
             |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
             |SELECT user_id, n_gaps, mu AS mean_gap_s,
             |  round((sd - mu) / (sd + mu) + 1e-9, 6) AS burstiness
             |FROM s WHERE n_gaps >= 2 AND sd + mu > 0
             |ORDER BY user_id""".stripMargin)),

    // Per-group mode — the aggregate pandas has (`.mode()`) and Spark
    // lacks: most frequent value per group, deterministic ties to the
    // SMALLEST value (the LabelProp convention). Two chained
    // aggregates — (group, value) counts, then a min-struct argmax —
    // never a per-group sort; combine state is the distinct-value
    // dimension, the same bound as any count-distinct shape.
    Q("g20_mode",
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .select($"event_type", (floor($"value") % 10).as("vbin"))
          .groupBy($"event_type", $"vbin").agg(count(lit(1)).as("c"))
          .groupBy($"event_type")
          .agg(min(struct((-$"c").as("negc"), $"vbin".as("v"))).as("mn"),
            count(lit(1)).as("n_distinct"))
          .select($"event_type", $"mn.v".as("mode_vbin"),
            (-$"mn.negc").as("mode_count"), $"n_distinct")
          .orderBy($"event_type")
      },
      Some("""WITH b AS (
             |  SELECT event_type, CAST(floor(value) AS BIGINT) % 10 AS vbin
             |  FROM events),
             |c AS (SELECT event_type, vbin, count(*) AS c
             |      FROM b GROUP BY 1, 2),
             |r AS (
             |  SELECT event_type, vbin, c,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY c DESC, vbin) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n_distinct
             |  FROM c)
             |SELECT event_type, vbin AS mode_vbin, c AS mode_count,
             |  n_distinct
             |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Weighted quantiles — the pricing/inventory shape ("the median
    // DOLLAR is spent at what unit price?"): per return flag, the
    // smallest extended price whose cumulative quantity weight reaches
    // q·Σw, for q = 0.25/0.5/0.75. The cumulative weight is a
    // RUNNING-frame window sum — sequential accumulation in (price,
    // orderkey, linenumber) order, so both engines fold identical
    // doubles in identical order and the threshold comparison is
    // bit-deterministic (the km1 cumulative argument). One grouped
    // Exchange+Sort; the quantile pick is a conditional min per group.
    Q("g19_weighted_quantile",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"l_returnflag")
          .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        val cum = Tables.lineitem(s, dir)
          .select($"l_returnflag", $"l_extendedprice", $"l_orderkey",
            $"l_linenumber", $"l_quantity")
          .withColumn("cw", sum($"l_quantity").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("tw", sum($"l_quantity").over(
            Window.partitionBy($"l_returnflag")))
        cum.groupBy($"l_returnflag")
          .agg(r4(max($"tw")).as("total_qty"),
            r6(min(when($"cw" >= lit(0.25) * $"tw", $"l_extendedprice")))
              .as("wp25"),
            r6(min(when($"cw" >= lit(0.5) * $"tw", $"l_extendedprice")))
              .as("wp50"),
            r6(min(when($"cw" >= lit(0.75) * $"tw", $"l_extendedprice")))
              .as("wp75"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_extendedprice,
             |    sum(l_quantity) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
             |  FROM lineitem)
             |SELECT l_returnflag,
             |  round(max(tw) + 1e-9, 4) AS total_qty,
             |  round(min(CASE WHEN cw >= 0.25 * tw THEN l_extendedprice END)
             |    + 1e-9, 6) AS wp25,
             |  round(min(CASE WHEN cw >= 0.5 * tw THEN l_extendedprice END)
             |    + 1e-9, 6) AS wp50,
             |  round(min(CASE WHEN cw >= 0.75 * tw THEN l_extendedprice END)
             |    + 1e-9, 6) AS wp75
             |FROM c GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // Mutual information between a categorical and a binned numeric
    // column (event_type × 8 equal-width value bins) — the
    // feature-relevance screen a training pipeline runs before
    // committing a column to the feature set, plus both marginal
    // entropies and the normalized MI. Scale shape: ONE fact shuffle
    // (the joint (x, y) count); marginals, entropies, and the MI sum
    // all run on the sketch-sized joint frame (|x|·bins rows,
    // localCheckpointed so its four readers don't re-scan the fact
    // table); min/max bin stats ride the 1-row broadcast idiom.
    // Integer products n_xy·n stay < 2^53 at any declared SF so the
    // doubles fed to ln are exact on both engines; the ln-term sums
    // are r4 (summation order) and nmi derives from the ROUNDED
    // aggregates (the w27 convention for nonlinear amplification).
    Q("mi1_mutual_info",
      (s, dir) => {
        import s.implicits._
        val e = Tables.events(s, dir).select($"event_type".as("x"), $"value")
        val st = e.agg(min($"value").as("vmin"), max($"value").as("vmax"))
        val joint = Fixpoint.cut(e.crossJoin(broadcast(st))
          .select($"x", least(floor(($"value" - $"vmin")
              / (($"vmax" - $"vmin") / lit(8))), lit(7L)).cast("int").as("y"))
          .groupBy($"x", $"y").agg(count(lit(1)).as("n_xy")))
        val nx = joint.groupBy($"x").agg(sum($"n_xy").as("n_x"))
        val ny = joint.groupBy($"y").agg(sum($"n_xy").as("n_y"))
        val tot = joint.agg(sum($"n_xy").as("n"))
        val mi = joint.join(broadcast(nx), "x").join(broadcast(ny), "y")
          .crossJoin(broadcast(tot))
          .select((($"n_xy".cast("double") / $"n")
            * log(($"n_xy" * $"n").cast("double") / ($"n_x" * $"n_y")))
            .as("term"))
          .agg(r4(sum($"term")).as("mi"))
        def entropy(m: org.apache.spark.sql.DataFrame, c: String,
                    out: String) =
          m.crossJoin(broadcast(tot))
            .select((-(col(c).cast("double") / $"n")
              * log(col(c).cast("double") / $"n")).as("t"))
            .agg(r4(sum($"t")).as(out))
        tot.crossJoin(broadcast(entropy(nx, "n_x", "h_x")))
          .crossJoin(broadcast(entropy(ny, "n_y", "h_y")))
          .crossJoin(broadcast(mi))
          .select($"n", $"h_x", $"h_y", $"mi",
            r6($"mi" / sqrt($"h_x" * $"h_y")).as("nmi"))
      },
      Some("""WITH e AS (SELECT event_type AS x, value AS v FROM events),
             |st AS (SELECT min(v) AS vmin, max(v) AS vmax FROM e),
             |j AS (
             |  SELECT x, CAST(least(floor((v - vmin) / ((vmax - vmin) / 8)),
             |    7) AS INT) AS y, count(*) AS n_xy
             |  FROM e, st GROUP BY 1, 2),
             |nx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x
             |       FROM j GROUP BY 1),
             |ny AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y
             |       FROM j GROUP BY 1),
             |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j),
             |mi AS (
             |  SELECT round(sum((CAST(n_xy AS DOUBLE) / n)
             |      * ln(CAST(n_xy * n AS DOUBLE) / (n_x * n_y)))
             |    + 1e-9, 4) AS mi
             |  FROM j JOIN nx USING (x) JOIN ny USING (y), t),
             |hx AS (
             |  SELECT round(sum(-(CAST(n_x AS DOUBLE) / n)
             |      * ln(CAST(n_x AS DOUBLE) / n)) + 1e-9, 4) AS h_x
             |  FROM nx, t),
             |hy AS (
             |  SELECT round(sum(-(CAST(n_y AS DOUBLE) / n)
             |      * ln(CAST(n_y AS DOUBLE) / n)) + 1e-9, 4) AS h_y
             |  FROM ny, t)
             |SELECT t.n, hx.h_x, hy.h_y, mi.mi,
             |  round(mi.mi / sqrt(hx.h_x * hy.h_y) + 1e-9, 6) AS nmi
             |FROM t, hx, hy, mi""".stripMargin)),

    // Population stability index — the drift monitor every deployed
    // model runs between a reference window and the current one:
    // value distribution binned on the REFERENCE window's range (10
    // equal-width bins, out-of-range current values clamped into the
    // edge bins), Laplace-smoothed shares on both sides (the standard
    // zero-bin guard, and deterministic unlike an ε), PSI =
    // Σ (q−p)·ln(q/p). Scale shape: ONE fact shuffle (per-bin
    // conditional counts); shares, contributions, and the PSI total
    // all run on the ≤10-row histogram. PSI ≥ 0.2 is the classic
    // "investigate the feature" alarm; the per-bin contributions say
    // WHERE the mass moved.
    Q("dq3_psi",
      (s, dir) => {
        import s.implicits._
        val cut = 1705276800000000L // 2024-01-15 UTC, the iv1 split
        val e = Tables.events(s, dir)
          .select(unix_micros($"ts").as("t"), $"value")
        val st = e.filter($"t" < cut)
          .agg(min($"value").as("vmin"), max($"value").as("vmax"))
        val cnt = Fixpoint.cut(e.crossJoin(broadcast(st))
          .select(least(greatest(floor(($"value" - $"vmin")
              / (($"vmax" - $"vmin") / lit(10))), lit(0L)), lit(9L))
            .as("bin"), ($"t" < cut).as("is_ref"))
          .groupBy($"bin")
          .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("n_ref"),
            sum(when(!$"is_ref", 1L).otherwise(0L)).as("n_cur")))
        val tot = cnt.agg(sum($"n_ref").as("t_ref"),
          sum($"n_cur").as("t_cur"))
        val contrib = cnt.crossJoin(broadcast(tot))
          .withColumn("p_ref",
            ($"n_ref" + lit(1)).cast("double") / ($"t_ref" + lit(10)))
          .withColumn("p_cur",
            ($"n_cur" + lit(1)).cast("double") / ($"t_cur" + lit(10)))
          .withColumn("contrib",
            ($"p_cur" - $"p_ref") * log($"p_cur" / $"p_ref"))
        val psi = contrib.agg(r4(sum($"contrib")).as("psi"))
        contrib.crossJoin(broadcast(psi))
          .select($"bin", $"n_ref", $"n_cur",
            r6($"p_ref").as("p_ref"), r6($"p_cur").as("p_cur"),
            r6($"contrib").as("contrib"), $"psi")
          .orderBy($"bin")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS t, value AS v FROM events),
             |st AS (SELECT min(v) AS vmin, max(v) AS vmax FROM e
             |       WHERE t < 1705276800000000),
             |c AS (
             |  SELECT CAST(least(greatest(floor((v - vmin)
             |      / ((vmax - vmin) / 10)), 0), 9) AS BIGINT) AS bin,
             |    CAST(sum(CASE WHEN t < 1705276800000000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_ref,
             |    CAST(sum(CASE WHEN t < 1705276800000000 THEN 0 ELSE 1 END)
             |      AS BIGINT) AS n_cur
             |  FROM e, st GROUP BY 1),
             |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             |         CAST(sum(n_cur) AS BIGINT) AS t_cur FROM c),
             |co AS (
             |  SELECT bin, n_ref, n_cur,
             |    CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10) AS p_ref,
             |    CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10) AS p_cur
             |  FROM c, tt),
             |cc AS (SELECT *, (p_cur - p_ref) * ln(p_cur / p_ref) AS contrib
             |       FROM co),
             |ps AS (SELECT round(sum(contrib) + 1e-9, 4) AS psi FROM cc)
             |SELECT bin, n_ref, n_cur, round(p_ref + 1e-9, 6) AS p_ref,
             |  round(p_cur + 1e-9, 6) AS p_cur,
             |  round(contrib + 1e-9, 6) AS contrib, ps.psi
             |FROM cc, ps ORDER BY bin""".stripMargin)),

    // Key-skew diagnostic — the profile you run BEFORE choosing a
    // partitioning/salting strategy (SCALING.md's broadcast > AQE >
    // salting decision needs exactly these numbers): per-key counts of
    // the hot dimension, exact count percentiles, hot-key shares, and
    // the Gini concentration index. The global total order over keys
    // comes from operators.GlobalRank (one range shuffle, no
    // single-partition funnel — keys are the dimension that GROWS with
    // the data), and every rank-derived stat (percentile-by-rank,
    // top-10 share, Σ rank·count) reads the SAME ranked frame: two
    // shuffles total. All integers until the final share/Gini
    // divisions (Σ rank·count < 2^63 at any declared SF).
    // DQ4 (round-14): k-ANONYMITY audit — the privacy/compliance pass a
    // corpus release runs: group the quasi-identifier tuple (lang,
    // source, length bucket) and flag every group smaller than k = 5,
    // i.e. the documents whose metadata combination alone narrows them
    // to fewer than k candidates. One hash aggregate over the corpus
    // (the QI tuple is the shuffle key); the flagged-group list IS the
    // suppression worklist a release pipeline acts on.
    Q("dq4_kanonymity",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("len_bucket",
            ($"n_chars" / lit(100)).cast("long") * 100)
          .groupBy($"lang", $"source", $"len_bucket")
          .agg(count(lit(1)).as("group_size"))
          .filter($"group_size" < 5)
          .orderBy($"lang", $"source", $"len_bucket")
      },
      Some("""SELECT lang, source,
             |  (n_chars // 100) * 100 AS len_bucket,
             |  CAST(count(*) AS BIGINT) AS group_size
             |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 5
             |ORDER BY 1, 2, 3""".stripMargin)),

    // DQ5 (round-14): EMBEDDING-TABLE sanity audit — the health check
    // a vector pipeline runs before (re)indexing: per label, the
    // count, dimension violations, near-zero norms (degenerate vectors
    // that poison cosine ranking), and the norm distribution envelope.
    // Norms are per-row fixed-order folds (bit-identical in DuckDB);
    // one narrow pass + a label-keyed aggregate.
    Q("dq5_embedding_sanity",
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir)
          .select($"label", $"embedding".cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(aggregate(
            transform($"v", x => x * x), lit(0.0), (a, x) => a + x)))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
            count(when(size($"v") =!= 64, 1)).as("n_bad_dim"),
            count(when($"nrm" < 1e-6, 1)).as("n_zero_norm"),
            r6(min($"nrm")).as("min_norm"),
            r6(max($"nrm")).as("max_norm"),
            r4(avg($"nrm")).as("mean_norm"))
          .orderBy($"label")
      },
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |n AS (SELECT label, v,
             |    sqrt(list_reduce(list_prepend(0.0,
             |      list_transform(v, x -> x * x)),
             |      (acc, x) -> acc + x)) AS nrm
             |  FROM e)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(count(*) FILTER (len(v) <> 64) AS BIGINT) AS n_bad_dim,
             |  CAST(count(*) FILTER (nrm < 1e-6) AS BIGINT) AS n_zero_norm,
             |  round(min(nrm) + 1e-9, 6) AS min_norm,
             |  round(max(nrm) + 1e-9, 6) AS max_norm,
             |  round(avg(nrm) + 1e-9, 4) AS mean_norm
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dq2_skew",
      (s, dir) => {
        import s.implicits._
        val c = Tables.events(s, dir)
          .groupBy($"user_id").agg(count(lit(1)).as("c"))
        val (ranked, nKeys) = graft.operators.GlobalRank.withRowNumber(
          c, Seq($"c", $"user_id"), "rk")
        def cutoff(q: Double): Long = math.ceil(q * nKeys).toLong
        ranked.agg(
            count(lit(1)).as("n_keys"),
            sum($"c").as("n_rows"),
            max($"c").as("max_cnt"),
            min(when($"rk" >= cutoff(0.50), $"c")).as("p50_cnt"),
            min(when($"rk" >= cutoff(0.90), $"c")).as("p90_cnt"),
            min(when($"rk" >= cutoff(0.99), $"c")).as("p99_cnt"),
            sum(when($"rk" > nKeys - 10, $"c").otherwise(0L)).as("top10"),
            sum($"rk" * $"c").as("src"))
          .select($"n_keys", $"n_rows", $"max_cnt",
            $"p50_cnt", $"p90_cnt", $"p99_cnt",
            r6($"max_cnt".cast("double") / $"n_rows").as("top1_share"),
            r6($"top10".cast("double") / $"n_rows").as("top10_share"),
            r6(lit(2.0) * $"src" / ($"n_keys" * $"n_rows")
              - ($"n_keys" + lit(1)).cast("double") / $"n_keys").as("gini"))
      },
      Some("""WITH c AS (
             |  SELECT user_id, count(*) AS c FROM events GROUP BY 1),
             |r AS (
             |  SELECT user_id, c,
             |    row_number() OVER (ORDER BY c, user_id) AS rk
             |  FROM c),
             |s AS (
             |  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
             |    max(c) AS max_cnt, CAST(sum(rk * c) AS BIGINT) AS src
             |  FROM r)
             |SELECT s.n_keys, s.n_rows, s.max_cnt,
             |  min(CASE WHEN r.rk >= ceil(0.50 * s.n_keys) THEN r.c END)
             |    AS p50_cnt,
             |  min(CASE WHEN r.rk >= ceil(0.90 * s.n_keys) THEN r.c END)
             |    AS p90_cnt,
             |  min(CASE WHEN r.rk >= ceil(0.99 * s.n_keys) THEN r.c END)
             |    AS p99_cnt,
             |  round(CAST(s.max_cnt AS DOUBLE) / s.n_rows + 1e-9, 6)
             |    AS top1_share,
             |  round(CAST(sum(CASE WHEN r.rk > s.n_keys - 10 THEN r.c
             |      ELSE 0 END) AS DOUBLE) / s.n_rows + 1e-9, 6)
             |    AS top10_share,
             |  round(2.0 * s.src / (s.n_keys * s.n_rows)
             |    - CAST(s.n_keys + 1 AS DOUBLE) / s.n_keys + 1e-9, 6)
             |    AS gini
             |FROM r, s
             |GROUP BY s.n_keys, s.n_rows, s.max_cnt, s.src""".stripMargin)),

    // DQ6 (round-17): Benford first-digit audit — the classic
    // fabricated-data / unit-mixup screen (Nigrini's forensic
    // standard): the leading significant digit of naturally-occurring
    // amounts follows P(d) = log10(1+1/d); a corrupted or synthetic
    // feed drifts. Cross-engine discipline: prices are moved onto the
    // integer-cents lattice first (round(p·100) — both engines round
    // half away from zero), the leading digit is a pure integer
    // CASE/div ladder (no float log10 anywhere near the hash), and
    // the Benford expectations are nine shared LITERALS cast to
    // double, so the only arithmetic is exact IEEE division of longs.
    // One scan + a 9-row aggregate + a broadcast total — the
    // dq2-style bounded-output audit shape.
    Q("dq6_benford",
      (s, dir) => {
        import s.implicits._
        val cents = Tables.lineitem(s, dir)
          .select(round($"l_extendedprice" * 100).cast("long").as("c"))
          .filter($"c" > 0)
        val dig = cents.withColumn("digit",
          when($"c" < 10L, $"c").when($"c" < 100L, expr("c div 10"))
            .when($"c" < 1000L, expr("c div 100"))
            .when($"c" < 10000L, expr("c div 1000"))
            .when($"c" < 100000L, expr("c div 10000"))
            .when($"c" < 1000000L, expr("c div 100000"))
            .when($"c" < 10000000L, expr("c div 1000000"))
            .when($"c" < 100000000L, expr("c div 10000000"))
            .when($"c" < 1000000000L, expr("c div 100000000"))
            .when($"c" < 10000000000L, expr("c div 1000000000"))
            .when($"c" < 100000000000L, expr("c div 10000000000"))
            .otherwise(expr("c div 100000000000")))
        val byd = dig.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        val tot = byd.agg(sum($"n_obs").as("n_total"))
        val benford = when($"digit" === 1, 0.30103)
          .when($"digit" === 2, 0.176091).when($"digit" === 3, 0.124939)
          .when($"digit" === 4, 0.09691).when($"digit" === 5, 0.079181)
          .when($"digit" === 6, 0.066947).when($"digit" === 7, 0.057992)
          .when($"digit" === 8, 0.051153).otherwise(0.045757)
        byd.crossJoin(broadcast(tot))
          .select($"digit", $"n_obs",
            r6($"n_obs".cast("double") / $"n_total").as("share_obs"),
            benford.as("share_benford"),
            r6(abs(r6($"n_obs".cast("double") / $"n_total") - benford))
              .as("abs_dev"))
      },
      // the filter is on the ROUNDED cents (c > 0), matching the plan
      // exactly: a price in (0, 0.005) rounds to cent 0 and must be
      // excluded by BOTH engines (round-17 ADVICE — the previous
      // WHERE l_extendedprice > 0 diverged on that subcent corner,
      // unreachable on TPC-H prices but latent on other data)
      Some("""WITH c0 AS (
             |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |c AS (SELECT c FROM c0 WHERE c > 0),
             |d AS (
             |  SELECT CASE
             |    WHEN c < 10 THEN c WHEN c < 100 THEN c // 10
             |    WHEN c < 1000 THEN c // 100
             |    WHEN c < 10000 THEN c // 1000
             |    WHEN c < 100000 THEN c // 10000
             |    WHEN c < 1000000 THEN c // 100000
             |    WHEN c < 10000000 THEN c // 1000000
             |    WHEN c < 100000000 THEN c // 10000000
             |    WHEN c < 1000000000 THEN c // 100000000
             |    WHEN c < 10000000000 THEN c // 1000000000
             |    WHEN c < 100000000000 THEN c // 10000000000
             |    ELSE c // 100000000000 END AS digit
             |  FROM c),
             |g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g),
             |b AS (
             |  SELECT digit, n_obs,
             |    round(CAST(n_obs AS DOUBLE) / n_total + 1e-9, 6)
             |      AS share_obs,
             |    CAST(CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091
             |      WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691
             |      WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
             |      WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
             |      ELSE 0.045757 END AS DOUBLE) AS share_benford
             |  FROM g, t)
             |SELECT digit, n_obs, share_obs, share_benford,
             |  round(abs(share_obs - share_benford) + 1e-9, 6) AS abs_dev
             |FROM b""".stripMargin)),

    // DQ7 (round-18): referential-integrity audit — the full-surface
    // data-contract check. dq1 already carries orphan COUNTS for two
    // edges (DataQuality.orphanCount's left-anti join) as metrics
    // inside the profile; this is the dedicated audit across ALL FOUR
    // FK edges with the metric orphanCount cannot produce: parent
    // COVERAGE (parents with ≥1 child / parents), which needs the
    // left join's MATCHED side, not the anti side — covered_parents
    // falls out of the same join as count(DISTINCT matched pk), one
    // pass per edge, no second semi-join job. Orphans are the
    // corruption signal (zero on intact TPC-H — PROVEN through the
    // real join, not assumed); coverage is non-trivially below 1 by
    // TPC-H design (customers without orders → 0.9829 on the orders
    // edge at sf0.01), so the join machinery is load-bearing in the
    // hash, not vacuously zero. Child keys join the DISTINCT parent
    // keys (never duplicating children under parent-side dup keys);
    // four single-row aggregate frames union lazily into a 4-row
    // audit. At 100 TB each edge is one shuffle-or-broadcast join +
    // aggregate — the cheapest possible shape for the check.
    Q("dq7_referential",
      (s, dir) => {
        import s.implicits._
        def edge(child: org.apache.spark.sql.DataFrame, ck: String,
                 parent: org.apache.spark.sql.DataFrame, pk: String,
                 label: String) = {
          val pKeys = parent.select(col(pk).as("__pk")).distinct()
          val joined = child.select(col(ck).as("__ck"))
            .join(pKeys, col("__ck") === col("__pk"), "left")
            .agg(count(lit(1)).as("child_rows"),
              sum(when(col("__pk").isNull, 1L).otherwise(0L))
                .as("orphan_rows"),
              countDistinct(col("__ck")).as("child_keys"),
              countDistinct(col("__pk")).as("covered_parents"))
          val pCount = pKeys.agg(count(lit(1)).as("parent_rows"))
          joined.crossJoin(broadcast(pCount))
            .select(lit(label).as("fk"), $"child_rows", $"orphan_rows",
              $"child_keys", $"covered_parents", $"parent_rows",
              r6($"covered_parents".cast("double") / $"parent_rows")
                .as("coverage"))
        }
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        edge(li, "l_orderkey", o, "o_orderkey",
            "lineitem.l_orderkey->orders.o_orderkey")
          .unionByName(edge(li, "l_partkey", Tables.part(s, dir),
            "p_partkey", "lineitem.l_partkey->part.p_partkey"))
          .unionByName(edge(li, "l_suppkey", Tables.supplier(s, dir),
            "s_suppkey", "lineitem.l_suppkey->supplier.s_suppkey"))
          .unionByName(edge(o, "o_custkey", Tables.customer(s, dir),
            "c_custkey", "orders.o_custkey->customer.c_custkey"))
          .orderBy($"fk")
      },
      Some("""WITH edges AS (
             |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
             |    count(*) AS child_rows,
             |    CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS orphan_rows,
             |    count(DISTINCT l.l_orderkey) AS child_keys,
             |    count(DISTINCT p.pk) AS covered_parents
             |  FROM lineitem l LEFT JOIN
             |    (SELECT DISTINCT o_orderkey AS pk FROM orders) p
             |    ON l.l_orderkey = p.pk
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->part.p_partkey', count(*),
             |    CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT l.l_partkey), count(DISTINCT p.pk)
             |  FROM lineitem l LEFT JOIN
             |    (SELECT DISTINCT p_partkey AS pk FROM part) p
             |    ON l.l_partkey = p.pk
             |  UNION ALL
             |  SELECT 'lineitem.l_suppkey->supplier.s_suppkey', count(*),
             |    CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT l.l_suppkey), count(DISTINCT p.pk)
             |  FROM lineitem l LEFT JOIN
             |    (SELECT DISTINCT s_suppkey AS pk FROM supplier) p
             |    ON l.l_suppkey = p.pk
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer.c_custkey', count(*),
             |    CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT),
             |    count(DISTINCT o.o_custkey), count(DISTINCT p.pk)
             |  FROM orders o LEFT JOIN
             |    (SELECT DISTINCT c_custkey AS pk FROM customer) p
             |    ON o.o_custkey = p.pk),
             |pr AS (
             |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
             |    count(DISTINCT o_orderkey) AS parent_rows FROM orders
             |  UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey',
             |    count(DISTINCT p_partkey) FROM part
             |  UNION ALL SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
             |    count(DISTINCT s_suppkey) FROM supplier
             |  UNION ALL SELECT 'orders.o_custkey->customer.c_custkey',
             |    count(DISTINCT c_custkey) FROM customer)
             |SELECT e.fk, e.child_rows, e.orphan_rows, e.child_keys,
             |  e.covered_parents, pr.parent_rows,
             |  round(e.covered_parents / CAST(pr.parent_rows AS DOUBLE)
             |    + 1e-9, 6) AS coverage
             |FROM edges e JOIN pr ON e.fk = pr.fk
             |ORDER BY e.fk""".stripMargin)))
}
