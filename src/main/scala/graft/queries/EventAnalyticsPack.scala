package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.queries.Rx.{r4, r6}
import graft.operators.Fixpoint

/** Event-analytics pack (beyond-reference completeness): the
  * product-analytics operators a clickstream/event warehouse runs daily —
  * ordered funnels, cohort retention, marketing attribution, OHLC/VWAP
  * bars, robust outlier detection, and histograms. The reference's
  * domain is financial event panels (SURVEY §2.4–§2.5); these are the
  * same shapes generalized to the `events` table, each expressed as a
  * shuffle-minimal Catalyst plan with a DuckDB oracle.
  *
  * Scale notes (100 TB):
  *  - f1/f2 aggregate per-user state via `collect_list`/`collect_set`
  *    bounded by per-user event counts (clickstream cardinality, not
  *    corpus cardinality) — ONE user-keyed shuffle each, no self-join;
  *  - f3 reuses [[graft.joins.AsOfJoin]] (union + one window, no range
  *    cross-join) for last-touch and a min-struct aggregate for
  *    first-touch;
  *  - f5/f6 broadcast tiny per-group/global stats back instead of
  *    re-shuffling the fact table (the crossJoin(broadcast(1-row))
  *    scalar idiom used across the repo).
  */
object EventAnalyticsPack extends QueryPack {

  private val DayUs = 86400000000L // µs per day

  /** events with `t` = µs epoch (matches DuckDB `epoch_us(ts)`). */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("t", unix_micros(col("ts")))

  /** events sliced to `[loUs, hiUs)` through the date-partitioned
    * layout (round-11: the p2/w4b idiom made the norm for date-sliced
    * analytics): the `day` predicate prunes whole directories
    * (PartitionFilters — at 100 TB the scan never lists files outside
    * the window), the raw `ts` predicate still prunes row groups inside
    * the boundary days. `t` is the layout's raw µs epoch long, the same
    * value [[ev]] derives. */
  private def evSliced(s: SparkSession, dir: String,
                       loUs: Long, hiUs: Long): DataFrame = {
    import graft.io.EventsLayout
    // day-of(hiUs − 1), NOT day-of(hiUs): a strict `day < dayOf(hiUs)`
    // would silently drop the partial boundary day whenever hiUs is not
    // midnight-aligned (round-11 advice). The exact upper bound is still
    // enforced by the raw `ts` predicate; the day predicate only has to
    // be a superset that prunes directories.
    EventsLayout.read(s, dir)
      .filter(col("day") >= lit(EventsLayout.dayOfUs(loUs)) &&
              col("day") <= lit(EventsLayout.dayOfUs(hiUs - 1)))
      .filter(col("ts") >= loUs && col("ts") < hiUs)
      .withColumn("t", col("ts"))
  }

  /** The f2/a2 analysis window: 2024-01-01 .. 2024-01-22 UTC (first
    * three weeks of the panel — present at every SF). */
  private val SliceLoUs = 1704067200000000L
  private val SliceHiUs = 1705881600000000L
  private val OracleSlice =
    s"epoch_us(ts) >= $SliceLoUs AND epoch_us(ts) < $SliceHiUs"

  private val OracleEv =
    "SELECT event_id, epoch_us(ts) AS t, user_id, event_type, value, props FROM events"

  /** Funnel stage order for f1. */
  private val Stages = Seq("signup", "view", "click", "purchase")

  def queries: Seq[Q] = Seq(

    // f1: ordered funnel — users reaching signup → view → click →
    // purchase with strictly increasing event time. ONE user-keyed
    // shuffle: per-user events are sorted as an array and scanned with
    // a codegen'd `aggregate` fold (stage advances when the NEXT
    // stage's type appears strictly later than the previous match) —
    // no K self-joins, no per-stage shuffles. The fold state is
    // (stage, ts) so ties at equal t cannot double-advance (matches
    // the oracle's strict `t >` chaining).
    Q("f1_funnel",
      (s, dir) => {
        import s.implicits._
        val stageArr = array(Stages.map(lit): _*)
        val e = ev(s, dir)
          .filter($"event_type".isin(Stages: _*))
          .select($"user_id", $"t", $"event_type".as("et"))
        val reached = e.groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"t", $"et"))).as("evs"))
          .select($"user_id",
            aggregate($"evs",
              struct(lit(0).as("stage"), lit(-1L).as("ts")),
              (acc: Column, x: Column) =>
                when(acc("stage") < lit(Stages.size) &&
                     x("et") === element_at(stageArr, acc("stage") + lit(1)) &&
                     x("t") > acc("ts"),
                  struct((acc("stage") + lit(1)).as("stage"), x("t").as("ts")))
                .otherwise(acc))("stage").as("reached"))
        reached.filter($"reached" >= 1)
          .select(explode(sequence(lit(1), $"reached")).as("stage_idx"))
          .groupBy($"stage_idx".cast("long").as("stage_idx"))
          .agg(count(lit(1)).as("users"))
          .select($"stage_idx",
            element_at(stageArr, $"stage_idx".cast("int")).as("stage"),
            $"users")
      },
      Some(s"""WITH e AS ($OracleEv),
             |s1 AS (SELECT user_id, min(t) AS t1 FROM e
             |       WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND e.t > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND e.t > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.t) AS t4 FROM e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND e.t > s3.t3 GROUP BY 1)
             |SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage,
             |       count(*) AS users FROM s1
             |UNION ALL SELECT 2, 'view', count(*) FROM s2
             |UNION ALL SELECT 3, 'click', count(*) FROM s3
             |UNION ALL SELECT 4, 'purchase', count(*) FROM s4""".stripMargin)),

    // f2: cohort retention — distinct users active at each day-offset
    // from their cohort (first-seen) day, over the 3-week analysis
    // window. ONE user-keyed shuffle: the per-user distinct-day set is
    // collected and exploded with the cohort day read from the sorted
    // set's head — no (user,day) pre-aggregate shuffle, no
    // user⋈activity join. Each exploded row is a distinct (user, day),
    // so the final count IS distinct users. Round-11: routed through
    // the date-partitioned layout (evSliced) so the window predicate is
    // a directory-level PartitionFilter, not a full-table scan.
    Q("f2_retention",
      (s, dir) => {
        import s.implicits._
        evSliced(s, dir, SliceLoUs, SliceHiUs)
          .select($"user_id", ($"t".cast("long") / lit(DayUs)).cast("long").as("day"))
          .groupBy($"user_id")
          .agg(array_sort(collect_set($"day")).as("days"))
          .select(element_at($"days", 1).as("cohort_day"),
            explode($"days").as("day"))
          .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
          .agg(count(lit(1)).as("users"))
      },
      Some(s"""WITH ud AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
             |  FROM events WHERE $OracleSlice),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
             |SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
             |       count(*) AS users
             |FROM ud JOIN c USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // f3: marketing attribution — each purchase's value credited to a
    // touch channel (view/click) under BOTH models: last-touch (most
    // recent touch at-or-before the purchase; AsOfJoin's union+window
    // rewrite, one shuffle) and first-touch (the user's earliest touch,
    // if at-or-before the purchase; a min-struct aggregate + broadcast
    // join). Touches are deduplicated to one per (user, t) with the
    // max channel on BOTH engines, so as-of tie-breaks are identical.
    Q("f3_attribution",
      (s, dir) => {
        import s.implicits._
        val e = ev(s, dir)
        val purchases = e.filter($"event_type" === "purchase")
          .select($"user_id", $"t", $"value")
        val touches = e.filter($"event_type".isin("view", "click"))
          .groupBy($"user_id", $"t")
          .agg(max($"event_type").as("channel"))
        val last = graft.joins.AsOfJoin.backward(
            purchases, touches, Seq("user_id"), "t", "t", Seq("channel"))
          .select(coalesce($"asof_channel", lit("none")).as("channel"), $"value")
          .groupBy($"channel")
          .agg(count(lit(1)).as("purchases"), r4(sum($"value")).as("revenue"))
          .select(lit("last_touch").as("model"), $"channel", $"purchases", $"revenue")
        val firstTouch = touches.groupBy($"user_id")
          .agg(min(struct($"t", $"channel")).as("f"))
        val first = purchases.join(broadcast(firstTouch), Seq("user_id"), "left")
          .select(when($"f.t" <= $"t", $"f.channel").otherwise(lit("none")).as("channel"),
            $"value")
          .groupBy($"channel")
          .agg(count(lit(1)).as("purchases"), r4(sum($"value")).as("revenue"))
          .select(lit("first_touch").as("model"), $"channel", $"purchases", $"revenue")
        last.unionByName(first)
      },
      Some(s"""WITH e AS ($OracleEv),
             |p AS (SELECT user_id, t, value FROM e WHERE event_type = 'purchase'),
             |tch AS (SELECT user_id, t, max(event_type) AS channel FROM e
             |        WHERE event_type IN ('view', 'click') GROUP BY 1, 2),
             |lt AS (SELECT coalesce(x.channel, 'none') AS channel, p.value
             |       FROM p ASOF LEFT JOIN tch x
             |         ON p.user_id = x.user_id AND p.t >= x.t),
             |fm AS (SELECT user_id, min(t) AS ft FROM tch GROUP BY 1),
             |fc AS (SELECT fm.user_id, fm.ft, min(tch.channel) AS channel
             |       FROM fm JOIN tch ON tch.user_id = fm.user_id AND tch.t = fm.ft
             |       GROUP BY 1, 2),
             |ft AS (SELECT CASE WHEN fc.ft <= p.t THEN fc.channel
             |              ELSE 'none' END AS channel, p.value
             |       FROM p LEFT JOIN fc ON p.user_id = fc.user_id)
             |SELECT 'last_touch' AS model, channel, count(*) AS purchases,
             |       round(sum(value) + 1e-9, 4) AS revenue FROM lt GROUP BY 1, 2
             |UNION ALL
             |SELECT 'first_touch', channel, count(*),
             |       round(sum(value) + 1e-9, 4) FROM ft GROUP BY 1, 2""".stripMargin)),

    // f4: per-user-day OHLC + VWAP bars — the canonical financial
    // downsample (reference domain: per-symbol daily bars) over the
    // event stream. Open/close are min/max-struct aggregates ordered
    // by (t, event_id) — argmin/argmax without a window pass or
    // self-join; one (user, day)-keyed shuffle total, map-side
    // partials for every aggregate.
    Q("f4_bars",
      (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .select($"user_id", ($"t".cast("long") / lit(DayUs)).cast("long").as("day"),
            $"t", $"event_id", $"value",
            get_json_object($"props", "$.k").cast("double").as("vol"))
          .groupBy($"user_id", $"day")
          .agg(count(lit(1)).as("n"),
            r6(min(struct($"t", $"event_id", $"value"))("value")).as("open"),
            r6(max(struct($"t", $"event_id", $"value"))("value")).as("close"),
            r6(max($"value")).as("high"),
            r6(min($"value")).as("low"),
            r4(sum($"vol")).as("volume"),
            // try_divide: a zero-volume day yields NULL vwap — exactly
            // DuckDB's x/0.0 → NULL semantics (13 such days at sf0.01)
            r4(try_divide(sum($"value" * $"vol"), sum($"vol"))).as("vwap"))
      },
      Some(s"""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // $DayUs AS day, epoch_us(ts) AS t,
             |    event_id, value,
             |    CAST(json_extract_string(props, '$$.k') AS DOUBLE) AS vol
             |  FROM events)
             |SELECT user_id, day, count(*) AS n,
             |  round(first(value ORDER BY t, event_id) + 1e-9, 6) AS open,
             |  round(last(value ORDER BY t, event_id) + 1e-9, 6) AS close,
             |  round(max(value) + 1e-9, 6) AS high,
             |  round(min(value) + 1e-9, 6) AS low,
             |  round(sum(vol) + 1e-9, 4) AS volume,
             |  round(sum(value * vol) / sum(vol) + 1e-9, 4) AS vwap
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // f4b (round-12, VERDICT item 2): the f4 OHLC/VWAP bars over the
    // 3-week analysis window, routed through the date-partitioned
    // layout — the day predicate prunes whole directories
    // (PartitionFilters), the ts predicate prunes row groups inside
    // boundary days. At 100 TB "bars for last month" must never list
    // the other 35 months' files; this is that query. Aggregation
    // identical to f4 (one (user, day)-keyed shuffle).
    Q("f4b_bars_sliced",
      (s, dir) => {
        import s.implicits._
        evSliced(s, dir, SliceLoUs, SliceHiUs)
          .select($"user_id", ($"t".cast("long") / lit(DayUs)).cast("long").as("day"),
            $"t", $"event_id", $"value",
            get_json_object($"props", "$.k").cast("double").as("vol"))
          .groupBy($"user_id", $"day")
          .agg(count(lit(1)).as("n"),
            r6(min(struct($"t", $"event_id", $"value"))("value")).as("open"),
            r6(max(struct($"t", $"event_id", $"value"))("value")).as("close"),
            r6(max($"value")).as("high"),
            r6(min($"value")).as("low"),
            r4(sum($"vol")).as("volume"),
            r4(try_divide(sum($"value" * $"vol"), sum($"vol"))).as("vwap"))
      },
      Some(s"""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // $DayUs AS day, epoch_us(ts) AS t,
             |    event_id, value,
             |    CAST(json_extract_string(props, '$$.k') AS DOUBLE) AS vol
             |  FROM events WHERE $OracleSlice)
             |SELECT user_id, day, count(*) AS n,
             |  round(first(value ORDER BY t, event_id) + 1e-9, 6) AS open,
             |  round(last(value ORDER BY t, event_id) + 1e-9, 6) AS close,
             |  round(max(value) + 1e-9, 6) AS high,
             |  round(min(value) + 1e-9, 6) AS low,
             |  round(sum(vol) + 1e-9, 4) AS volume,
             |  round(sum(value * vol) / sum(vol) + 1e-9, 4) AS vwap
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // f1b (round-12, VERDICT item 2): the f1 ordered funnel over the
    // 3-week window through the partitioned layout — the standard
    // "conversion funnel for the campaign period" report, with the
    // period predicate as a directory-level PartitionFilter. Same
    // single user-keyed fold as f1.
    Q("f1b_funnel_sliced",
      (s, dir) => {
        import s.implicits._
        val stageArr = array(Stages.map(lit): _*)
        val e = evSliced(s, dir, SliceLoUs, SliceHiUs)
          .filter($"event_type".isin(Stages: _*))
          .select($"user_id", $"t", $"event_type".as("et"))
        val reached = e.groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"t", $"et"))).as("evs"))
          .select($"user_id",
            aggregate($"evs",
              struct(lit(0).as("stage"), lit(-1L).as("ts")),
              (acc: Column, x: Column) =>
                when(acc("stage") < lit(Stages.size) &&
                     x("et") === element_at(stageArr, acc("stage") + lit(1)) &&
                     x("t") > acc("ts"),
                  struct((acc("stage") + lit(1)).as("stage"), x("t").as("ts")))
                .otherwise(acc))("stage").as("reached"))
        reached.filter($"reached" >= 1)
          .select(explode(sequence(lit(1), $"reached")).as("stage_idx"))
          .groupBy($"stage_idx".cast("long").as("stage_idx"))
          .agg(count(lit(1)).as("users"))
          .select($"stage_idx",
            element_at(stageArr, $"stage_idx".cast("int")).as("stage"),
            $"users")
      },
      Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
             |           FROM events WHERE $OracleSlice),
             |s1 AS (SELECT user_id, min(t) AS t1 FROM e
             |       WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND e.t > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND e.t > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.t) AS t4 FROM e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND e.t > s3.t3 GROUP BY 1)
             |SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage,
             |       count(*) AS users FROM s1
             |UNION ALL SELECT 2, 'view', count(*) FROM s2
             |UNION ALL SELECT 3, 'click', count(*) FROM s3
             |UNION ALL SELECT 4, 'purchase', count(*) FROM s4""".stripMargin)),

    // f5b (round-12, VERDICT item 2): f5's median/MAD outlier gate
    // over the 3-week window through the partitioned layout — both
    // passes over the fact table now scan only the window's
    // directories (the broadcast-stats shape is unchanged).
    Q("f5b_outliers_sliced",
      (s, dir) => {
        import s.implicits._
        val base = evSliced(s, dir, SliceLoUs, SliceHiUs)
          .select($"event_type", $"value")
        val med = base.groupBy($"event_type")
          .agg(r6(percentile($"value", lit(0.5))).as("med"))
        val dev = base.join(broadcast(med), "event_type")
          .withColumn("adev", abs($"value" - $"med"))
        val mad = dev.groupBy($"event_type")
          .agg(min($"med").as("med"),
            r6(percentile($"adev", lit(0.5))).as("mad"))
        dev.select($"event_type", $"adev")
          .join(broadcast(mad), "event_type")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(($"adev" > lit(3.0 * 1.4826) * $"mad").cast("long")).as("n_outliers"),
            min($"med").as("med"), min($"mad").as("mad"))
      },
      Some(s"""WITH ev AS (SELECT event_type, value FROM events
             |            WHERE $OracleSlice),
             |m AS (
             |  SELECT event_type, round(quantile_cont(value, 0.5) + 1e-9, 6) AS med
             |  FROM ev GROUP BY 1),
             |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
             |      FROM ev e JOIN m USING (event_type)),
             |md AS (SELECT event_type, round(quantile_cont(adev, 0.5) + 1e-9, 6) AS mad
             |       FROM d GROUP BY 1)
             |SELECT d.event_type, count(*) AS n,
             |  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * md.mad
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  min(d.med) AS med, min(md.mad) AS mad
             |FROM d JOIN md USING (event_type)
             |GROUP BY 1""".stripMargin)),

    // f6b (round-12, VERDICT item 2): f6's equi-width histogram over
    // the 3-week window through the partitioned layout — min/max scan
    // and bucket scan both pruned to the window's directories.
    Q("f6b_histogram_sliced",
      (s, dir) => {
        import s.implicits._
        val base = evSliced(s, dir, SliceLoUs, SliceHiUs).select($"value")
        val stats = base.agg(min($"value").as("vmin"), max($"value").as("vmax"))
        base.crossJoin(broadcast(stats))
          .select(least(floor(($"value" - $"vmin") /
              (($"vmax" - $"vmin") / lit(20.0))), lit(19L)).as("bucket"),
            $"value")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            r6(min($"value")).as("lo_obs"),
            r6(max($"value")).as("hi_obs"))
      },
      Some(s"""WITH ev AS (SELECT value FROM events WHERE $OracleSlice),
             |s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ev),
             |b AS (SELECT least(floor((value - vmin) / ((vmax - vmin) / 20)), 19)
             |        AS bucket, value
             |      FROM ev, s)
             |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
             |  round(min(value) + 1e-9, 6) AS lo_obs,
             |  round(max(value) + 1e-9, 6) AS hi_obs
             |FROM b GROUP BY 1""".stripMargin)),

    // f9b (round-12, VERDICT item 2): f9's RFM segmentation over the
    // 3-week window through the partitioned layout — recency measured
    // against the WINDOW's latest purchase. The period-scoped RFM an
    // analyst actually runs ("RFM for Q1") — at 100 TB the difference
    // between scanning one quarter's directories and the full history.
    Q("f9b_rfm_sliced",
      (s, dir) => {
        import s.implicits._
        val p = evSliced(s, dir, SliceLoUs, SliceHiUs)
          .filter($"event_type" === "purchase")
          .select($"user_id", $"t", $"value")
        val tmax = p.agg(max($"t").as("tmax"))
        val base = p.groupBy($"user_id")
          .agg(max($"t").as("last_t"), count(lit(1)).as("frequency"),
            r4(sum($"value")).as("monetary"))
          .crossJoin(broadcast(tmax))
          .select($"user_id", ($"tmax" - $"last_t").as("recency_us"),
            $"frequency", $"monetary")
        import graft.operators.GlobalRank
        val r1 = GlobalRank.withNtile(base,
          Seq($"recency_us", $"user_id"), 4, "r_q")
        val r2 = GlobalRank.withNtile(r1,
          Seq($"frequency".desc, $"user_id"), 4, "f_q")
        GlobalRank.withNtile(r2,
          Seq($"monetary".desc, $"user_id"), 4, "m_q")
      },
      Some(s"""WITH p AS (SELECT user_id, epoch_us(ts) AS t, value
             |           FROM events
             |           WHERE event_type = 'purchase' AND $OracleSlice),
             |mx AS (SELECT max(t) AS tmax FROM p),
             |b AS (SELECT user_id, mx.tmax - max(t) AS recency_us,
             |        count(*) AS frequency,
             |        round(sum(value) + 1e-9, 4) AS monetary
             |      FROM p, mx GROUP BY user_id, mx.tmax)
             |SELECT user_id, recency_us, frequency, monetary,
             |  ntile(4) OVER (ORDER BY recency_us, user_id) AS r_q,
             |  ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
             |  ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
             |FROM b""".stripMargin)),

    // f5: robust outliers — per-type median/MAD with a 3σ-equivalent
    // cutoff (3·1.4826·MAD). Two passes over the fact table with the
    // 5-row stats broadcast back each time — no fact-table re-shuffle.
    // med/mad are rounded to 6dp BEFORE the comparison on both engines
    // so the cutoff is computed from identical doubles (percentile vs
    // quantile_cont may differ in the last ulp).
    Q("f5_outliers",
      (s, dir) => {
        import s.implicits._
        val base = ev(s, dir).select($"event_type", $"value")
        val med = base.groupBy($"event_type")
          .agg(r6(percentile($"value", lit(0.5))).as("med"))
        val dev = base.join(broadcast(med), "event_type")
          .withColumn("adev", abs($"value" - $"med"))
        val mad = dev.groupBy($"event_type")
          .agg(min($"med").as("med"),
            r6(percentile($"adev", lit(0.5))).as("mad"))
        dev.select($"event_type", $"adev")
          .join(broadcast(mad), "event_type")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(($"adev" > lit(3.0 * 1.4826) * $"mad").cast("long")).as("n_outliers"),
            min($"med").as("med"), min($"mad").as("mad"))
      },
      Some("""WITH m AS (
             |  SELECT event_type, round(quantile_cont(value, 0.5) + 1e-9, 6) AS med
             |  FROM events GROUP BY 1),
             |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
             |      FROM events e JOIN m USING (event_type)),
             |md AS (SELECT event_type, round(quantile_cont(adev, 0.5) + 1e-9, 6) AS mad
             |       FROM d GROUP BY 1)
             |SELECT d.event_type, count(*) AS n,
             |  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * md.mad
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  min(d.med) AS med, min(md.mad) AS mad
             |FROM d JOIN md USING (event_type)
             |GROUP BY 1""".stripMargin)),

    // f8: time-to-convert — latency distribution from the FIRST funnel
    // stage to full conversion, over the same strict-time fold as f1
    // (state additionally carries the signup time). Quantiles are
    // exact `percentile` over the converting users (bounded output);
    // the oracle replays the s1..s4 chain and takes quantile_cont of
    // (t4 − t1). Sums of µs epochs stay exact in doubles at any
    // plausible converted-user count (< 2^53), so avg is cross-engine
    // exact before rounding.
    Q("f8_time_to_convert",
      (s, dir) => {
        import s.implicits._
        val stageArr = array(Stages.map(lit): _*)
        val e = ev(s, dir)
          .filter($"event_type".isin(Stages: _*))
          .select($"user_id", $"t", $"event_type".as("et"))
        e.groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"t", $"et"))).as("evs"))
          .select($"user_id",
            aggregate($"evs",
              struct(lit(0).as("stage"), lit(-1L).as("ts"), lit(-1L).as("t0")),
              (acc: Column, x: Column) =>
                when(acc("stage") < lit(Stages.size) &&
                     x("et") === element_at(stageArr, acc("stage") + lit(1)) &&
                     x("t") > acc("ts"),
                  struct((acc("stage") + lit(1)).as("stage"), x("t").as("ts"),
                    when(acc("stage") === 0, x("t"))
                      .otherwise(acc("t0")).as("t0")))
                .otherwise(acc)).as("st"))
          .filter($"st.stage" === Stages.size)
          .select(($"st.ts" - $"st.t0").as("dt"))
          .agg(count(lit(1)).as("n_converted"),
            r6(percentile($"dt", lit(0.5))).as("p50_us"),
            r6(percentile($"dt", lit(0.9))).as("p90_us"),
            r4(avg($"dt")).as("avg_us"))
      },
      Some(s"""WITH e AS ($OracleEv),
             |s1 AS (SELECT user_id, min(t) AS t1 FROM e
             |       WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND e.t > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND e.t > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.t) AS t4 FROM e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND e.t > s3.t3 GROUP BY 1),
             |c AS (SELECT s4.user_id, s4.t4 - s1.t1 AS dt
             |      FROM s4 JOIN s1 USING (user_id))
             |SELECT count(*) AS n_converted,
             |  round(quantile_cont(dt, 0.5) + 1e-9, 6) AS p50_us,
             |  round(quantile_cont(dt, 0.9) + 1e-9, 6) AS p90_us,
             |  round(avg(dt) + 1e-9, 4) AS avg_us
             |FROM c""".stripMargin)),

    // f7: top session paths — the ClickHouse-style clickstream path
    // report. Sessions are the repo's standard 30-min-gap islands (the
    // rj2/w12 definition: lag + running flag-sum, ONE user-keyed
    // window); the per-session path is the event-type sequence joined
    // in (t, event_id) order — built by sorting the collected struct
    // array, NOT a second window pass. Top 50 by (count desc, path) is
    // a TakeOrderedAndProject: bounded driver result, full tie-break
    // determinism.
    Q("f7_paths",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
        val sid = ev(s, dir)
          .select($"user_id", $"t", $"event_id", $"event_type")
          .withColumn("ns",
            when(lag($"t", 1).over(w).isNull ||
              $"t" - lag($"t", 1).over(w) >= lit(1800000000L), 1).otherwise(0))
          .withColumn("sid", sum($"ns").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sid.groupBy($"user_id", $"sid")
          .agg(array_join(transform(
            sort_array(collect_list(struct($"t", $"event_id",
              $"event_type".as("et")))), x => x("et")), ">").as("path"))
          .groupBy($"path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("path")).limit(50)
      },
      Some(s"""WITH e AS ($OracleEv),
             |g AS (SELECT user_id, t, event_id, event_type,
             |        CASE WHEN lag(t) OVER w IS NULL
             |               OR t - lag(t) OVER w >= 1800000000
             |        THEN 1 ELSE 0 END AS ns
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |sids AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
             |           ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |         FROM g),
             |p AS (SELECT user_id, sid,
             |        string_agg(event_type, '>' ORDER BY t, event_id) AS path
             |      FROM sids GROUP BY 1, 2)
             |SELECT path, count(*) AS n FROM p GROUP BY 1
             |ORDER BY n DESC, path LIMIT 50""".stripMargin)),

    // f9: RFM segmentation — recency/frequency/monetary per purchasing
    // user, quartiled with ntile(4). The base aggregate is one
    // user-keyed shuffle over purchases; the global reference time is
    // a 1-row broadcast scalar. The three ntile windows are GLOBAL
    // (empty partitionBy) — acceptable because they run over the USER
    // dimension (already aggregated), not the fact table; monetary is
    // r4-rounded BEFORE ordering and every window tie-breaks on
    // user_id, so bucket boundaries are cross-engine deterministic.
    Q("f9_rfm",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val p = ev(s, dir).filter($"event_type" === "purchase")
          .select($"user_id", $"t", $"value")
        val tmax = p.agg(max($"t").as("tmax"))
        val base = p.groupBy($"user_id")
          .agg(max($"t").as("last_t"), count(lit(1)).as("frequency"),
            r4(sum($"value")).as("monetary"))
          .crossJoin(broadcast(tmax))
          .select($"user_id", ($"tmax" - $"last_t").as("recency_us"),
            $"frequency", $"monetary")
        // GlobalRank.withNtile: bit-identical to the ntile window
        // (GlobalRankSpec) but range-partitioned — no single-partition
        // funnel even when the user dimension itself is huge
        import graft.operators.GlobalRank
        val r1 = GlobalRank.withNtile(base,
          Seq($"recency_us", $"user_id"), 4, "r_q")
        val r2 = GlobalRank.withNtile(r1,
          Seq($"frequency".desc, $"user_id"), 4, "f_q")
        GlobalRank.withNtile(r2,
          Seq($"monetary".desc, $"user_id"), 4, "m_q")
      },
      Some(s"""WITH e AS ($OracleEv),
             |p AS (SELECT user_id, t, value FROM e WHERE event_type = 'purchase'),
             |mx AS (SELECT max(t) AS tmax FROM p),
             |b AS (SELECT user_id, mx.tmax - max(t) AS recency_us,
             |        count(*) AS frequency,
             |        round(sum(value) + 1e-9, 4) AS monetary
             |      FROM p, mx GROUP BY user_id, mx.tmax)
             |SELECT user_id, recency_us, frequency, monetary,
             |  ntile(4) OVER (ORDER BY recency_us, user_id) AS r_q,
             |  ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
             |  ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
             |FROM b""".stripMargin)),

    // f10: funnel × segment — the f1 fold's per-user stage joined to
    // the user's monetary quartile (the f9 RFM axis), counted per
    // (segment, stage). Composition stays shuffle-minimal: the fold is
    // the same ONE user-keyed shuffle; the segment map is a user-dim
    // aggregate broadcast into the join; non-purchasers land in
    // segment 0. The oracle replays the s1..s4 chain against the same
    // ntile CTE.
    Q("f10_funnel_by_segment",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val stageArr = array(Stages.map(lit): _*)
        val e = ev(s, dir)
        val reached = e.filter($"event_type".isin(Stages: _*))
          .select($"user_id", $"t", $"event_type".as("et"))
          .groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"t", $"et"))).as("evs"))
          .select($"user_id",
            aggregate($"evs",
              struct(lit(0).as("stage"), lit(-1L).as("ts")),
              (acc: Column, x: Column) =>
                when(acc("stage") < lit(Stages.size) &&
                     x("et") === element_at(stageArr, acc("stage") + lit(1)) &&
                     x("t") > acc("ts"),
                  struct((acc("stage") + lit(1)).as("stage"), x("t").as("ts")))
                .otherwise(acc))("stage").as("reached"))
        val seg = graft.operators.GlobalRank.withNtile(
            e.filter($"event_type" === "purchase")
              .groupBy($"user_id").agg(r4(sum($"value")).as("monetary")),
            Seq($"monetary".desc, $"user_id"), 4, "m_q")
          .select($"user_id", $"m_q")
        reached.join(broadcast(seg), Seq("user_id"), "left")
          .select(coalesce($"m_q", lit(0)).cast("long").as("segment"), $"reached")
          .filter($"reached" >= 1)
          .select($"segment", explode(sequence(lit(1), $"reached")).as("stage_idx"))
          .groupBy($"segment", $"stage_idx".cast("long").as("stage_idx"))
          .agg(count(lit(1)).as("users"))
      },
      Some(s"""WITH e AS ($OracleEv),
             |s1 AS (SELECT user_id, min(t) AS t1 FROM e
             |       WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND e.t > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND e.t > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.t) AS t4 FROM e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND e.t > s3.t3 GROUP BY 1),
             |r AS (SELECT user_id, 1 AS stage_idx FROM s1
             |      UNION ALL SELECT user_id, 2 FROM s2
             |      UNION ALL SELECT user_id, 3 FROM s3
             |      UNION ALL SELECT user_id, 4 FROM s4),
             |m AS (SELECT user_id, round(sum(value) + 1e-9, 4) AS monetary
             |      FROM e WHERE event_type = 'purchase' GROUP BY 1),
             |q AS (SELECT user_id,
             |        ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
             |      FROM m)
             |SELECT CAST(coalesce(q.m_q, 0) AS BIGINT) AS segment,
             |  CAST(r.stage_idx AS BIGINT) AS stage_idx,
             |  count(*) AS users
             |FROM r LEFT JOIN q USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // a2: seasonal anomaly counts — per (event_type, hour-of-day)
    // baseline (mean, sample std) with a 3σ gate over the 3-week
    // analysis window. The f5 broadcast pattern: the ≤120-row baseline
    // is r6-rounded BEFORE the comparison on both engines and broadcast
    // back to the fact scan, so anomaly classification computes from
    // identical doubles with no second fact shuffle. Round-11: routed
    // through the date-partitioned layout (evSliced) so the window
    // predicate is a directory-level PartitionFilter.
    Q("a2_seasonal",
      (s, dir) => {
        import s.implicits._
        val base = evSliced(s, dir, SliceLoUs, SliceHiUs)
          .select($"event_type",
            (($"t" % lit(86400000000L)) / lit(3600000000L)).cast("long").as("hour"),
            $"value")
        val stats = base.groupBy($"event_type", $"hour")
          .agg(r6(avg($"value")).as("mu"),
            r6(stddev_samp($"value")).as("sd"))
        base.join(broadcast(stats), Seq("event_type", "hour"))
          .groupBy($"event_type", $"hour")
          .agg(count(lit(1)).as("n"),
            sum((abs($"value" - $"mu") > lit(3.0) * $"sd").cast("long"))
              .as("n_anomalies"),
            min($"mu").as("mu"), min($"sd").as("sd"))
      },
      Some(s"""WITH e AS (
             |  SELECT event_type,
             |    (epoch_us(ts) % 86400000000) // 3600000000 AS hour, value
             |  FROM events WHERE $OracleSlice),
             |s AS (SELECT event_type, hour,
             |        round(avg(value) + 1e-9, 6) AS mu,
             |        round(stddev_samp(value) + 1e-9, 6) AS sd
             |      FROM e GROUP BY 1, 2)
             |SELECT e.event_type, e.hour, count(*) AS n,
             |  CAST(sum(CASE WHEN abs(e.value - s.mu) > 3 * s.sd
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
             |  min(s.mu) AS mu, min(s.sd) AS sd
             |FROM e JOIN s USING (event_type, hour)
             |GROUP BY 1, 2""".stripMargin)),

    // a3: two-sided CUSUM changepoint detection (Page 1954) per user
    // over the r6-rounded daily series — k = 0.5σ drift allowance,
    // h = 4σ decision interval, reset-on-alarm. The coupled
    // (s⁺, s⁻, alarms) recurrence runs as the h1 fold: ONE user-keyed
    // shuffle, state is two doubles + a counter; the oracle replays
    // the identical recurrence as a recursive CTE. μ/σ are computed in
    // the SAME aggregate that collects the series and enter the fold
    // r6-rounded through the fold's INITIAL state, so every step
    // computes from identical doubles on both engines (each operand
    // tree below is written in the exact shape the oracle repeats).
    Q("a3_cusum",
      (s, dir) => {
        import s.implicits._
        val daily = ev(s, dir)
          .groupBy($"user_id", ($"t".cast("long") / lit(DayUs))
            .cast("long").as("day"))
          .agg(r6(sum($"value")).as("y"))
        daily.groupBy($"user_id")
          .agg(sort_array(collect_list(struct($"day", $"y"))).as("ys"),
            r6(avg($"y")).as("mu"), r6(stddev_samp($"y")).as("sd"))
          .filter($"sd".isNotNull && $"sd" > 0)
          .select($"user_id", size($"ys").cast("long").as("n_days"),
            aggregate($"ys",
              struct(lit(0.0).as("sp"), lit(0.0).as("sn"), lit(0).as("al"),
                $"mu".as("mu"), $"sd".as("sd")),
              (acc: Column, x: Column) => {
                val sp1 = greatest(lit(0.0),
                  acc("sp") + (x("y") - acc("mu")) - lit(0.5) * acc("sd"))
                val sn1 = greatest(lit(0.0),
                  acc("sn") - (x("y") - acc("mu")) - lit(0.5) * acc("sd"))
                val alarm = sp1 > lit(4.0) * acc("sd") ||
                  sn1 > lit(4.0) * acc("sd")
                when(alarm,
                  struct(lit(0.0).as("sp"), lit(0.0).as("sn"),
                    (acc("al") + lit(1)).as("al"),
                    acc("mu").as("mu"), acc("sd").as("sd")))
                .otherwise(
                  struct(sp1.as("sp"), sn1.as("sn"), acc("al").as("al"),
                    acc("mu").as("mu"), acc("sd").as("sd")))
              }).as("st"))
          .select($"user_id", $"n_days", $"st.al".cast("long").as("n_alarms"),
            r6($"st.sp").as("sp_end"), r6($"st.sn").as("sn_end"))
      },
      Some(s"""WITH RECURSIVE e AS ($OracleEv),
             |d AS (SELECT user_id, t // $DayUs AS day,
             |        round(sum(value) + 1e-9, 6) AS y
             |      FROM e GROUP BY 1, 2),
             |st AS (SELECT user_id, round(avg(y) + 1e-9, 6) AS mu,
             |        round(stddev_samp(y) + 1e-9, 6) AS sd
             |      FROM d GROUP BY 1),
             |o AS (SELECT d.user_id, d.y, st.mu, st.sd,
             |        row_number() OVER (PARTITION BY d.user_id
             |          ORDER BY day) AS rn
             |      FROM d JOIN st USING (user_id)
             |      WHERE st.sd IS NOT NULL AND st.sd > 0),
             |c AS (
             |  SELECT user_id, rn, mu, sd,
             |    CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) + (y - mu) - 0.5 * sd) > 4.0 * sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) - (y - mu) - 0.5 * sd) > 4.0 * sd
             |         THEN CAST(0.0 AS DOUBLE)
             |         ELSE greatest(CAST(0.0 AS DOUBLE),
             |           CAST(0.0 AS DOUBLE) + (y - mu) - 0.5 * sd) END AS sp,
             |    CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) + (y - mu) - 0.5 * sd) > 4.0 * sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) - (y - mu) - 0.5 * sd) > 4.0 * sd
             |         THEN CAST(0.0 AS DOUBLE)
             |         ELSE greatest(CAST(0.0 AS DOUBLE),
             |           CAST(0.0 AS DOUBLE) - (y - mu) - 0.5 * sd) END AS sn,
             |    CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) + (y - mu) - 0.5 * sd) > 4.0 * sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             CAST(0.0 AS DOUBLE) - (y - mu) - 0.5 * sd) > 4.0 * sd
             |         THEN 1 ELSE 0 END AS al
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.user_id, o.rn, o.mu, o.sd,
             |    CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             c.sp + (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             c.sn - (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |         THEN CAST(0.0 AS DOUBLE)
             |         ELSE greatest(CAST(0.0 AS DOUBLE),
             |           c.sp + (o.y - o.mu) - 0.5 * o.sd) END,
             |    CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             c.sp + (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             c.sn - (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |         THEN CAST(0.0 AS DOUBLE)
             |         ELSE greatest(CAST(0.0 AS DOUBLE),
             |           c.sn - (o.y - o.mu) - 0.5 * o.sd) END,
             |    c.al + CASE WHEN greatest(CAST(0.0 AS DOUBLE),
             |             c.sp + (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |           OR greatest(CAST(0.0 AS DOUBLE),
             |             c.sn - (o.y - o.mu) - 0.5 * o.sd) > 4.0 * o.sd
             |         THEN 1 ELSE 0 END
             |  FROM c JOIN o ON o.user_id = c.user_id AND o.rn = c.rn + 1)
             |SELECT user_id, rn AS n_days, CAST(al AS BIGINT) AS n_alarms,
             |  round(sp + 1e-9, 6) AS sp_end, round(sn + 1e-9, 6) AS sn_end
             |FROM c
             |QUALIFY rn = max(rn) OVER (PARTITION BY user_id)""".stripMargin)),

    // f6: equi-width histogram (20 bins) of `value` — global min/max
    // via a 1-row aggregate broadcast back (the scalar idiom), bucket
    // arithmetic per-row in identical IEEE double ops on both engines,
    // top edge closed via least(·, 19). Reports observed per-bucket
    // bounds so the output is data-derived, not formula-derived.
    Q("f6_histogram",
      (s, dir) => {
        import s.implicits._
        val base = ev(s, dir).select($"value")
        val stats = base.agg(min($"value").as("vmin"), max($"value").as("vmax"))
        base.crossJoin(broadcast(stats))
          .select(least(floor(($"value" - $"vmin") /
              (($"vmax" - $"vmin") / lit(20.0))), lit(19L)).as("bucket"),
            $"value")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            r6(min($"value")).as("lo_obs"),
            r6(max($"value")).as("hi_obs"))
      },
      Some("""WITH s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
             |b AS (SELECT least(floor((value - vmin) / ((vmax - vmin) / 20)), 19)
             |        AS bucket, value
             |      FROM events, s)
             |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
             |  round(min(value) + 1e-9, 6) AS lo_obs,
             |  round(max(value) + 1e-9, 6) AS hi_obs
             |FROM b GROUP BY 1""".stripMargin)),

    // Linear (equal-credit) multi-touch attribution — the third model
    // next to f3's first/last-touch: every view/click in the 7 days
    // up to the purchase shares the conversion credit equally
    // (credit = value / n_touches). The touch set is a per-user band
    // join (user equi-key + time-band residual — per-user fanout
    // bounded, never a time cross-join); n_touches is a window over
    // the purchase key. Credits are exact small rationals per row;
    // their sums are r4 (order). Touchless purchases credit 'none'.
    Q("f13_linear_attribution",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val winUs = 7L * DayUs
        val e = ev(s, dir)
        val p = e.filter($"event_type" === "purchase")
          .select($"event_id".as("pid"), $"user_id", $"t".as("tp"), $"value")
        val tch = e.filter($"event_type".isin("view", "click"))
          .select($"user_id", $"t".as("tt"), $"event_type".as("channel"))
        val j = p.join(tch, Seq("user_id"), "left")
          .withColumn("hit",
            $"tt".isNotNull && $"tt" <= $"tp" && $"tt" > $"tp" - winUs)
          // keep exactly one row for touchless purchases, all hit rows
          // for touched ones
          .withColumn("n_hits",
            sum($"hit".cast("long")).over(Window.partitionBy($"pid")))
          .filter($"hit" || $"n_hits" === 0)
          .withColumn("rn", row_number().over(
            Window.partitionBy($"pid").orderBy($"tt")))
          .filter($"hit" || $"rn" === 1)
        j.select(
            when($"hit", $"channel").otherwise(lit("none")).as("channel"),
            when($"hit", lit(1.0) / $"n_hits").otherwise(lit(1.0))
              .as("credit"),
            when($"hit", $"value" / $"n_hits").otherwise($"value")
              .as("rev"))
          .groupBy($"channel")
          .agg(r4(sum($"credit")).as("conversions"),
            r4(sum($"rev")).as("revenue"))
          .orderBy($"channel")
      },
      Some(s"""WITH e AS ($OracleEv),
             |p AS (SELECT event_id AS pid, user_id, t AS tp, value
             |      FROM e WHERE event_type = 'purchase'),
             |tch AS (SELECT user_id, t AS tt, event_type AS channel
             |        FROM e WHERE event_type IN ('view', 'click')),
             |j AS (
             |  SELECT p.pid, p.value, tch.tt, tch.channel,
             |    tch.tt IS NOT NULL AND tch.tt <= p.tp
             |      AND tch.tt > p.tp - ${7L * 86400000000L} AS hit
             |  FROM p LEFT JOIN tch ON p.user_id = tch.user_id),
             |h AS (
             |  SELECT *,
             |    sum(CASE WHEN hit THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY pid) AS n_hits,
             |    row_number() OVER (PARTITION BY pid ORDER BY tt) AS rn
             |  FROM j),
             |k AS (SELECT * FROM h WHERE hit OR n_hits = 0 AND rn = 1),
             |c AS (
             |  SELECT CASE WHEN hit THEN channel ELSE 'none' END AS channel,
             |    CASE WHEN hit THEN CAST(1.0 AS DOUBLE) / n_hits
             |         ELSE CAST(1.0 AS DOUBLE) END AS credit,
             |    CASE WHEN hit THEN value / n_hits ELSE value END AS rev
             |  FROM k)
             |SELECT channel, round(sum(credit) + 1e-9, 4) AS conversions,
             |  round(sum(rev) + 1e-9, 4) AS revenue
             |FROM c GROUP BY 1 ORDER BY channel""".stripMargin)),

    // Welch two-sample t-test — the A/B-experiment readout: does
    // `value` differ between the click and view arms? ONE fact shuffle
    // (per-arm n/mean/variance), then the t statistic and
    // Welch–Satterthwaite df on the 1-row frame. Means/variances are
    // rounded (r6) BEFORE the nonlinear t/df arithmetic on both
    // engines (the w27 amplification convention), so the statistic is
    // hash-exact.
    Q("ab1_welch_ttest",
      (s, dir) => {
        import s.implicits._
        val st = ev(s, dir)
          .filter($"event_type".isin("click", "view"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), r6(avg($"value")).as("m"),
            r6(var_samp($"value")).as("v"))
        val row = st.agg(
          max(when($"event_type" === "click", $"n")).as("n_a"),
          max(when($"event_type" === "click", $"m")).as("mean_a"),
          max(when($"event_type" === "click", $"v")).as("var_a"),
          max(when($"event_type" === "view", $"n")).as("n_b"),
          max(when($"event_type" === "view", $"m")).as("mean_b"),
          max(when($"event_type" === "view", $"v")).as("var_b"))
        val sa = $"var_a" / $"n_a"
        val sb = $"var_b" / $"n_b"
        row.select($"n_a", $"mean_a", $"var_a", $"n_b", $"mean_b", $"var_b",
          r6(($"mean_a" - $"mean_b") / sqrt(sa + sb)).as("t_stat"),
          r6((sa + sb) * (sa + sb)
            / (sa * sa / ($"n_a" - 1) + sb * sb / ($"n_b" - 1))).as("df"))
      },
      Some("""WITH st AS (
             |  SELECT event_type, count(*) AS n,
             |    round(avg(value) + 1e-9, 6) AS m,
             |    round(var_samp(value) + 1e-9, 6) AS v
             |  FROM events WHERE event_type IN ('click', 'view')
             |  GROUP BY 1),
             |w AS (
             |  SELECT
             |    max(CASE WHEN event_type = 'click' THEN n END) AS n_a,
             |    max(CASE WHEN event_type = 'click' THEN m END) AS mean_a,
             |    max(CASE WHEN event_type = 'click' THEN v END) AS var_a,
             |    max(CASE WHEN event_type = 'view' THEN n END) AS n_b,
             |    max(CASE WHEN event_type = 'view' THEN m END) AS mean_b,
             |    max(CASE WHEN event_type = 'view' THEN v END) AS var_b
             |  FROM st)
             |SELECT n_a, mean_a, var_a, n_b, mean_b, var_b,
             |  round((mean_a - mean_b)
             |    / sqrt(var_a / n_a + var_b / n_b) + 1e-9, 6) AS t_stat,
             |  round((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             |    / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
             |       + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) + 1e-9, 6)
             |    AS df
             |FROM w""".stripMargin)),

    // Chi-square test of independence on the 2×2 (cohort × converted)
    // table — the conversion-significance readout: cohort = a
    // deterministic 50/50 split (user_id parity, the hash-bucket
    // assignment an experimentation platform makes), converted = the
    // user ever purchased. One user-keyed aggregate then a 4-cell
    // contingency reduction; all counts stay integers until the
    // expected-count division.
    Q("ab2_chi2",
      (s, dir) => {
        import s.implicits._
        val u = ev(s, dir)
          .groupBy($"user_id")
          .agg(max(($"event_type" === "purchase").cast("long")).as("conv"))
          .select(($"user_id" % 2).as("cohort"), $"conv")
        val cells = Fixpoint.cut(u.groupBy($"cohort", $"conv")
          .agg(count(lit(1)).as("o")))
        val tot = cells.agg(sum($"o").as("n"))
        val rowt = cells.groupBy($"cohort").agg(sum($"o").as("rt"))
        val colt = cells.groupBy($"conv").agg(sum($"o").as("ct"))
        val chi = cells
          .join(broadcast(rowt), "cohort").join(broadcast(colt), "conv")
          .crossJoin(broadcast(tot))
          .select((($"o" - $"rt" * $"ct" / $"n".cast("double"))
            * ($"o" - $"rt" * $"ct" / $"n".cast("double"))
            / ($"rt" * $"ct" / $"n".cast("double"))).as("term"))
          .agg(r6(sum($"term")).as("chi2"))
        cells.agg(
            sum(when($"cohort" === 0 && $"conv" === 0, $"o")).as("n00"),
            sum(when($"cohort" === 0 && $"conv" === 1, $"o")).as("n01"),
            sum(when($"cohort" === 1 && $"conv" === 0, $"o")).as("n10"),
            sum(when($"cohort" === 1 && $"conv" === 1, $"o")).as("n11"))
          .crossJoin(broadcast(chi))
      },
      Some("""WITH u AS (
             |  SELECT user_id % 2 AS cohort,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM events GROUP BY user_id),
             |c AS (SELECT cohort, conv, count(*) AS o FROM u GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
             |rt AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS rt
             |       FROM c GROUP BY 1),
             |ct AS (SELECT conv, CAST(sum(o) AS BIGINT) AS ct
             |       FROM c GROUP BY 1),
             |chi AS (
             |  SELECT round(sum(
             |      (o - rt.rt * ct.ct / CAST(n AS DOUBLE))
             |      * (o - rt.rt * ct.ct / CAST(n AS DOUBLE))
             |      / (rt.rt * ct.ct / CAST(n AS DOUBLE))) + 1e-9, 6) AS chi2
             |  FROM c JOIN rt USING (cohort) JOIN ct USING (conv), t)
             |SELECT
             |  CAST(sum(CASE WHEN cohort = 0 AND conv = 0 THEN o END)
             |    AS BIGINT) AS n00,
             |  CAST(sum(CASE WHEN cohort = 0 AND conv = 1 THEN o END)
             |    AS BIGINT) AS n01,
             |  CAST(sum(CASE WHEN cohort = 1 AND conv = 0 THEN o END)
             |    AS BIGINT) AS n10,
             |  CAST(sum(CASE WHEN cohort = 1 AND conv = 1 THEN o END)
             |    AS BIGINT) AS n11,
             |  chi.chi2
             |FROM c, chi GROUP BY chi.chi2""".stripMargin)),

    // Kaplan–Meier survival estimator over signup→purchase durations
    // WITH right-censoring (non-converters observed until their last
    // event — the half f8 drops, and the difference between a survival
    // curve and a naive conversion histogram). Per-user reduction is
    // one user-keyed aggregate; the product-limit curve runs on the
    // ≤90-row day frame: at-risk counts are EXACT integer running
    // sums, and S(d) = exp(Σ ln(1 − d_i/n_i)) accumulates identical
    // doubles in identical day order on both engines (r6 at the end).
    Q("km1_kaplan_meier",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val e = ev(s, dir).select($"user_id", $"t", $"event_type")
        val u = e.groupBy($"user_id").agg(
            min(when($"event_type" === "signup", $"t")).as("t0"),
            max($"t").as("tlast"))
          .filter($"t0".isNotNull)
        val conv = e.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"t").as("tc_raw"))
        val durs = u.join(conv, Seq("user_id"), "left")
          .select($"user_id", $"t0", $"tlast",
            when($"tc_raw" > $"t0", $"tc_raw").as("tconv"))
          .select(
            when($"tconv".isNotNull, ($"tconv" - $"t0") / lit(DayUs))
              .otherwise(($"tlast" - $"t0") / lit(DayUs))
              .cast("long").as("day"),
            $"tconv".isNotNull.cast("long").as("died"))
        val byDay = Fixpoint.cut(durs.groupBy($"day").agg(
            sum($"died").as("n_conv"),
            sum(lit(1L) - $"died").as("n_cens")))
        // the life-table window below is unpartitioned by design (KM
        // survival is a global cumulative product over days at risk);
        // its input is one row per calendar DAY, bounded by the
        // observation span, never the event count. byDay is already
        // materialized (localCheckpoint), so counting it is a block
        // read — enforce the bound instead of assuming it (r18 VERDICT
        // item 6). 65536 days ≈ 179 years of span.
        val nDays = byDay.count()
        require(nDays <= 65536,
          s"$nDays day rows: survival life-table window is single-partition")
        val nTot = byDay.agg(sum($"n_conv" + $"n_cens").as("n"))
        val w = Window.orderBy($"day")
        byDay.crossJoin(broadcast(nTot))
          .withColumn("ended_before",
            coalesce(sum($"n_conv" + $"n_cens").over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n_risk", $"n" - $"ended_before")
          .withColumn("surv", r6(exp(sum(
            log(lit(1.0) - $"n_conv".cast("double") / $"n_risk")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)))))
          .select($"day", $"n_risk", $"n_conv", $"n_cens", $"surv")
          .orderBy($"day")
      },
      Some(s"""WITH e AS ($OracleEv),
             |u AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'signup' THEN t END) AS t0,
             |    max(t) AS tlast
             |  FROM e GROUP BY 1 HAVING t0 IS NOT NULL),
             |cv AS (SELECT user_id, min(t) AS tc_raw FROM e
             |       WHERE event_type = 'purchase' GROUP BY 1),
             |d AS (
             |  SELECT CASE WHEN cv.tc_raw > u.t0
             |      THEN (cv.tc_raw - u.t0) // ${DayUs}
             |      ELSE (u.tlast - u.t0) // ${DayUs} END AS day,
             |    CASE WHEN cv.tc_raw > u.t0 THEN 1 ELSE 0 END AS died
             |  FROM u LEFT JOIN cv USING (user_id)),
             |bd AS (
             |  SELECT day, CAST(sum(died) AS BIGINT) AS n_conv,
             |    CAST(sum(1 - died) AS BIGINT) AS n_cens
             |  FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n_conv + n_cens) AS BIGINT) AS n FROM bd),
             |rk AS (
             |  SELECT day, n_conv, n_cens,
             |    CAST(n - COALESCE(sum(n_conv + n_cens) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS n_risk
             |  FROM bd, t)
             |SELECT day, n_risk, n_conv, n_cens,
             |  round(exp(sum(ln(1.0 - CAST(n_conv AS DOUBLE) / n_risk))
             |    OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |    + 1e-9, 6) AS surv
             |FROM rk ORDER BY day""".stripMargin)))
}
