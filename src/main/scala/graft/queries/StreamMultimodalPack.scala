package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.io.Tables
import graft.multimodal.Multimodal
import graft.queries.Rx.r6
import graft.sim.Similarity
import graft.streaming.StreamOps
import graft.operators.Fixpoint

/** Streaming + multimodal tier (SURVEY §2.9; BASELINE.json multimodal
  * extension). Every streaming query executes a REAL Structured Streaming
  * plan (memory sink, drained synchronously by `StreamOps.drainToTable`)
  * so the driver verifies the streaming path itself, not a batch
  * re-implementation. */
object StreamMultimodalPack extends QueryPack {



  def queries: Seq[Q] = Seq(

    // Streaming W14: tumbling daily windows + watermark over a parquet
    // file stream, drained to a memory sink.
    Q("st1_stream_daily",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
        StreamOps.drainToTable(StreamOps.dailyCounts(stream), "complete", "st1")
          .select(unix_micros($"day").as("day"), $"event_type", $"n",
            Rx.r4($"sum_value").as("sum_value"))
      },
      Some("""SELECT epoch_us(date_trunc('day', ts)) AS day, event_type,
             |  count(*) AS n, round(sum(value) + 1e-9, 4) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Streaming top-k: the bounded-heap aggregate (TopKAgg) as a
    // STREAMING aggregation — its merge() is a true heap union, so
    // partial states combine across micro-batches exactly like map-side
    // partials in batch (the window idiom has no streaming equivalent
    // at all: ranking functions are unsupported on streams). Complete
    // mode keeps per-key state of O(k), not O(rows).
    Q("st6_stream_topk",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
        val agg = stream.groupBy($"user_id")
          .agg(graft.operators.TopKAgg.topK(
            struct($"value".isNull.cast("int"), negate($"value"), $"event_id"),
            struct($"event_id", $"value"), 3).as("tk"))
        StreamOps.drainToTable(agg, "complete", "st6")
          .select($"user_id", posexplode($"tk").as(Seq("pos", "kv")))
          .select($"user_id", $"kv.value.event_id".as("event_id"),
            Rx.r4($"kv.value.value").as("value"), ($"pos" + 1).as("rank"))
      },
      Some("""WITH r AS (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY value DESC, event_id) AS rank
             |  FROM events)
             |SELECT user_id, event_id, round(value + 1e-9, 4) AS value, rank
             |FROM r WHERE rank <= 3""".stripMargin)),

    // Streaming similarity retrieval: the corpus arrives as a stream,
    // the (tiny, normalized) query set is a broadcast static side, and
    // TopKAgg maintains O(k) per-query state across micro-batches — a
    // streaming index-refresh shape (new embeddings continuously
    // folded into each query's running top-k). Arithmetic is the s1
    // path verbatim (withNormalized + codegen'd dot), so the oracle is
    // s1's exact brute-force SQL.
    Q("st8_stream_ann",
      (s, dir) => {
        import s.implicits._
        val queries = graft.sim.Similarity.withNormalized(
            Tables.embeddings(s, dir)
              .select($"vec_id", $"embedding".cast("array<double>").as("v"))
              .filter($"vec_id" < 10), "v", "qv")
          .select($"vec_id".as("query_id"), $"qv")
        val stream = Tables.stream(s, dir, "embeddings")
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val scored = graft.sim.Similarity.withNormalized(stream, "v", "cv")
          .join(broadcast(queries), $"query_id" =!= $"vec_id")
          .withColumn("cos", graft.sim.Similarity.dot($"qv", $"cv"))
        val agg = scored.groupBy($"query_id")
          .agg(graft.operators.TopKAgg.topK(
            struct($"cos".isNull.cast("int"), negate($"cos"), $"vec_id"),
            struct($"vec_id", $"cos"), 5).as("tk"))
        StreamOps.drainToTable(agg, "complete", "st8")
          .select($"query_id", posexplode($"tk").as(Seq("pos", "kv")))
          .select($"query_id", $"kv.value.vec_id".as("corpus_id"),
            r6($"kv.value.cos").as("cos"), ($"pos" + 1).as("rank"))
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

    // Streaming stream-stream JOIN: clicks and views arrive as two
    // watermarked streams; each click joins the same user's views in
    // the hour before it (the streaming form of the range/as-of
    // family). Both sides' watermarks bound the join state store —
    // rows older than the horizon are evicted, so state is
    // O(rows-per-horizon) at any scale, which an un-watermarked
    // stream-stream join cannot guarantee. Inner-join matches emit as
    // they are found (append mode); the oracle is the equivalent batch
    // interval self-join on epoch-µs.
    Q("st9_stream_join",
      (s, dir) => {
        import s.implicits._
        def stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
          .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        val clicks = stream.filter($"event_type" === "click").drop("event_type")
        val views = stream.filter($"event_type" === "view").drop("event_type")
        val joined = StreamOps.intervalJoinStream(clicks, views, "user_id",
          "ts", lookback = "1 hour", watermark = "2 hours")
        StreamOps.drainToTable(joined, "append", "st9")
          .select($"l_user_id".as("user_id"),
            $"l_event_id".as("click_id"), $"r_event_id".as("view_id"),
            unix_micros($"l_ts").as("click_t"), unix_micros($"r_ts").as("view_t"),
            r6($"l_value" - $"r_value").as("value_gap"))
      },
      Some("""SELECT l.user_id, l.event_id AS click_id, r.event_id AS view_id,
             |  epoch_us(l.ts) AS click_t, epoch_us(r.ts) AS view_t,
             |  round(l.value - r.value + 1e-9, 6) AS value_gap
             |FROM events l JOIN events r
             |  ON l.user_id = r.user_id
             | AND l.event_type = 'click' AND r.event_type = 'view'
             | AND epoch_us(r.ts) >= epoch_us(l.ts) - 3600000000
             | AND epoch_us(r.ts) <= epoch_us(l.ts)""".stripMargin)),

    // Streaming LEFT OUTER interval join — the append-mode outer-join
    // finalization semantics on top of st9's inner shape: matches emit
    // on arrival; a click with no view in its lookback emits its
    // null-padded row only when the min-across-inputs watermark passes
    // the last instant a match could arrive (r_ts ≤ l_ts ⇒ watermark >
    // l_ts), so clicks the final watermark never reaches are withheld.
    // The oracle applies the identical rule: matched pairs UNION
    // unmatched clicks with l_ts < min(max click ts, max view ts) − 2h.
    Q("st12_stream_left_join",
      (s, dir) => {
        import s.implicits._
        def stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
          .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
        val clicks = stream.filter($"event_type" === "click").drop("event_type")
        val views = stream.filter($"event_type" === "view").drop("event_type")
        val joined = StreamOps.intervalLeftJoinStream(clicks, views,
          "user_id", "ts", lookback = "1 hour", watermark = "2 hours")
        StreamOps.drainToTable(joined, "append", "st12")
          .select($"l_user_id".as("user_id"),
            $"l_event_id".as("click_id"), $"r_event_id".as("view_id"),
            unix_micros($"l_ts").as("click_t"),
            unix_micros($"r_ts").as("view_t"),
            r6($"l_value" - $"r_value").as("value_gap"))
      },
      Some("""WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
             |          FROM events WHERE event_type = 'click'),
             |v AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
             |      FROM events WHERE event_type = 'view'),
             |m AS (SELECT c.user_id, c.event_id AS click_id,
             |    v.event_id AS view_id, c.t AS click_t, v.t AS view_t,
             |    round(c.value - v.value + 1e-9, 6) AS value_gap
             |  FROM c JOIN v ON c.user_id = v.user_id
             |   AND v.t >= c.t - 3600000000 AND v.t <= c.t),
             |wm AS (SELECT least((SELECT max(t) FROM c),
             |    (SELECT max(t) FROM v)) - 7200000000 AS w),
             |um AS (SELECT c.user_id, c.event_id AS click_id,
             |    CAST(NULL AS BIGINT) AS view_id, c.t AS click_t,
             |    CAST(NULL AS BIGINT) AS view_t,
             |    CAST(NULL AS DOUBLE) AS value_gap
             |  FROM c
             |  WHERE NOT EXISTS (SELECT 1 FROM v
             |      WHERE v.user_id = c.user_id
             |        AND v.t >= c.t - 3600000000 AND v.t <= c.t)
             |    AND c.t < (SELECT w FROM wm))
             |SELECT * FROM m UNION ALL SELECT * FROM um""".stripMargin)),

    // Streaming session windows (the streaming form of w19): native
    // session_window aggregation with an event-time watermark. Append
    // mode emits a session only once the watermark passes its end
    // (last event + gap), so sessions still open at end-of-stream are
    // withheld — the oracle applies the same finalization rule
    // explicitly (watermark = global max event time with a 0s delay).
    // State per key is one open session — bounded at any scale.
    Q("st10_stream_sessions",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
          .withWatermark("ts", "0 seconds")
        val agg = stream
          .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"), Rx.r4(sum($"value")).as("sum_value"))
        StreamOps.drainToTable(agg, "append", "st10").select($"user_id",
          unix_micros($"sw.start").as("session_start"), $"n_events", $"sum_value")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(t) OVER w IS NULL
             |                   OR t - lag(t) OVER w >= 1800000000
             |            THEN 1 ELSE 0 END AS new_session
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |sids AS (
             |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
             |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |sess AS (
             |  SELECT user_id, min(t) AS session_start,
             |    max(t) + 1800000000 AS session_end,
             |    count(*) AS n_events, round(sum(value) + 1e-9, 4) AS sum_value
             |  FROM sids GROUP BY user_id, sid),
             |wm AS (SELECT max(t) AS w FROM e)
             |SELECT user_id, session_start, n_events, sum_value
             |FROM sess, wm WHERE session_end <= w""".stripMargin)),

    // Stream-STATIC enrichment join: the events stream joins a batch
    // dimension (customer) before a windowed aggregate — the canonical
    // streaming-ETL shape Structured Streaming plans STATELESSLY (the
    // static side broadcasts into every micro-batch; no join state, no
    // watermark needed on the join itself, unlike st9's stream-stream
    // interval join). Daily totals per market segment × event type.
    Q("st11_stream_enrich",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
          .select($"user_id", $"ts", $"event_type", $"value")
        val dim = Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
        val agg = stream
          .join(broadcast(dim), $"user_id" === $"c_custkey")
          .groupBy(window($"ts", "1 day").as("w"), $"c_mktsegment", $"event_type")
          .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
        StreamOps.drainToTable(agg, "complete", "st11")
          .select(unix_micros($"w.start").as("day"),
            $"c_mktsegment", $"event_type", $"n", Rx.r4($"sum_value").as("sum_value"))
      },
      Some("""SELECT epoch_us(date_trunc('day', e.ts)) AS day,
             |  c.c_mktsegment, e.event_type,
             |  count(*) AS n, round(sum(e.value) + 1e-9, 4) AS sum_value
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Streaming W12: stateful gaps-and-islands transitions via
    // flatMapGroupsWithState — must emit exactly the batch islands
    // result (open final island never emitted).
    Q("st2_stream_transitions",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"event_type")
          .as[StreamOps.KeyedEvent]
        StreamOps.drainToTable(StreamOps.transitionsStream(stream),
          "append", "st2")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
             |d AS (
             |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
             |                   OR event_type <> lag(event_type) OVER w
             |            THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |i AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM d),
             |g AS (
             |  SELECT user_id, island, event_type AS from_label, min(t) AS start_ord
             |  FROM i GROUP BY user_id, island, event_type),
             |x AS (
             |  SELECT user_id, from_label, start_ord,
             |    lead(from_label) OVER w2 AS to_label,
             |    lead(start_ord) OVER w2 AS end_time
             |  FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY island))
             |SELECT user_id, from_label, to_label,
             |  start_ord AS start_time, end_time
             |FROM x WHERE to_label IS NOT NULL""".stripMargin)),

    // Streaming W1/W4/W5: per-key trailing-24 return/mean/std via
    // flatMapGroupsWithState carrying a ring buffer — rolling window
    // features computed under Structured Streaming with O(window) state,
    // hash-matched against the batch window-frame SQL.
    // Streaming ordered funnel: the f1_funnel semantics as per-user
    // O(1) flatMapGroupsWithState state (stage, last-advance time) —
    // each advance emits one row, so count-per-stage == "users
    // reaching ≥ stage", hash-checked against the SAME oracle as the
    // batch f1 (streaming ≡ batch, the st2 convention).
    Q("st14_stream_funnel",
      (s, dir) => {
        import s.implicits._
        val stages = Seq("signup", "view", "click", "purchase")
        val stream = Tables.stream(s, dir, "events")
          .filter($"event_type".isin(stages: _*))
          .select($"user_id", $"ts".as("t"), $"event_id", $"event_type")
          .as[StreamOps.KeyedEvent]
        StreamOps.drainToTable(StreamOps.funnelStream(stream, stages),
            "append", "st14")
          .groupBy($"stage_idx".cast("long").as("stage_idx"))
          .agg(count(lit(1)).as("users"))
          .select($"stage_idx",
            element_at(array(stages.map(lit): _*),
              $"stage_idx".cast("int")).as("stage"),
            $"users")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
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

    // Streaming Holt trend smoothing (the st5-EWM convention applied to
    // the h1 recurrence, over the RAW per-user value series): per-key
    // state is three scalars; each micro-batch emits the post-batch
    // state, and the declared result takes the max-n row per key (the
    // final state a forecast consumer reads). Oracle replays the same
    // recurrence as a recursive CTE over the (t, event_id)-ordered
    // series — raw values are untouched doubles on both engines, so the
    // recurrence is bit-equal without any pre-rounding.
    Q("st15_stream_holt",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"value")
          .as[StreamOps.ValueEvent]
        StreamOps.drainToTable(StreamOps.holtStream(stream, alpha = 0.5, beta = 0.3),
            "append", "st15")
          .groupBy($"user_id")
          .agg(max(struct($"n_obs", $"level", $"trend")).as("f"))
          .select($"user_id", $"f.n_obs".as("n_obs"),
            r6($"f.level").as("level"), r6($"f.trend").as("trend"),
            r6($"f.level" + $"f.trend").as("forecast"))
      },
      Some("""WITH RECURSIVE o AS (
             |  SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events),
             |h AS (
             |  SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.user_id, o.rn,
             |    0.5 * o.value + 0.5 * (h.l + h.b) AS l,
             |    0.3 * ((0.5 * o.value + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b AS b
             |  FROM h JOIN o ON o.user_id = h.user_id AND o.rn = h.rn + 1)
             |SELECT user_id, rn AS n_obs,
             |  round(l + 1e-9, 6) AS level, round(b + 1e-9, 6) AS trend,
             |  round(l + b + 1e-9, 6) AS forecast
             |FROM h
             |QUALIFY rn = max(rn) OVER (PARTITION BY user_id)""".stripMargin)),

    // Streaming Naive Bayes inference — model SERVING on a stream,
    // the two-phase deployment st16/st20 use for monitoring applied to
    // classification. Rebuilt round-19 (VERDICT item 3, the st16
    // prior-join pattern): the model — likelihoods/priors/vocab fit
    // batch-side on the train split — stays DISTRIBUTED as aggregated
    // frames the stream joins (stream-static: class fan-out broadcast,
    // token-keyed likelihood left join, tiny denominator broadcasts);
    // nothing transits the driver, so vocabulary × classes is never a
    // single-process bottleneck. The stream stays STATELESS (joins +
    // projection, no state store): it emits per-(doc, class, token)
    // log terms append-only, and the drained rows run through exactly
    // t24's sum→prior→r4→argmax→confusion tail (NaiveBayes.
    // confusionFromTerms). Same oracle as t24: streaming ≡ batch
    // because per-doc score sums are r4-canonicalized on both paths
    // before the argmax.
    Q("st22_stream_nb",
      (s, dir) => {
        import s.implicits._
        val tr = Tables.documents(s, dir)
          .filter($"doc_id" % 5 =!= 0)
          .select($"doc_id", $"lang",
            graft.text.TextOps.tokens($"text").as("ts"))
        val model = graft.text.NaiveBayes.fit(tr, "lang", "ts")
        val stream = Tables.stream(s, dir, "documents")
          .filter($"doc_id" % 5 === 0)
          .select($"doc_id".as("__id"), $"lang".as("true_label"),
            explode(graft.text.TextOps.tokens($"text")).as("tok"))
        val out = StreamOps.drainToTable(graft.text.NaiveBayes.termRows(stream, model),
          "append", "st22")
        graft.text.NaiveBayes.confusionFromTerms(out, model)
          .withColumnRenamed("true_label", "true_lang")
      },
      // t24's oracle verbatim — the model and the scoring are the same
      // computation, only the execution substrate differs
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |tr AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
             |te AS (SELECT * FROM d WHERE doc_id % 5 = 0),
             |trt AS (SELECT lang AS c, unnest(ts) AS tok FROM tr),
             |ctc AS (SELECT c, tok, count(*) AS cnt FROM trt GROUP BY 1, 2),
             |tot AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS tot_c
             |        FROM ctc GROUP BY 1),
             |pri AS (SELECT lang AS c, count(*) AS nd FROM tr GROUP BY 1),
             |ptot AS (SELECT CAST(sum(nd) AS BIGINT) AS ndocs FROM pri),
             |vv AS (SELECT count(DISTINCT tok) AS v FROM ctc),
             |tet AS (SELECT doc_id, lang AS true_lang, unnest(ts) AS tok
             |        FROM te),
             |terms AS (
             |  SELECT t.doc_id, t.true_lang, p.c,
             |    ln((COALESCE(ctc.cnt, 0) + 1)
             |      / CAST(tot.tot_c + vv.v AS DOUBLE)) AS term
             |  FROM tet t
             |  CROSS JOIN (SELECT c FROM pri) p
             |  LEFT JOIN ctc ON ctc.c = p.c AND ctc.tok = t.tok
             |  JOIN tot ON tot.c = p.c, vv),
             |sc AS (
             |  SELECT terms.doc_id, terms.true_lang, terms.c,
             |    round(ln(CAST(pri.nd AS DOUBLE) / ptot.ndocs)
             |      + sum(term) + 1e-9, 4) AS score
             |  FROM terms JOIN pri ON pri.c = terms.c, ptot
             |  GROUP BY terms.doc_id, terms.true_lang, terms.c,
             |    pri.nd, ptot.ndocs),
             |pred AS (
             |  SELECT true_lang, c AS pred FROM (
             |    SELECT doc_id, true_lang, c,
             |      row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score DESC, c) AS rn
             |    FROM sc) WHERE rn = 1)
             |SELECT true_lang, pred, count(*) AS n
             |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming as-of enrich (round 11 — the serving form of aj_asof:
    // "attach the latest view to each purchase"): per-user state is ONE
    // (t, value) register — O(1) per key FOREVER, vs st12's
    // watermark-bounded interval-join state — updated by views, read
    // inclusively by purchases, emitted append-only. Hash-checked
    // against aj_asof's DuckDB ASOF JOIN oracle verbatim: same match
    // rule, same output columns; only the execution substrate differs.
    Q("st23_stream_asof",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .filter($"event_type".isin("view", "purchase"))
          .select($"user_id", $"ts".as("t"), $"event_id", $"event_type",
            $"value")
          .as[StreamOps.TypedEvent]
        StreamOps.drainToTable(
            StreamOps.asofStream(stream, touchType = "view", emitType = "purchase"),
            "append", "st23")
          .select($"user_id", $"event_id", $"t",
            $"view_t", r6($"view_value").as("view_value"),
            ($"t" - $"view_t").as("gap_us"))
      },
      // aj_asof's oracle verbatim — the stream must reproduce the batch
      // as-of join exactly
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t, value
             |          FROM events),
             |p AS (SELECT user_id, event_id, t, value FROM e
             |      WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, t, value FROM e WHERE event_type = 'view')
             |SELECT p.user_id, p.event_id, p.t,
             |  v.t AS view_t,
             |  round(v.value + 1e-9, 6) AS view_value,
             |  p.t - v.t AS gap_us
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.t >= v.t""".stripMargin)),

    // Stream-static point-in-time enrichment (round 12) — the OTHER
    // streaming dimension-join shape next to st23's stateful register:
    // the dimension is a BATCH SCD2 history (each user's view
    // "engagement band" with validity ranges, the cdc1 build), the
    // stream is the purchase feed, and every micro-batch does a
    // STATELESS range join `valid_from <= t < valid_to` against the
    // static frame — Structured Streaming re-evaluates the static side
    // per batch, so a slowly-refreshed dimension table is picked up
    // without any state store (state pinned at 0, like st22). This is
    // the serving shape when the dimension fits batch refresh cadence;
    // st23 is the shape when it must update event-by-event. Left join
    // keeps purchases that precede any view (NULL band). Hash-checked
    // against the same SCD2 build + range join in DuckDB.
    Q("st24_stream_scd2_join",
      (s, dir) => {
        import s.implicits._
        val viewStates = Tables.events(s, dir)
          .filter($"event_type" === "view")
          .select($"user_id", unix_micros($"ts").as("t"), $"event_id",
            when($"value" < 20, "low").when($"value" < 55, "mid")
              .otherwise("high").as("band"))
        val dim = graft.cdc.Cdc.scd2(viewStates, Seq("user_id"), "t",
            "event_id", "band")
          .select($"user_id", $"band", $"valid_from", $"valid_to",
            $"version")
        val stream = Tables.stream(s, dir, "events")
          .filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id", $"ts".as("t"))
        val joined = stream.join(dim,
          $"p_user" === dim("user_id") && dim("valid_from") <= $"t" &&
            (dim("valid_to").isNull || $"t" < dim("valid_to")),
          "left_outer")
          .select($"p_user".as("user_id"), $"event_id", $"t",
            $"band", $"version")
        StreamOps.drainToTable(joined, "append", "st24")
          .orderBy($"user_id", $"event_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
             |    value
             |  FROM events),
             |vs AS (
             |  SELECT user_id, t, event_id,
             |    CASE WHEN value < 20 THEN 'low'
             |         WHEN value < 55 THEN 'mid' ELSE 'high' END AS band
             |  FROM e WHERE event_type = 'view'),
             |d AS (
             |  SELECT *, CASE WHEN lag(band) OVER w IS NULL
             |                   OR band <> lag(band) OVER w
             |            THEN 1 ELSE 0 END AS chg
             |  FROM vs WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |i AS (
             |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS island
             |  FROM d),
             |r AS (
             |  SELECT user_id, band, island, min(t) AS valid_from
             |  FROM i GROUP BY 1, 2, 3),
             |v AS (
             |  SELECT user_id, band, valid_from,
             |    lead(valid_from) OVER w2 AS valid_to,
             |    CAST(row_number() OVER w2 AS INT) AS version
             |  FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)),
             |p AS (SELECT user_id, event_id, t FROM e
             |      WHERE event_type = 'purchase')
             |SELECT p.user_id, p.event_id, p.t, v.band, v.version
             |FROM p LEFT JOIN v
             |  ON v.user_id = p.user_id AND v.valid_from <= p.t
             |  AND (v.valid_to IS NULL OR p.t < v.valid_to)
             |ORDER BY p.user_id, p.event_id""".stripMargin)),

    // ST28 (round-19): STREAMING NEAR-DEDUP against the standing
    // corpus index — d9's incremental-ingestion claim ("a delta costs
    // its banding + bucket fan-in, never a corpus re-pass") run as the
    // actual stream a 100 TB pipeline deploys. The standing side is
    // the materialized LSH infrastructure (banded MinHash index +
    // per-doc distinct shingle sets — the tables a production corpus
    // keeps bucketed by band_key); the arriving docs (doc_id % 5 = 0,
    // the st22 batch convention) compute their 16-permutation MinHash
    // signature IN-ROW — array_min over transform of the shingle
    // array, no groupBy, so the stream needs NO state store at all —
    // band, stream-static-join the index, and verify exact Jaccard
    // in-row via array_intersect against the corpus doc's shingle
    // set. Every stage is stateless (state pinned 0, the st22/st24
    // class); a pair surfacing through multiple bands emits identical
    // rows, collapsed by the post-drain distinct. Same integer/float
    // contract as d2/d9, so the oracle is the d9 tail with the
    // stream-batch predicate.
    Q("st28_stream_neardedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val p = 2147483647L
        // ONE pass over the shingle rows builds BOTH standing tables
        // (round-20, guide §2.4 — the signature mins and the per-doc
        // shingle set share the same groupBy(id), so the previous
        // three-stage build — checkpoint the exploded shingles, agg
        // signatures, agg shingle sets — collapses to one aggregate
        // and one checkpoint; band keys are the same md5 composition
        // Dedup.bandIndex derives from the sig array)
        val aggd = Fixpoint.cut(Dedup.shingleRows(docs, "doc_id", "text", 3)
          .withColumn("h30",
            pmod(graft.text.TextOps.hash60($"sh"), lit(1073741824L)))
          .groupBy($"id")
          .agg(collect_set($"sh").as("shs_c"),
            (0 until 16).map(i =>
              min(($"h30" * Dedup.permA(i) + Dedup.permB(i)) % p)
                .as(s"__s$i")): _*))
        val index = aggd.select($"id".as("corpus_id"),
          posexplode(array((0 until 4).map(b =>
            md5(concat_ws(",", (0 until 4).map(r =>
              col(s"__s${b * 4 + r}").cast("string")): _*))): _*))
            .as(Seq("band", "band_key")))
        val corpusShs = aggd.select($"id".as("corpus_id"), $"shs_c")
        // in-row shingle+signature through the compiled kernel
        // (graft.text.ShingleMinHash, round-20): the HOF composition it
        // replaces walked an interpreted lambda per shingle per
        // permutation — measured 3.0s warm for this projection alone at
        // sf0.1 — while staying in-row is what keeps the stream
        // stateless; parity with the HOF form is pinned in
        // ShingleMinHashSpec and by this query's oracle hash
        val stream = Tables.stream(s, dir, "documents")
          .filter($"doc_id" % 5 === 0)
          .select($"doc_id",
            graft.text.ShingleMinHash($"text", 3, 16).as("ss"))
          .select($"doc_id", $"ss.shs".as("shs"), $"ss.sig".as("sig"))
          .filter(size($"shs") > 0)
          .select($"doc_id", $"shs",
            posexplode(array((0 until 4).map(b =>
              md5(concat_ws(",", (0 until 4).map(r =>
                element_at($"sig", b * 4 + r + 1).cast("string")): _*))): _*))
              .as(Seq("band", "band_key")))
        val scored = stream
          .join(index, Seq("band", "band_key"))
          .filter($"doc_id" =!= $"corpus_id")
          .join(corpusShs, Seq("corpus_id"))
          .select(
            least($"doc_id", $"corpus_id").as("id_a"),
            greatest($"doc_id", $"corpus_id").as("id_b"),
            size(array_intersect($"shs", $"shs_c")).as("n_inter"),
            when($"doc_id" < $"corpus_id", size($"shs"))
              .otherwise(size($"shs_c")).as("n_a"),
            when($"doc_id" < $"corpus_id", size($"shs_c"))
              .otherwise(size($"shs")).as("n_b"))
        StreamOps.drainToTable(scored, "append", "st28").distinct()
          .select($"id_a", $"id_b", $"n_inter".cast("long").as("n_inter"),
            $"n_a".cast("long").as("n_a"), $"n_b".cast("long").as("n_b"),
            r6($"n_inter".cast("double")
              / ($"n_a" + $"n_b" - $"n_inter")).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH ${DedupSimPack.OracleSigShared},
              |${DedupSimPack.OracleBandShared},
              |cand AS (
              |  SELECT DISTINCT least(a.id, b.id) AS id_a,
              |    greatest(a.id, b.id) AS id_b
              |  FROM band a JOIN band b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |   AND a.id <> b.id
              |  WHERE a.id % 5 = 0),
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
              |JOIN sizes zb ON zb.id = c.id_b
              |ORDER BY c.id_a, c.id_b""".stripMargin)),

    // ST30 (round-19): st28's streaming-ingestion shape for the
    // EMBEDDING modality — arriving vectors (vec_id % 5 = 0) probed
    // against the standing hyperplane-LSH bucket index with d20's
    // exact semantics: count-adaptive bucket width (the b ladder
    // derived batch-side from the standing corpus, replayed by the
    // oracle), Hamming-≤1 multi-probe with the (nBits+1)-bucket fan
    // on the ARRIVING side (the delta pays the probe cost, the corpus
    // is bucketed once — the inverted-list asymmetry a production
    // index wants), and the fused in-row dot on normalized pairs.
    // Stateless end to end (projection + stream-static joins, state
    // pinned 0); a both-arriving pair surfaces once per direction
    // with the bit-identical commutative dot, collapsed by the
    // post-drain distinct. With st3 (exact), st28 (text near-dup) and
    // this, the dedup tier's three batch flavors all have their
    // continuous-ingestion streaming form.
    Q("st30_stream_embed_neardedup",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
          .select($"vec_id", $"label",
            $"embedding".cast("array<double>").as("v"))
        val bits = Similarity.adaptiveBits(emb.count())
        val index = Fixpoint.cut(Similarity.withNormalized(emb, "v", "nv")
          .select($"vec_id".as("corpus_id"), $"label",
            Similarity.signBucket($"v", bits).as("probe"),
            $"nv".as("nv_c")))
        val stream = Similarity.withNormalized(
            Tables.stream(s, dir, "embeddings")
              .filter($"vec_id" % 5 === 0)
              .select($"vec_id", $"label",
                $"embedding".cast("array<double>").as("v")),
            "v", "nv")
          .withColumn("b0", Similarity.signBucket($"v", bits))
          .withColumn("probe", explode(array(
            ($"b0" +: (0 until bits).map(i =>
              $"b0".bitwiseXOR(lit(1 << i)))): _*)))
        val scored = stream.join(index, Seq("label", "probe"))
          .filter($"vec_id" =!= $"corpus_id")
          .select($"label",
            least($"vec_id", $"corpus_id").as("id_a"),
            greatest($"vec_id", $"corpus_id").as("id_b"),
            Similarity.dot($"nv", $"nv_c").as("cos"))
        StreamOps.drainToTable(scored, "append", "st30").distinct()
          .select($"label", $"id_a", $"id_b", r6($"cos").as("cos"))
          .orderBy(desc("cos"), $"id_a", $"id_b").limit(20)
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
             |  SELECT DISTINCT a.label,
             |    least(a.vec_id, b.vec_id) AS id_a,
             |    greatest(a.vec_id, b.vec_id) AS id_b,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(a.nv) + 1),
             |          i -> a.nv[i] * b.nv[i])),
             |        (acc, x) -> acc + x) + 1e-9, 6) AS cos
             |  FROM bk a JOIN bk b ON a.label = b.label
             |    AND a.vec_id <> b.vec_id
             |  WHERE bit_count(xor(a.bucket, b.bucket)) <= 1
             |    AND a.vec_id % 5 = 0)
             |SELECT label, id_a, id_b, cos FROM p
             |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // ST31 (round-20): the DERIVED-FAMILY recall knob deployed in the
    // streaming form — st28's stateless stream-static shape running
    // d23's configuration: F = Dedup.familiesForRecall(0.9, J=0.5,
    // r=2, b=8) = 2 independent permutation families, each banded
    // 8×2, so the standing index is the two families' band tables
    // UNIONed under a namespaced band id (family f → bands f·8..f·8+7)
    // and ONE stream-static join serves both. Arriving docs compute
    // the full 2F·16-perm signature IN-ROW (array_min over transform —
    // no groupBy, no state store; state pinned 0) and band both
    // families in the same posexplode, whose position IS the
    // namespaced band id. families_hit is aggregated POST-drain from
    // the per-family surviving rows (batch side, like the post-drain
    // distinct) and keeps both arms load-bearing in the hash; the
    // oracle replays the F derivation as d23's guarded CASE ladder
    // plus both band joins under the stream-batch predicate. At
    // 100 TB this is the production recall story end-to-end: the
    // batch tier dedups at a declared recall target, and the
    // continuous-ingestion path inherits the SAME derived composition
    // — paying F band passes per arriving doc, never a corpus re-pass.
    Q("st31_stream_neardedup_families",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val nFam = Dedup.familiesForRecall(target = 0.9, s0 = 0.5,
          r = 2, b = 8)
        val p = 2147483647L
        // ONE pass over the shingle rows builds the standing tables of
        // BOTH families plus the per-doc shingle sets (round-20, guide
        // §2.4 — the st28 collapse, × nFam: previously one shuffle-agg
        // per family plus one for the sets, each over the full shingle
        // table; the 2F·16 signature mins and collect_set share one
        // groupBy(id)). Band keys replicate Dedup.bandIndex's md5
        // composition; the posexplode position namespaces the family
        // (band f·8+b), matching the streaming side's banding below.
        val aggd = Fixpoint.cut(Dedup.shingleRows(docs, "doc_id", "text", 3)
          .withColumn("h30",
            pmod(graft.text.TextOps.hash60($"sh"), lit(1073741824L)))
          .groupBy($"id")
          .agg(collect_set($"sh").as("shs_c"),
            (0 until nFam * 16).map(i =>
              min(($"h30" * Dedup.permA(i) + Dedup.permB(i)) % p)
                .as(s"__s$i")): _*))
        val index = aggd.select($"id".as("corpus_id"),
          posexplode(array((for (f <- 0 until nFam; b <- 0 until 8)
            yield md5(concat_ws(",",
              col(s"__s${f * 16 + 2 * b}").cast("string"),
              col(s"__s${f * 16 + 2 * b + 1}").cast("string")))): _*))
            .as(Seq("band", "band_key")))
        val corpusShs = aggd.select($"id".as("corpus_id"), $"shs_c")
        // both families' in-row signatures through the compiled kernel
        // (permutation indices 0..2F·16−1 are contiguous across
        // families) — see the st28 note; parity pinned in
        // ShingleMinHashSpec and by this query's oracle hash
        val scored = Tables.stream(s, dir, "documents")
          .filter($"doc_id" % 5 === 0)
          .select($"doc_id",
            graft.text.ShingleMinHash($"text", 3, nFam * 16).as("ss"))
          .select($"doc_id", $"ss.shs".as("shs"), $"ss.sig".as("sig"))
          .filter(size($"shs") > 0)
          // posexplode position = family·8 + band: the namespaced id
          .select($"doc_id", $"shs",
            posexplode(array((for (f <- 0 until nFam; b <- 0 until 8)
              yield md5(concat_ws(",",
                element_at($"sig", f * 16 + 2 * b + 1).cast("string"),
                element_at($"sig", f * 16 + 2 * b + 2).cast("string")))): _*))
              .as(Seq("band", "band_key")))
          .join(index, Seq("band", "band_key"))
          .filter($"doc_id" =!= $"corpus_id")
          .join(corpusShs, Seq("corpus_id"))
          .select(
            least($"doc_id", $"corpus_id").as("id_a"),
            greatest($"doc_id", $"corpus_id").as("id_b"),
            floor($"band" / 8).cast("long").as("family"),
            size(array_intersect($"shs", $"shs_c")).as("n_inter"),
            when($"doc_id" < $"corpus_id", size($"shs"))
              .otherwise(size($"shs_c")).as("n_a"),
            when($"doc_id" < $"corpus_id", size($"shs_c"))
              .otherwise(size($"shs")).as("n_b"))
        StreamOps.drainToTable(scored, "append", "st31").distinct()
          .groupBy($"id_a", $"id_b")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(family AS INT))"))
              .as("families_hit"),
            max($"n_inter").as("ni"), max($"n_a").as("na"),
            max($"n_b").as("nb"))
          .select($"id_a", $"id_b",
            lit(Dedup.familiesForRecall(0.9, 0.5, 2, 8).toLong)
              .as("n_families"),
            $"families_hit", $"ni".cast("long").as("n_inter"),
            $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
            r6($"ni".cast("double")
              / ($"na" + $"nb" - $"ni")).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH ${DedupSimPack.OracleSig2Shared},
              |${DedupSimPack.OracleBandR2Shared},
              |${DedupSimPack.OracleBandR2BShared},
              |fd AS (
              |  SELECT CASE
              |    WHEN power(1 - p1, 1) <= 0.1 + 1e-12 THEN 1
              |    WHEN power(1 - p1, 2) <= 0.1 + 1e-12 THEN 2
              |    ELSE error('st31 oracle replays F<=2; derived F>2')
              |    END AS f
              |  FROM (SELECT 1 - power(1 - power(0.5, 2), 8) AS p1)),
              |cand AS (
              |  SELECT id_a, id_b, CAST(sum(t) AS BIGINT) AS families_hit
              |  FROM (
              |    SELECT DISTINCT least(a.id, b.id) AS id_a,
              |      greatest(a.id, b.id) AS id_b, 1 AS t
              |    FROM bandr2 a JOIN bandr2 b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id <> b.id
              |    WHERE a.id % 5 = 0
              |    UNION ALL
              |    SELECT DISTINCT least(a.id, b.id), greatest(a.id, b.id), 2
              |    FROM bandr2b a JOIN bandr2b b
              |      ON a.band = b.band AND a.band_key = b.band_key
              |     AND a.id <> b.id
              |     AND (SELECT f FROM fd) >= 2
              |    WHERE a.id % 5 = 0)
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
              |JOIN sizes zb ON zb.id = c.id_b
              |ORDER BY c.id_a, c.id_b""".stripMargin)),

    // Streaming Count-Min heavy hitters — the third sketch's streaming
    // form (HLL = st17, histogram = st18, CMS = here): the d·w cell
    // counts are additive, so each cell keyed as j·w + bucket rides the
    // SAME bucket-count CRDT (state ≤ d·w longs regardless of
    // vocabulary), and the drained max-merged table IS the batch
    // sketch. The shortlist + exact recount then run batch-side
    // against it (CountMin.heavyHittersFromSketch), so the final
    // answer is EXACTLY the true heavy-hitter set — hash-checked
    // against the same brute-force oracle shape as hh1, despite both
    // the approximate middle AND the streaming accumulation.
    Q("st21_stream_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val (depth, width, support) = (4, 1024, 1500L)
        def cellIds(gram: org.apache.spark.sql.Column) =
          array((0 until depth).map(j => lit(j.toLong * width)
            + pmod(xxhash64(gram, lit(j)), lit(width.toLong))): _*)
        val stream = Tables.stream(s, dir, "documents")
          .select(graft.text.TextOps.tokens($"text").as("__toks"))
          .select(explode(graft.text.TextOps.ngrams($"__toks", 2)).as("gram"))
          .select(explode(cellIds($"gram")).as("bucket"))
          .as[StreamOps.BucketRow]
        val out = StreamOps.drainToTable(StreamOps.bucketCountStream(stream),
          "append", "st21")
        val sk = Fixpoint.cut(out.groupBy($"bucket").agg(max($"c").as("cnt"))
          .select(($"bucket" / width).cast("int").as("j"),
            pmod($"bucket", lit(width.toLong)).as("bucket"), $"cnt"))
        val grams = Tables.documents(s, dir)
          .select(graft.text.TextOps.tokens($"text").as("__toks"))
          .select(explode(graft.text.TextOps.ngrams($"__toks", 2)).as("gram"))
        graft.sketch.CountMin.heavyHittersFromSketch(
          grams, "gram", sk, depth, width, support)
      },
      // hh1's oracle verbatim: streaming cell accumulation is
      // count-exact and the final answer is the exact heavy-hitter set
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

    // Streaming PSI drift monitor — dq3 as a two-phase deployment:
    // reference window + bin bounds calibrated BATCH-side, the
    // current window's histogram accumulated as a STREAM (the st18
    // bucket-count CRDT: running counts per bin, ≤10 keys of state,
    // max-merge dedupe), PSI computed on the two ≤10-row histograms
    // after the drain. Counting is order-insensitive → the output (and
    // oracle) is dq3's, unchanged — the batch/stream equivalence the
    // monitoring deployment relies on.
    Q("st20_stream_psi",
      (s, dir) => {
        import s.implicits._
        val cut = 1705276800000000L // the dq3/iv1 split
        val e = Tables.events(s, dir)
          .select(unix_micros($"ts").as("t"), $"value")
        val stR = e.filter($"t" < cut)
          .agg(min($"value"), max($"value")).head()
        val (vmin, vmax) = (stR.getDouble(0), stR.getDouble(1))
        def binOf(v: org.apache.spark.sql.Column) =
          least(greatest(floor((v - lit(vmin))
            / ((lit(vmax) - lit(vmin)) / lit(10))), lit(0L)), lit(9L))
        val refCnt = e.filter($"t" < cut)
          .groupBy(binOf($"value").as("bin"))
          .agg(count(lit(1)).as("n_ref"))
        // eventsSchema reads ts as the raw µs epoch long (the
        // TIMESTAMP(MICROS) contract) — no conversion needed
        val stream = Tables.stream(s, dir, "events")
          .filter($"ts" >= cut)
          .select(binOf($"value").as("bucket"))
          .as[StreamOps.BucketRow]
        val out = StreamOps.drainToTable(StreamOps.bucketCountStream(stream),
          "append", "st20")
        val curCnt = out.groupBy($"bucket".as("bin")).agg(max($"c").as("n_cur"))
        val cnt = Fixpoint.cut(refCnt.join(curCnt, Seq("bin"), "full_outer")
          .na.fill(0L, Seq("n_ref", "n_cur")))
        val tot = cnt.agg(sum($"n_ref").as("t_ref"),
          sum($"n_cur").as("t_cur"))
        val contrib = cnt.crossJoin(broadcast(tot))
          .withColumn("p_ref",
            ($"n_ref" + lit(1)).cast("double") / ($"t_ref" + lit(10)))
          .withColumn("p_cur",
            ($"n_cur" + lit(1)).cast("double") / ($"t_cur" + lit(10)))
          .withColumn("contrib",
            ($"p_cur" - $"p_ref") * log($"p_cur" / $"p_ref"))
        val psi = contrib.agg(Rx.r4(sum($"contrib")).as("psi"))
        contrib.crossJoin(broadcast(psi))
          .select($"bin", $"n_ref", $"n_cur",
            Rx.r6($"p_ref").as("p_ref"), Rx.r6($"p_cur").as("p_cur"),
            Rx.r6($"contrib").as("contrib"), $"psi")
          .orderBy($"bin")
      },
      // dq3's oracle verbatim: the streaming accumulation is
      // count-exact, so batch and stream share one ground truth
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

    // Streaming Kalman (the w28 local-level recurrence over the RAW
    // per-event series, the st15 convention): per-key state is four
    // scalars, each micro-batch emits the post-batch state, the
    // declared result takes the max-n row per key. Bit-identical
    // batch ≡ stream (operand order matches the fold exactly);
    // hash-checked against a recursive-CTE oracle over the raw
    // (t, event_id)-ordered series.
    Q("st19_stream_kalman",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"value")
          .as[StreamOps.ValueEvent]
        StreamOps.drainToTable(StreamOps.kalmanStream(stream, q = 0.1, r = 1.0),
            "append", "st19")
          .groupBy($"user_id")
          .agg(max(struct($"n_obs", $"level", $"pvar", $"gain")).as("f"))
          .select($"user_id", $"f.n_obs".as("n_obs"),
            r6($"f.level").as("level"), r6($"f.pvar").as("pvar"),
            r6($"f.gain").as("gain"))
      },
      Some("""WITH RECURSIVE o AS (
             |  SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events),
             |h AS (
             |  SELECT user_id, rn, value AS l, CAST(1.0 AS DOUBLE) AS p,
             |    CAST(0.0 AS DOUBLE) AS k
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.user_id, o.rn,
             |    h.l + ((h.p + 0.1) / ((h.p + 0.1) + 1.0))
             |      * (o.value - h.l) AS l,
             |    (1.0 - (h.p + 0.1) / ((h.p + 0.1) + 1.0)) * (h.p + 0.1) AS p,
             |    (h.p + 0.1) / ((h.p + 0.1) + 1.0) AS k
             |  FROM h JOIN o ON o.user_id = h.user_id AND o.rn = h.rn + 1)
             |SELECT user_id, rn AS n_obs,
             |  round(l + 1e-9, 6) AS level, round(p + 1e-9, 6) AS pvar,
             |  round(k + 1e-9, 6) AS gain
             |FROM h
             |QUALIFY rn = max(rn) OVER (PARTITION BY user_id)""".stripMargin)),

    // Streaming two-sided CUSUM (the a3 recurrence over the RAW
    // per-event series): μ/σ are calibrated per user on history (a
    // batch aggregate, r6-rounded) and delivered by a BROADCAST
    // STREAM-STATIC JOIN — the prior rides each row into the state
    // function, so the calibrate-then-monitor deployment is
    // distributed end-to-end: no driver-side collect of per-key
    // stats, which at 100 TB user cardinality would itself be big
    // data (round-18, VERDICT item 4; hashes unchanged — the joined
    // μ/σ are the same r6-rounded values the closure Map carried).
    // Stream state is (n, s⁺, s⁻, alarms) per key. Hash-checked
    // against a recursive-CTE replay of the identical recurrence;
    // StreamingSpec pins cross-micro-batch state carry for the fold
    // family.
    Q("st16_stream_cusum",
      (s, dir) => {
        import s.implicits._
        val prior = Tables.events(s, dir).groupBy($"user_id")
          .agg(r6(avg($"value")).as("mu"),
            r6(stddev_samp($"value")).as("sd"))
          .filter($"sd".isNotNull && $"sd" > 0)
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"value")
          .join(broadcast(prior), Seq("user_id")) // stream-static inner
          .select($"user_id", $"t", $"event_id", $"value", $"mu", $"sd")
          .as[StreamOps.PrioredEvent]
        StreamOps.drainToTable(StreamOps.cusumStream(stream), "append", "st16")
          .groupBy($"user_id")
          .agg(max(struct($"n_obs", $"n_alarms", $"sp", $"sn")).as("f"))
          .select($"user_id", $"f.n_obs".as("n_obs"),
            $"f.n_alarms".as("n_alarms"),
            r6($"f.sp").as("sp_end"), r6($"f.sn").as("sn_end"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events),
             |st AS (SELECT user_id, round(avg(value) + 1e-9, 6) AS mu,
             |        round(stddev_samp(value) + 1e-9, 6) AS sd
             |      FROM e GROUP BY 1),
             |o AS (SELECT e.user_id, e.value AS y, st.mu, st.sd,
             |        row_number() OVER (PARTITION BY e.user_id
             |          ORDER BY t, event_id) AS rn
             |      FROM e JOIN st USING (user_id)
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
             |SELECT user_id, rn AS n_obs, CAST(al AS BIGINT) AS n_alarms,
             |  round(sp + 1e-9, 6) AS sp_end, round(sn + 1e-9, 6) AS sn_end
             |FROM c
             |QUALIFY rn = max(rn) OVER (PARTITION BY user_id)""".stripMargin)),

    // Streaming HyperLogLog: the portable HLL with the STREAM keyed by
    // register bucket — per-key state is ONE int (max rank), key count
    // capped at 4096, and because max is order-insensitive the
    // streaming estimate replays the unchanged batch oracle with no
    // event-time caveat (StreamOps.hllRegisterStream scaladoc). The
    // distinct-counted key is event_id: a replay/dedup counter over
    // the stream.
    Q("st17_stream_hll",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
        val regs = graft.sketch.Hll.withRegisterCols(stream, "event_id", 12)
          .select($"bucket", $"rank".cast("int").as("rank"))
          .as[StreamOps.RegisterRow]
        val out = StreamOps.drainToTable(StreamOps.hllRegisterStream(regs),
          "append", "st17")
        graft.sketch.Hll.estimateFromRegisters(
          out.groupBy($"bucket").agg(max($"r").as("r")), 12)
      },
      Some(graft.sketch.Hll.oracleSql("events", "event_id", p = 12))),

    // Streaming histogram quantiles: the g17 sketch under Structured
    // Streaming — histogram BOUNDS calibrated batch-side and shipped
    // in the closure (the st16 two-phase monitoring deployment), the
    // stream keyed BY BUCKET with a running per-bucket count (state =
    // one long × ≤ nBins keys; running counts are monotone, so
    // per-batch emissions dedupe with a plain max — the st17 CRDT
    // argument, for counters), and the cumulative walk + interpolation
    // run batch-side on the drained ≤ nBins-row histogram. Counting is
    // order-insensitive → streaming ≡ batch against the UNCHANGED g17
    // oracle, no event-time caveat.
    Q("st18_stream_quantile",
      (s, dir) => {
        import s.implicits._
        val nBins = 1024
        val st = Tables.events(s, dir)
          .agg(min($"value"), max($"value"), count(lit(1))).head()
        val (vmin, vmax, n) = (st.getDouble(0), st.getDouble(1), st.getLong(2))
        val stream = Tables.stream(s, dir, "events")
          .select(graft.sketch.HistQuantile.bucketOf(
            $"value", lit(vmin), lit(vmax), nBins).as("bucket"))
          .as[StreamOps.BucketRow]
        val out = StreamOps.drainToTable(StreamOps.bucketCountStream(stream),
          "append", "st18")
        val cnts = out.groupBy($"bucket").agg(max($"c").as("cnt"))
        val stats = Seq((vmin, vmax, n)).toDF("vmin", "vmax", "n")
        graft.sketch.HistQuantile.fromHistogram(cnts, stats, nBins,
          Seq(0.5, 0.9, 0.99))
      },
      Some(graft.sketch.HistQuantile.oracleSql("events", "value",
        nBins = 1024, qs = Seq(0.5, 0.9, 0.99)))),

    Q("st4_stream_rolling",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"value")
          .as[StreamOps.ValueEvent]
        StreamOps.drainToTable(StreamOps.rollingFeaturesStream(stream, 24),
            "append", "st4")
          .select($"user_id", $"event_id", $"t",
            Rx.r6($"ret").as("ret"), Rx.r4($"ma").as("ma"), Rx.r4($"sd").as("sd"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
             |          FROM events)
             |SELECT user_id, event_id, t,
             |  round(value / nullif(lag(value) OVER win, 0) - 1 + 1e-9, 6) AS ret,
             |  CASE WHEN count(value) OVER w24 >= 24
             |    THEN round(avg(value) OVER w24 + 1e-9, 4) END AS ma,
             |  CASE WHEN count(value) OVER w24 >= 24
             |    THEN round(stddev_samp(value) OVER w24 + 1e-9, 4) END AS sd
             |FROM e
             |WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id),
             |  w24 AS (PARTITION BY user_id ORDER BY t, event_id
             |          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Streaming W9: EWM(span 12) as a stream — O(1) state per key (the
    // previous output), bit-identical to the batch mapPartitions
    // recursion, hash-matched against the DuckDB list_reduce oracle.
    Q("st5_stream_ewm",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id", $"value")
          .as[StreamOps.ValueEvent]
        StreamOps.drainToTable(StreamOps.ewmStream(stream, span = 12.0),
            "append", "st5")
          .select($"user_id", $"event_id", $"t",
            Rx.r6($"ewm").as("ewm"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value
             |          FROM events),
             |l AS (
             |  SELECT user_id, event_id, t,
             |    list(value) OVER w AS xs
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
             |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id, t,
             |  round(list_reduce(xs,
             |    (acc, x) -> 2.0/13.0 * x + (1.0 - 2.0/13.0) * acc) + 1e-9, 6)
             |    AS ewm
             |FROM l""".stripMargin)),

    // Streaming CDC upsert view (cdc2's compaction as a stream): the
    // changelog arrives as a stream and a complete-mode max(struct)
    // aggregate maintains the latest (t, event_id)-winning row per key
    // — the continuously-maintained materialized view a lakehouse
    // otherwise rebuilds by batch MERGE. State is ONE struct per key
    // (150 here), bounded at any stream length; the (t, event_id)
    // prefix of the struct is a unique total order, so which row wins
    // is arrival-order-independent and the batch row_number oracle
    // applies exactly.
    Q("st13_stream_upsert",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .select($"user_id", $"ts".as("t"), $"event_id",
            $"event_type", $"value")
        val agg = stream.groupBy($"user_id")
          .agg(max(struct($"t", $"event_id", $"event_type", $"value"))
            .as("last"))
        StreamOps.drainToTable(agg, "complete", "st13")
          .select($"user_id", $"last.t".as("t"),
            $"last.event_id".as("event_id"),
            $"last.event_type".as("event_type"),
            r6($"last.value").as("value"))
      },
      Some("""SELECT user_id, t, event_id, event_type,
             |  round(value + 1e-9, 6) AS value
             |FROM (
             |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
             |    value, row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |  FROM events)
             |WHERE rn = 1""".stripMargin)),

    // Streaming exact dedup (d1 as a stream): dropDuplicatesWithinWatermark
    // over a REAL streaming run. Output projects to the dedup KEY — the
    // kept row is whichever arrived first (partition-order-dependent),
    // but the key set equals batch DISTINCT regardless of arrival order,
    // so the check is deterministic. Watermark far exceeds the data span:
    // nothing is dropped, state is one entry per distinct key.
    Q("st3_stream_dedup",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "events")
          .withColumn("ts", timestamp_micros($"ts"))
          .select($"ts", $"user_id", $"event_type")
        StreamOps.drainToTable(
          StreamOps.dedupWithinWatermark(
              stream, "ts", Seq("user_id", "event_type"), "365 days")
            .select($"user_id", $"event_type"),
          "append", "st3")
      },
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // Streaming S4: the paged-ingest pattern (since-cursor paging +
    // retry/backoff) as a custom DataSource-V2 MicroBatchStream
    // ("graft-paged", streaming/PagedStreamSource.scala) — rate-limited
    // to pagesPerBatch pages per symbol per trigger, with deterministic
    // transient failures injected so the retry loop executes in the
    // verified run. Hash-matched against the batch aggregate of the
    // same rows.
    Q("st7_stream_paged",
      (s, dir) => {
        import s.implicits._
        // deterministic in-memory "API" over the events panel (5 symbols)
        // — the provider stands where a production HTTP client would
        val data = Tables.events(s, dir)
          .filter($"user_id" < 5)
          .select($"user_id".cast("string").as("symbol"),
            unix_micros($"ts").as("t"), $"value",
            get_json_object($"props", "$.k").cast("double").as("volume"),
            $"event_id")
          .collect()
          .map(r => graft.io.PagedIngest.Candle(r.getString(0), r.getLong(1),
            r.getDouble(2), r.getDouble(2), r.getDouble(2), r.getDouble(2),
            if (r.isNullAt(3)) 0.0 else r.getDouble(3)))
          .groupBy(_.symbol).map { case (k, v) => k -> v.sortBy(_.ts) }
        val attempts = new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
        val key = s"events:$dir"
        graft.streaming.PagedStreamApi.register(key, (sym, since, limit) => {
          // every 5th cursor fails once — the source's retry must absorb it
          val n = attempts.merge((sym, since), 1, (a, b) => a + b)
          if (n == 1 && math.floorMod(sym.hashCode + since, 5) == 0)
            throw new RuntimeException(s"injected transient failure $sym@$since")
          val rest = data.getOrElse(sym, Array.empty[graft.io.PagedIngest.Candle])
            .filter(_.ts >= since)
          val page = rest.take(limit)
          // ragged page: never split a same-ts tie group across pages
          // (the cursor advances to last.ts + 1)
          if (page.isEmpty) Seq.empty
          else rest.takeWhile(_.ts <= page.last.ts).toSeq
        })
        val stream = s.readStream.format("graft-paged")
          .option("provider", key)
          .option("symbols", (0 until 5).map(_.toString).mkString(","))
          .option("pageLimit", "200").option("pagesPerBatch", "2")
          .load()
        val agg = stream.groupBy($"symbol")
          .agg(count(lit(1)).as("n"), Rx.r4(sum($"close")).as("sum_close"),
            Rx.r4(sum($"volume")).as("sum_vol"),
            min($"ts").as("first_ts"), max($"ts").as("last_ts"))
        StreamOps.drainToTable(agg, "complete", "st7")
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS symbol, count(*) AS n,
             |  round(sum(value) + 1e-9, 4) AS sum_close,
             |  round(sum(coalesce(CAST(json_extract_string(props, '$.k')
             |                          AS DOUBLE), 0.0)) + 1e-9, 4) AS sum_vol,
             |  min(epoch_us(ts)) AS first_ts, max(epoch_us(ts)) AS last_ts
             |FROM events WHERE user_id < 5 GROUP BY 1""".stripMargin)),

    // Multimodal plumbing: binary payload + metadata struct + batched
    // per-partition feature extraction (decode stubbed deterministically).
    Q("m1_multimodal",
      (s, dir) => {
        import s.implicits._
        val payloads = Multimodal.asPayload(
          Tables.documents(s, dir), "doc_id", "text", "source")
        Multimodal.extractFeatures(payloads)
          .select($"id".as("doc_id"),
            $"meta.n_bytes".as("n_bytes"), $"meta.source".as("source"),
            element_at($"features", 1).as("f_len"),
            element_at($"features", 2).as("f_frames"),
            r6(element_at($"features", 3)).as("f_mean_byte"),
            element_at($"features", 4).as("f_checksum"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, octet_length(encode(text)) AS nb,
             |    list_reduce(list_prepend(0,
             |      list_transform(range(1, length(text) + 1),
             |        i -> ord(substr(text, i, 1)))),
             |      (acc, x) -> acc + x) AS bsum
             |  FROM documents)
             |SELECT doc_id, nb AS n_bytes, source,
             |  CAST(nb AS DOUBLE) AS f_len,
             |  CAST(nb // 64 AS DOUBLE) AS f_frames,
             |  round(CAST(bsum AS DOUBLE) / greatest(nb, 1) + 1e-9, 6) AS f_mean_byte,
             |  CAST(bsum % 251 AS DOUBLE) AS f_checksum
             |FROM d""".stripMargin)),

    // Multimodal resize: average-pool the 64-dim embedding down to 8
    // bins — the image-resize / embedding-downsample step as pure
    // Column algebra (slice + left-fold per bin; bit-reproducible, so
    // the DuckDB list-comprehension oracle hash-matches exactly).
    Q("mm3_resize",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        // one scalar column per bin: the driver compare sorts rows by
        // every column, which array-typed outputs break (cf. t7's
        // scalar projections of its array results)
        Multimodal.poolResize(e, "v", 8)
          .select($"vec_id" +:
            (0 until 8).map(b =>
              r6(element_at($"pooled", b + 1)).as(s"p$b")): _*)
      },
      Some("""SELECT vec_id,
             |  """.stripMargin +
        (0 until 8).map(b =>
          s"""round(list_reduce(list_prepend(0.0,
             |     list_transform(embedding[$b*8+1 : $b*8+8],
             |       x -> CAST(x AS DOUBLE))),
             |     (acc, x) -> acc + x) / 8 + 1e-9, 6) AS p$b""".stripMargin)
          .mkString(",\n  ") +
        "\nFROM embeddings")),

    // MM3b (round-13): the multimodal decode path made REAL — a
    // dependency-free binary PPM codec (multimodal/Ppm.scala: header
    // tokenizer, comment handling, raster offset) run end to end:
    // deterministic 16×8 rasters are ENCODED as real P6 payloads, the
    // payloads DECODED back by the real parser, and the resize operates
    // on actual pixels (4×4 box-sum downsample per channel). The raster
    // bytes are (doc_id·31 + j·7) mod 251 — pure integer arithmetic —
    // so DuckDB replays the per-channel means and the resize checksum
    // without ever seeing a byte: any codec bug (mis-parsed header,
    // off-by-one raster offset) changes every mean and hash-fails.
    // decodeStub remains only for formats the container can't decode.
    Q("mm3b_ppm_resize",
      (s, dir) => {
        import s.implicits._
        val payloads = Multimodal.synthPpmPayload(
          Tables.documents(s, dir), "doc_id")
        Multimodal.ppmFeatures(payloads)
          .select($"id".as("doc_id"), $"width", $"height",
            r6($"mean_r").as("mean_r"), r6($"mean_g").as("mean_g"),
            r6($"mean_b").as("mean_b"), $"resize_cksum")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
             |    (d.doc_id * 31 + t.j * 7) % 251 AS v
             |  FROM documents d, range(0, 384) t(j))
             |SELECT doc_id, CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
             |  round(avg(CASE WHEN j % 3 = 0 THEN v END) + 1e-9, 6) AS mean_r,
             |  round(avg(CASE WHEN j % 3 = 1 THEN v END) + 1e-9, 6) AS mean_g,
             |  round(avg(CASE WHEN j % 3 = 2 THEN v END) + 1e-9, 6) AS mean_b,
             |  CAST(sum(v * (1 + ((j // 3) % 16) // 4
             |    + 4 * ((j // 3) // 64) + 8 * (j % 3))) AS BIGINT)
             |    AS resize_cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // Multimodal frame sampling: fixed 64-byte frames over the payload,
    // every 2nd frame kept, truncated at 7 frames — video frame-sample /
    // image-resize plumbing as pure Column algebra on the hex projection
    // (no decoder, no UDF, narrow explode → no shuffle at any scale).
    Q("mm2_frames",
      (s, dir) => {
        val payloads = Multimodal.asPayload(
          Tables.documents(s, dir), "doc_id", "text", "source")
        Multimodal.frameSample(payloads, "id", "payload",
            frameBytes = 64, stride = 2, maxFrames = 7)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, hex(encode(text)) AS hx,
             |    octet_length(encode(text)) AS nb
             |  FROM documents WHERE octet_length(encode(text)) > 0),
             |f AS (
             |  SELECT doc_id, hx,
             |    unnest(range(0, least((nb - 1) // 64 + 1, 7))) AS frame_id
             |  FROM d)
             |SELECT doc_id, frame_id,
             |  length(substring(hx, CAST(frame_id * 128 + 1 AS INT), 128)) // 2
             |    AS frame_bytes,
             |  substring(hx, CAST(frame_id * 128 + 1 AS INT), 8) AS head_hex
             |FROM f WHERE frame_id % 2 = 0""".stripMargin)),

    // Multimodal feature clustering (round 11 — the media-curation
    // pipeline end to end): payload → batched stub decode (the
    // mapPartitions mapInPandas shape, m1's contract) → portable
    // md5-order coarse cells over the 4-dim feature vectors (the
    // s3/s8 quantizer convention at full dimensionality) → per-cell
    // modality stats. This is how a 100 TB media corpus gets bucketed
    // for balanced sampling and near-dup triage: one narrow decode
    // pass, one broadcast of nCells full vectors, one cell-keyed
    // aggregate — no pairwise anything. Deterministic stub features
    // make the whole trained-then-applied pipeline SQL-replayable, so
    // it hash-checks like the s-tier.
    Q("mm4_modality_cluster",
      (s, dir) => {
        import s.implicits._
        val payloads = Multimodal.asPayload(
          Tables.documents(s, dir), "doc_id", "text", "source")
        // decode once: cells + assignment both read it
        val feats = Fixpoint.cut(Multimodal.extractFeatures(payloads)
          .select($"id", $"meta.n_bytes".as("n_bytes"), $"features"))
        val cells = graft.sim.IvfPq.coarseCells(feats, "id", "features", 4)
        // round-21: compiled per-row argmin over the collapsed
        // broadcast cell row (the CellAssign treatment — removes the
        // ×nCells explode + id-keyed Exchange; same winner, same cd2)
        val assign = feats
          .crossJoin(broadcast(
            graft.sim.CellAssign.collapse(cells, "cell", "cellv")))
          .select($"id", $"n_bytes",
            graft.sim.CellAssign.nearest($"features", $"__cents", 4).as("mn"))
          .select($"id", $"n_bytes", $"mn.cid".as("cell"),
            $"mn.d2".as("cd2"))
        assign.groupBy($"cell")
          .agg(count(lit(1)).as("n_docs"),
            r6(avg($"n_bytes".cast("double"))).as("mean_bytes"),
            r6(max($"cd2")).as("max_cd2"))
          .orderBy($"cell")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, octet_length(encode(text)) AS nb,
             |    list_reduce(list_prepend(0,
             |      list_transform(range(1, length(text) + 1),
             |        i -> ord(substr(text, i, 1)))),
             |      (acc, x) -> acc + x) AS bsum
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, nb,
             |    [CAST(nb AS DOUBLE), CAST(nb // 64 AS DOUBLE),
             |     CAST(bsum AS DOUBLE) / greatest(nb, 1),
             |     CAST(bsum % 251 AS DOUBLE)] AS v
             |  FROM d),
             |hs AS (SELECT doc_id, nb, v,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM f),
             |cells AS (SELECT v AS cellv,
             |    row_number() OVER (ORDER BY h, doc_id) - 1 AS cell
             |  FROM hs ORDER BY h, doc_id LIMIT 4),
             |asg AS (SELECT doc_id, nb, cell, cd2 FROM (
             |    SELECT f.doc_id, f.nb, c.cell,
             |      list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 5),
             |          i -> (f.v[i] - c.cellv[i]) * (f.v[i] - c.cellv[i]))),
             |        (acc, x) -> acc + x) AS cd2,
             |      row_number() OVER (PARTITION BY f.doc_id ORDER BY
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, 5),
             |            i -> (f.v[i] - c.cellv[i]) * (f.v[i] - c.cellv[i]))),
             |          (acc, x) -> acc + x), c.cell) AS arn
             |    FROM f, cells c) WHERE arn = 1)
             |SELECT cell, count(*) AS n_docs,
             |  round(avg(CAST(nb AS DOUBLE)) + 1e-9, 6) AS mean_bytes,
             |  round(max(cd2) + 1e-9, 6) AS max_cd2
             |FROM asg GROUP BY 1 ORDER BY cell""".stripMargin)),

    // MM3c (round-14): the codec boundary proven an INTERFACE, not a
    // P6 one-off — one binary column carries TWO real formats (even
    // ids P6 color, odd ids P5 grayscale, both at 16×8), and the
    // decode side dispatches on the payload's magic bytes
    // (Ppm.decodeAuto → shared header tokenizer, per-format raster
    // size). Features are closed-form in the generator (mean sample,
    // position-weighted checksum), so a mis-dispatch — P5 parsed as
    // P6, wrong raster length, wrong channel count — hash-fails every
    // odd row. Narrow batched decode, no shuffle until the final agg.
    Q("mm3c_netpbm",
      (s, dir) => {
        import s.implicits._
        Multimodal.netpbmFeatures(
            Multimodal.synthNetpbmPayload(Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"format", $"width", $"height",
            $"channels", r6($"mean_v").as("mean_v"), $"cksum")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j, (d.doc_id * 31 + t.j * 7) % 251 AS v
             |  FROM documents d, range(0, 384) t(j)
             |  WHERE d.doc_id % 2 = 0
             |  UNION ALL
             |  SELECT d.doc_id, t.j, (d.doc_id * 31 + t.j * 7) % 251 AS v
             |  FROM documents d, range(0, 128) t(j)
             |  WHERE d.doc_id % 2 = 1)
             |SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'P6' ELSE 'P5' END AS format,
             |  CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT)
             |    AS channels,
             |  round(avg(v) + 1e-9, 6) AS mean_v,
             |  CAST(sum(v * (1 + j % 16)) AS BIGINT) AS cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // MM3d (round-15, VERDICT item 3): REAL PNG decode in the mix —
    // one binary column carries THREE formats (P6 / P5 / PNG by
    // id mod 3), and PNG is the web's dominant image format decoded
    // for real: chunk walk with VERIFIED CRCs, JDK zlib inflate,
    // per-scanline un-filtering (the generator cycles all five filter
    // types by id mod 5, so None/Sub/Up/Average/Paeth ALL run in this
    // production query). The payload bytes are compressed and
    // engine-specific, but the decoded pixels replay the closed-form
    // generator exactly — so the oracle hash-checks the entire
    // inflate + un-filter round trip: a wrong Paeth tie-break, a
    // mis-walked chunk, an off-by-one scanline offset each hash-fail
    // a third of the rows. Narrow batched decode, no shuffle until
    // the final agg; with mm9's baseline JPEG (round-16) decodeStub
    // stands in ONLY for perceptual-transform audio (MP3/AAC).
    Q("mm3d_png_mixed",
      (s, dir) => {
        import s.implicits._
        Multimodal.netpbmFeatures(
            Multimodal.synthMixedImagePayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"format", $"width", $"height",
            $"channels", r6($"mean_v").as("mean_v"), $"cksum")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j, (d.doc_id * 31 + t.j * 7) % 251 AS v
             |  FROM documents d, range(0, 384) t(j)
             |  WHERE d.doc_id % 3 <> 1
             |  UNION ALL
             |  SELECT d.doc_id, t.j, (d.doc_id * 31 + t.j * 7) % 251 AS v
             |  FROM documents d, range(0, 128) t(j)
             |  WHERE d.doc_id % 3 = 1)
             |SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN 'P6'
             |       WHEN doc_id % 3 = 1 THEN 'P5' ELSE 'PNG' END AS format,
             |  CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS INT)
             |    AS channels,
             |  round(avg(v) + 1e-9, 6) AS mean_v,
             |  CAST(sum(v * (1 + j % 16)) AS BIGINT) AS cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // MM5 (round-14, VERDICT item 4): perceptual-hash near-dup IMAGES
    // — the real-pixel path connected to the dedup tier. Pipeline:
    // deterministic grouped rasters (docs in a group of 8 share a
    // base image, each perturbs two pixels of its own row; since
    // round-15 even ids are P6, odd ids the SAME raster as real PNG —
    // near-dup pairs usually span the two codecs, so a pixel-level
    // codec disagreement breaks the planted recall, not one row) →
    // REAL magic-dispatched decode → dHash (grayscale reduce,
    // pairwise box pool to 9×8, gradient bits — brightness/contrast
    // invariant) → the d2/d3 banded-LSH idiom on the 64-bit hash as
    // FOUR 16-bit bands: candidates only from band-bucket equality,
    // Hamming (bit_count ∘ xor, codegen'd Column algebra) only on
    // candidates, keep pairs ≤ 6 bits apart. At 100 TB the shape
    // holds: decode/hash is narrow, the band join is bucketed
    // (Σ|bucket|² — never all-pairs), and band WIDTH is the knob that
    // keeps accidental buckets small as the corpus grows (16 bits per
    // band here; a web corpus widens bands / adds a second hash, the
    // d2 banding argument verbatim). Routed through the shared
    // BandedLsh skeleton since round-15, which ENFORCES the
    // bucket-count ≥ corpus rule. same_group exposes the planted
    // ground truth: recall of the within-group near-dups, and any
    // cross-group survivor is exactly what the Hamming verify stage
    // exists to reject.
    Q("mm5_dhash_neardup",
      (s, dir) => {
        import s.implicits._
        val bands = Fixpoint.cut(Multimodal.dHashBands(
            Multimodal.synthPpmGroupPayload(
              Tables.documents(s, dir), "doc_id"))) // decode once: band join + both hamming reads
        graft.dedup.BandedLsh.hammingPairs(bands, bandBits = 16,
            maxHamming = 6)
          .select($"id_a", $"id_b", $"hamming",
            (($"id_a" - $"id_a" % 8) === ($"id_b" - $"id_b" % 8))
              .as("same_group"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    (CAST(('0x' || substr(md5(
             |        CAST(d.doc_id // 8 AS VARCHAR) || ':' ||
             |        CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT) +
             |     CASE WHEN (t.j // 3) // 18 = d.doc_id % 8
             |           AND (t.j // 3) % 18 < 2 THEN 97 ELSE 0 END) % 251
             |      AS v
             |  FROM documents d, range(0, 432) t(j)),
             |cells AS (
             |  SELECT doc_id, (j // 3) // 18 AS y, ((j // 3) % 18) // 2 AS cx,
             |    sum(v) AS p
             |  FROM px GROUP BY 1, 2, 3),
             |bts AS (
             |  SELECT a.doc_id, a.y, a.cx AS x,
             |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bt
             |  FROM cells a JOIN cells b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.cx = a.cx + 1
             |  WHERE a.cx < 8),
             |bands AS (
             |  SELECT doc_id, y // 2 AS k,
             |    CAST(sum(bt * (1 << (x + 8 * (y % 2)))) AS BIGINT) AS band
             |  FROM bts GROUP BY 1, 2),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(sum(bit_count(xor(x.band, y.band))) AS BIGINT)
             |      AS hamming
             |  FROM cand c
             |  JOIN bands x ON x.doc_id = c.id_a
             |  JOIN bands y ON y.doc_id = c.id_b AND y.k = x.k
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, hamming,
             |  (id_a // 8 = id_b // 8) AS same_group
             |FROM ham WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),

    // MM12 (round-17): the AUTO-WIDENED banded-LSH path as a DECLARED,
    // hash-checked query — every prior fixture sat under bucket
    // capacity and took the w=1 short-circuit (the widened concat ran
    // only in BandedLshSpec and the 120k-doc sf2w spot check). Here
    // the mm5 dHash is sliced into EIGHT 8-bit row-bands (band j =
    // row-j gradient bits), so 2^8 = 256 buckets undershoot both gate
    // corpora (500 / 5000 docs) and hammingPairs DERIVES w=2: adjacent
    // row-bands concatenate back into the 16-bit row-pair keys, whose
    // equality classes are exactly mm5's. The oracle replays the
    // DERIVATION itself, not just one branch — the r16 d14 idiom: both
    // the w=1 and w=2 candidate stages as CTEs, each guarded by the
    // corpus-count predicate the Scala widenFactor applies — so the
    // count-adaptive plan switch is itself under hash at every SF
    // (sf0.001's 50 docs take w=1, the gate SFs take w=2). Hamming
    // verify always runs on the full-resolution 8-band array.
    Q("mm12_dhash_widened",
      (s, dir) => {
        import s.implicits._
        val b16 = Multimodal.dHashBands(
            Multimodal.synthPpmGroupPayload(
              Tables.documents(s, dir), "doc_id"))
        // 4×16-bit packed row-pairs → 8×8-bit row bands: band 2k is
        // the even row (low byte), band 2k+1 the odd row (high byte)
        // decode once: band join + both hamming reads
        val b8 = Fixpoint.cut(b16.select($"id",
            flatten(transform($"bands", b =>
              array(b.bitwiseAND(lit(255L)), shiftright(b, 8)))).as("bands")))
        graft.dedup.BandedLsh.hammingPairs(b8, bandBits = 8, maxHamming = 6)
          .select($"id_a", $"id_b", $"hamming",
            (($"id_a" - $"id_a" % 8) === ($"id_b" - $"id_b" % 8))
              .as("same_group"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    (CAST(('0x' || substr(md5(
             |        CAST(d.doc_id // 8 AS VARCHAR) || ':' ||
             |        CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT) +
             |     CASE WHEN (t.j // 3) // 18 = d.doc_id % 8
             |           AND (t.j // 3) % 18 < 2 THEN 97 ELSE 0 END) % 251
             |      AS v
             |  FROM documents d, range(0, 432) t(j)),
             |cells AS (
             |  SELECT doc_id, (j // 3) // 18 AS y, ((j // 3) % 18) // 2 AS cx,
             |    sum(v) AS p
             |  FROM px GROUP BY 1, 2, 3),
             |bts AS (
             |  SELECT a.doc_id, a.y, a.cx AS x,
             |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bt
             |  FROM cells a JOIN cells b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.cx = a.cx + 1
             |  WHERE a.cx < 8),
             |b8 AS (
             |  SELECT doc_id, y AS k,
             |    CAST(sum(bt * (1 << x)) AS BIGINT) AS band
             |  FROM bts GROUP BY 1, 2),
             |nc AS (SELECT count(*) AS n FROM documents),
             |cand1 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM b8 a JOIN b8 b
             |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) <= 256),
             |wb AS (
             |  SELECT doc_id, k // 2 AS k2,
             |    CAST(sum(band * CASE WHEN k % 2 = 0 THEN 256 ELSE 1 END)
             |      AS BIGINT) AS wband
             |  FROM b8 GROUP BY 1, 2),
             |cand2 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM wb a JOIN wb b
             |    ON a.k2 = b.k2 AND a.wband = b.wband AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) > 256
             |    AND CASE WHEN (SELECT n FROM nc) > 65536 THEN error(
             |      'mm12 oracle replays w=2 only; >65536 docs takes w=4')
             |      ELSE TRUE END),
             |cand AS (SELECT * FROM cand1 UNION ALL SELECT * FROM cand2),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(sum(bit_count(xor(x.band, y.band))) AS BIGINT)
             |      AS hamming
             |  FROM cand c
             |  JOIN b8 x ON x.doc_id = c.id_a
             |  JOIN b8 y ON y.doc_id = c.id_b AND y.k = x.k
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, hamming,
             |  (id_a // 8 = id_b // 8) AS same_group
             |FROM ham WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),

    // MM18 (round-18): the HYBRID fixed-vs-LPC encoder's
    // predictor-FAMILY decision under hash — the real choice libFLAC
    // makes per subframe (search predictor families, emit the
    // cheapest), reduced to the deterministic integer rule
    // Flac.writeHybridSubframe applies: argmin over the five fixed
    // orders' AND the pinned LPC predictor's Σ|residual| (ties keep
    // the cheaper-header fixed family), CONSTANT short-circuit,
    // VERBATIM fallback in which the LPC candidate pays its own
    // 17-bit header surcharge. Four planted families (id mod 4) force
    // every branch: constant / decaying exponential (the recurrence
    // x_t = (3x_{t−1}−x_{t−2})>>1 solves it, so LPC must WIN) / the
    // mm13 ramp (a FIXED order wins) / md5 noise (VERBATIM). The
    // oracle replays all SIX candidate sums, the tie rule, the chosen
    // family's Rice chain and four mutually exclusive size formulas —
    // mm15's decision-tree idiom extended across predictor families.
    Q("mm18_flac_hybrid",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacFeatures(
            Multimodal.synthFlacHybridPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"), r6($"mean_abs").as("mean_abs"),
            $"peak", $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    CASE
             |      WHEN d.doc_id % 4 = 0 THEN d.doc_id % 201 - 100
             |      WHEN d.doc_id % 4 = 1 THEN
             |        100 + ((512 * (25 + d.doc_id % 37)) >> least(t.i, 30))
             |      WHEN d.doc_id % 4 = 2 THEN
             |        (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100
             |      ELSE ('0x' || substr(md5(d.doc_id || ':' || t.i), 1, 8))
             |             ::BIGINT % 60001 - 30000
             |    END AS v
             |  FROM documents d, range(0, 256) t(i)),
             |lg AS (
             |  SELECT doc_id, i, v,
             |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
             |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |res AS (
             |  SELECT doc_id, i, v AS r0,
             |    v - l1 AS r1,
             |    v - 2 * l1 + l2 AS r2,
             |    v - 3 * l1 + 3 * l2 - l3 AS r3,
             |    v - 4 * l1 + 6 * l2 - 4 * l3 + l4 AS r4,
             |    v - CAST(floor((3.0 * l1 - l2) / 2.0) AS BIGINT) AS rl
             |  FROM lg),
             |so AS (
             |  SELECT doc_id,
             |    sum(abs(r0)) AS s0,
             |    sum(CASE WHEN i >= 1 THEN abs(r1) ELSE 0 END) AS s1,
             |    sum(CASE WHEN i >= 2 THEN abs(r2) ELSE 0 END) AS s2,
             |    sum(CASE WHEN i >= 3 THEN abs(r3) ELSE 0 END) AS s3,
             |    sum(CASE WHEN i >= 4 THEN abs(r4) ELSE 0 END) AS s4,
             |    sum(CASE WHEN i >= 2 THEN abs(rl) ELSE 0 END) AS sl,
             |    min(r0) AS vmin, max(r0) AS vmax
             |  FROM res GROUP BY 1),
             |od AS (
             |  SELECT doc_id, vmin = vmax AS is_const,
             |    CASE WHEN s0 = m THEN 0 WHEN s1 = m THEN 1
             |         WHEN s2 = m THEN 2 WHEN s3 = m THEN 3
             |         WHEN s4 = m THEN 4 ELSE 5 END AS o
             |  FROM (SELECT *, least(s0, s1, s2, s3, s4, sl) AS m FROM so)),
             |zs AS (
             |  SELECT res.doc_id, od.o, od.is_const,
             |    CASE od.o WHEN 0 THEN res.r0 WHEN 1 THEN res.r1
             |              WHEN 2 THEN res.r2 WHEN 3 THEN res.r3
             |              WHEN 4 THEN res.r4 ELSE res.rl END AS rr,
             |    CASE WHEN rr < 0 THEN -2 * rr - 1 ELSE 2 * rr END AS z
             |  FROM res JOIN od ON res.doc_id = od.doc_id
             |  WHERE res.i >= (CASE WHEN od.o = 5 THEN 2 ELSE od.o END)),
             |kv AS (
             |  SELECT doc_id, o, is_const, nres,
             |    CASE
             |      WHEN mz >= 16384 THEN 14 WHEN mz >= 8192 THEN 13
             |      WHEN mz >= 4096 THEN 12 WHEN mz >= 2048 THEN 11
             |      WHEN mz >= 1024 THEN 10 WHEN mz >= 512 THEN 9
             |      WHEN mz >= 256 THEN 8 WHEN mz >= 128 THEN 7
             |      WHEN mz >= 64 THEN 6 WHEN mz >= 32 THEN 5
             |      WHEN mz >= 16 THEN 4 WHEN mz >= 8 THEN 3
             |      WHEN mz >= 4 THEN 2 WHEN mz >= 2 THEN 1 ELSE 0 END AS k
             |  FROM (SELECT doc_id, o, is_const, count(*) AS nres,
             |          sum(z) // count(*) AS mz
             |        FROM zs GROUP BY 1, 2, 3)),
             |rc AS (
             |  SELECT z.doc_id, kv.o, kv.is_const,
             |    10 + sum(z.z >> kv.k) + kv.nres * (1 + kv.k) AS rice_cost
             |  FROM zs z JOIN kv ON z.doc_id = kv.doc_id
             |  GROUP BY z.doc_id, kv.o, kv.is_const, kv.k, kv.nres),
             |sz AS (
             |  SELECT doc_id,
             |    CAST(CASE
             |      WHEN is_const THEN 55
             |      WHEN o = 5 AND rice_cost + 17 + 32 >= 4096 THEN 565
             |      WHEN o = 5 THEN 52 + (8 + 32 + 17 + rice_cost + 7) // 8
             |      WHEN rice_cost + 16 * o >= 4096 THEN 565
             |      ELSE 52 + (8 + 16 * o + rice_cost + 7) // 8
             |    END AS INT) AS encoded_bytes
             |  FROM rc),
             |f AS (
             |  SELECT doc_id, avg(abs(v)) AS mean_abs,
             |    max(abs(v)) AS peak, sum(v * v) AS energy
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  sz.encoded_bytes,
             |  round(sz.encoded_bytes / 512.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs + 1e-9, 6) AS mean_abs,
             |  CAST(f.peak AS INT) AS peak, CAST(f.energy AS BIGINT) AS energy
             |FROM f JOIN sz ON f.doc_id = sz.doc_id""".stripMargin)),

    // MM17 (round-18, VERDICT item 3): the TWO-TABLE widened LSH as a
    // DECLARED, hash-checked query — tables=2 existed only behind
    // tools/WidenRecall since round-17. Same 8×8-bit banding and w=2
    // wall as mm12, but the planted perturbation STRADDLES the
    // contiguous grouping: doc id dirties gradient bit 0 of rows
    // {id%4, id%4+4}, so a within-group pair whose r's straddle
    // {0,1}×{2,3} dirties ALL FOUR contiguous w=2 groups — the
    // single-table path is structurally blind to it — while the
    // strided composition (group g = rows {g, g+4}) keeps ≥2 clean
    // keys per pair (synthPpmStraddlePayload scaladoc). Measured at
    // sf0.001: 28 of 1742 planted pairs are strided-ONLY, so the
    // strided concat is load-bearing in the hash, not a rider. The
    // oracle replays BOTH compositions as guarded CTEs (the mm12
    // w-switch idiom extended to the table union): contiguous wb
    // (band 2g·256 + band 2g+1), strided swb (band g·256 + band g+4),
    // candidates UNIONed then one full-resolution Hamming verify at
    // the exact ≤4 in-group ceiling (4 dirty rows × ≤1 bit).
    Q("mm17_dhash_twotable",
      (s, dir) => {
        import s.implicits._
        val b16 = Multimodal.dHashBands(
            Multimodal.synthPpmStraddlePayload(
              Tables.documents(s, dir), "doc_id"))
        // decode once: band join + both hamming reads
        val b8 = Fixpoint.cut(b16.select($"id",
            flatten(transform($"bands", b =>
              array(b.bitwiseAND(lit(255L)), shiftright(b, 8)))).as("bands")))
        graft.dedup.BandedLsh.hammingPairsTables(b8, bandBits = 8,
            maxHamming = 4, tables = 2)
          .select($"id_a", $"id_b", $"hamming",
            (($"id_a" - $"id_a" % 8) === ($"id_b" - $"id_b" % 8))
              .as("same_group"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    (CAST(('0x' || substr(md5(
             |        CAST(d.doc_id // 8 AS VARCHAR) || ':' ||
             |        CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT) +
             |     CASE WHEN (t.j // 3) // 18 % 4 = d.doc_id % 4
             |           AND (t.j // 3) % 18 < 2 THEN 97 ELSE 0 END) % 251
             |      AS v
             |  FROM documents d, range(0, 432) t(j)),
             |cells AS (
             |  SELECT doc_id, (j // 3) // 18 AS y, ((j // 3) % 18) // 2 AS cx,
             |    sum(v) AS p
             |  FROM px GROUP BY 1, 2, 3),
             |bts AS (
             |  SELECT a.doc_id, a.y, a.cx AS x,
             |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bt
             |  FROM cells a JOIN cells b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.cx = a.cx + 1
             |  WHERE a.cx < 8),
             |b8 AS (
             |  SELECT doc_id, y AS k,
             |    CAST(sum(bt * (1 << x)) AS BIGINT) AS band
             |  FROM bts GROUP BY 1, 2),
             |nc AS (SELECT count(*) AS n FROM documents),
             |cand1 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM b8 a JOIN b8 b
             |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) <= 256),
             |wb AS (
             |  SELECT doc_id, k // 2 AS g,
             |    CAST(sum(band * CASE WHEN k % 2 = 0 THEN 256 ELSE 1 END)
             |      AS BIGINT) AS wband
             |  FROM b8 GROUP BY 1, 2),
             |swb AS (
             |  SELECT doc_id, k % 4 AS g,
             |    CAST(sum(band * CASE WHEN k < 4 THEN 256 ELSE 1 END)
             |      AS BIGINT) AS wband
             |  FROM b8 GROUP BY 1, 2),
             |cand2c AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM wb a JOIN wb b
             |    ON a.g = b.g AND a.wband = b.wband AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) > 256
             |    AND CASE WHEN (SELECT n FROM nc) > 65536 THEN error(
             |      'mm17 oracle replays w=2 only; >65536 docs takes w=4')
             |      ELSE TRUE END),
             |cand2s AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM swb a JOIN swb b
             |    ON a.g = b.g AND a.wband = b.wband AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) > 256),
             |cand AS (
             |  SELECT * FROM cand1
             |  UNION SELECT * FROM cand2c UNION SELECT * FROM cand2s),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(sum(bit_count(xor(x.band, y.band))) AS BIGINT)
             |      AS hamming
             |  FROM cand c
             |  JOIN b8 x ON x.doc_id = c.id_a
             |  JOIN b8 y ON y.doc_id = c.id_b AND y.k = x.k
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, hamming,
             |  (id_a // 8 = id_b // 8) AS same_group
             |FROM ham WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin)),

    // MM20 (round-20, VERDICT item 1): the w=4 WIDENED branch — the
    // one BandedLsh.widenFactor takes past 65,536 docs at 8-bit bands,
    // until now reachable only by the loud mm12/mm17 oracle guards —
    // put under hash at GATE scale by re-slicing the same mm5 dHash
    // into SIXTEEN 4-bit nibble bands. With 2^4 = 16 buckets, the
    // gate corpora sit far past TWO capacity walls and the derivation
    // runs the full production ladder: 500 docs → widenFactor derives
    // w=3 (4096 ≥ 500), 16 % 3 ≠ 0 → the DIVISOR BUMP (round-18)
    // lifts it to w=4; 5,000 docs → w=4 directly (65536 ≥ 5000). So
    // BOTH w=4 entry paths — bumped and direct — execute under hash
    // at the gate SFs, exercising exactly the code a >65k-doc corpus
    // runs at 8-bit bands. The shift-concat of 4 adjacent nibbles is
    // an injective permutation of mm5's 16-bit row-pair bands, so the
    // planted group recall carries over unchanged and the result is
    // provably mm5's — any divergence isolates a widening defect, not
    // a fixture difference. The oracle replays the WHOLE ladder as
    // guarded CTEs (d20 idiom): w=1 (n ≤ 16), w=2 (n ≤ 256), w=4
    // (256 < n ≤ 65536 — one CTE covers both derivation paths since
    // w=3 can never survive the 16-band divisibility bump), and
    // errors loudly past 65,536 docs where w=8 begins (2 groups of 8
    // nibbles — the next divisor-bumped width). Hamming verify always
    // runs on the full-resolution array.
    Q("mm20_dhash_w4",
      (s, dir) => {
        import s.implicits._
        val b16 = Multimodal.dHashBands(
            Multimodal.synthPpmGroupPayload(
              Tables.documents(s, dir), "doc_id"))
        // 4×16-bit packed row-pairs → 16×4-bit nibble bands, low
        // nibble first (band 4k+i = bits 4i..4i+3 of packed band k)
        // decode once: band join + both hamming reads
        val b4 = Fixpoint.cut(b16.select($"id",
            flatten(transform($"bands", b =>
              array(b.bitwiseAND(lit(15L)),
                shiftright(b, 4).bitwiseAND(lit(15L)),
                shiftright(b, 8).bitwiseAND(lit(15L)),
                shiftright(b, 12).bitwiseAND(lit(15L))))).as("bands")))
        graft.dedup.BandedLsh.hammingPairs(b4, bandBits = 4, maxHamming = 6)
          .select($"id_a", $"id_b", $"hamming",
            (($"id_a" - $"id_a" % 8) === ($"id_b" - $"id_b" % 8))
              .as("same_group"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    (CAST(('0x' || substr(md5(
             |        CAST(d.doc_id // 8 AS VARCHAR) || ':' ||
             |        CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT) +
             |     CASE WHEN (t.j // 3) // 18 = d.doc_id % 8
             |           AND (t.j // 3) % 18 < 2 THEN 97 ELSE 0 END) % 251
             |      AS v
             |  FROM documents d, range(0, 432) t(j)),
             |cells AS (
             |  SELECT doc_id, (j // 3) // 18 AS y, ((j // 3) % 18) // 2 AS cx,
             |    sum(v) AS p
             |  FROM px GROUP BY 1, 2, 3),
             |bts AS (
             |  SELECT a.doc_id, a.y, a.cx AS x,
             |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bt
             |  FROM cells a JOIN cells b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.cx = a.cx + 1
             |  WHERE a.cx < 8),
             |b16 AS (
             |  SELECT doc_id, y // 2 AS k,
             |    CAST(sum(bt * (1 << (x + 8 * (y % 2)))) AS BIGINT) AS band
             |  FROM bts GROUP BY 1, 2),
             |nib AS (
             |  SELECT doc_id, k * 4 + t.i AS j,
             |    CAST((band >> (4 * t.i)) & 15 AS BIGINT) AS nb
             |  FROM b16, range(0, 4) t(i)),
             |nc AS (SELECT count(*) AS n FROM documents),
             |cand1 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM nib a JOIN nib b
             |    ON a.j = b.j AND a.nb = b.nb AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) <= 16),
             |w2 AS (
             |  SELECT doc_id, j // 2 AS g,
             |    CAST(sum(nb * (1 << (4 * (1 - j % 2)))) AS BIGINT) AS wband
             |  FROM nib GROUP BY 1, 2),
             |cand2 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM w2 a JOIN w2 b
             |    ON a.g = b.g AND a.wband = b.wband AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) > 16 AND (SELECT n FROM nc) <= 256),
             |w4 AS (
             |  SELECT doc_id, j // 4 AS g,
             |    CAST(sum(nb * (1 << (4 * (3 - j % 4)))) AS BIGINT) AS wband
             |  FROM nib GROUP BY 1, 2),
             |cand4 AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM w4 a JOIN w4 b
             |    ON a.g = b.g AND a.wband = b.wband AND a.doc_id < b.doc_id
             |  WHERE (SELECT n FROM nc) > 256
             |    AND CASE WHEN (SELECT n FROM nc) > 65536 THEN error(
             |      'mm20 oracle replays w<=4; >65536 docs derives w=8')
             |      ELSE TRUE END),
             |cand AS (
             |  SELECT * FROM cand1 UNION ALL SELECT * FROM cand2
             |  UNION ALL SELECT * FROM cand4),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(sum(bit_count(xor(x.band, y.band))) AS BIGINT)
             |      AS hamming
             |  FROM cand c
             |  JOIN b16 x ON x.doc_id = c.id_a
             |  JOIN b16 y ON y.doc_id = c.id_b AND y.k = x.k
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, hamming,
             |  (id_a // 8 = id_b // 8) AS same_group
             |FROM ham WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),

    // MM6 (round-14): the AUDIO decode path made real — a
    // dependency-free PCM WAV codec (multimodal/Wav.scala: RIFF chunk
    // walk, fmt validation, Long-bounded adversarial sizes) run end to
    // end: deterministic integer waveforms are ENCODED as real WAV
    // payloads, DECODED back by the real parser, and the classic
    // cheap signal features (mean |amplitude|, strict-sign zero
    // crossings, peak, integer energy) computed from actual samples.
    // The waveform is closed-form in the generator, so DuckDB replays
    // every feature without touching a byte: any codec bug —
    // mis-walked chunk, wrong sample offset, endianness — hash-fails
    // every row. After PPM/PGM (images), this leaves decodeStub
    // standing in only for compressed formats.
    Q("mm6_wav_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.wavFeatures(
            Multimodal.synthWavPayload(Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"sample_rate",
            r6($"mean_abs").as("mean_abs"), $"zero_crossings", $"peak",
            $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 7 + t.i * 13) % 201 - 100 AS v
             |  FROM documents d, range(0, 256) t(i)),
             |w AS (
             |  SELECT doc_id, i, v,
             |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
             |  FROM s)
             |SELECT doc_id, CAST(256 AS INT) AS n_samples,
             |  CAST(8000 AS INT) AS sample_rate,
             |  round(avg(abs(v)) + 1e-9, 6) AS mean_abs,
             |  CAST(sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zero_crossings,
             |  CAST(max(abs(v)) AS INT) AS peak,
             |  CAST(sum(v * v) AS BIGINT) AS energy
             |FROM w GROUP BY doc_id""".stripMargin)),

    // MM8 (round-15): LOSSY audio decode made real — G.711 μ-law
    // (fmt-7 WAV, the telephony standard's 8-bit companded PCM):
    // wide-range 16-bit waveforms are COMPRESSED to μ-law bytes
    // (sign + 3-bit exponent + 4-bit mantissa, logarithmic
    // quantization — a genuine lossy encode), decoded back to
    // bucket-midpoint samples by the real parser, and the signal
    // features computed from the DECODED (distorted) samples. The
    // waveform spans ±30000 so every exponent band and both signs
    // run; the oracle replays the compress→expand round trip
    // closed-form (threshold ladder for the exponent, shift/mask
    // arithmetic for mantissa and expansion), so a single wrong bit
    // anywhere in the companding hash-fails every row. After PCM WAV
    // (lossless audio), PNG (compressed images) and mm9's baseline
    // JPEG (round-16), decodeStub now stands in only for
    // perceptual-transform audio (MP3/AAC).
    Q("mm8_ulaw_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.wavFeatures(
            Multimodal.synthUlawPayload(Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"sample_rate",
            r6($"mean_abs").as("mean_abs"), $"zero_crossings", $"peak",
            $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 131 + t.i * 263) % 60001 - 30000 AS v
             |  FROM documents d, range(0, 256) t(i)),
             |c AS (
             |  SELECT doc_id, i,
             |    least(abs(v), 32635) + 132 AS x,
             |    CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
             |  FROM s),
             |e AS (
             |  SELECT doc_id, i, x, sgn,
             |    CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6
             |         WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
             |         WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
             |         WHEN x >= 256 THEN 1 ELSE 0 END AS ex
             |  FROM c),
             |dec AS (
             |  SELECT doc_id, i,
             |    sgn * ((((x >> (ex + 3)) & 15) * 8 + 132) * (1 << ex)
             |           - 132) AS dv
             |  FROM e),
             |w AS (
             |  SELECT doc_id, i, dv,
             |    lag(dv) OVER (PARTITION BY doc_id ORDER BY i) AS pv
             |  FROM dec)
             |SELECT doc_id, CAST(256 AS INT) AS n_samples,
             |  CAST(8000 AS INT) AS sample_rate,
             |  round(avg(abs(dv)) + 1e-9, 6) AS mean_abs,
             |  CAST(sum(CASE WHEN pv * dv < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zero_crossings,
             |  CAST(max(abs(dv)) AS INT) AS peak,
             |  CAST(sum(dv * dv) AS BIGINT) AS energy
             |FROM w GROUP BY doc_id""".stripMargin)),

    // MM13 (round-17): LOSSLESS audio COMPRESSION made real — a
    // dependency-free FLAC codec (RFC 9639 subset: STREAMINFO,
    // CRC-8/CRC-16-guarded frames, FIXED polynomial predictors,
    // Rice-coded residuals; Flac.scala scaladoc). With WAV PCM
    // (uncompressed lossless, mm6) and G.711 μ-law (lossy, mm8) this
    // completes the audio codec triangle, shrinking decodeStub's
    // boundary to perceptual-transform audio only. The oracle checks
    // MORE than any prior codec query: losslessness means the decoded
    // samples ARE the planted closed form (no exactness subspace
    // needed), and the deterministic Rice-parameter rule lets DuckDB
    // recompute the COMPRESSED SIZE itself — lag() for the order-2
    // residuals, zigzag + integer-mean CASE ladder for k, Σ(zz>>k)+
    // n(k+1) for the bits, constants for the container — so a wrong
    // bit ANYWHERE in encoder or decoder (predictor, Rice, CRC,
    // container) hash-fails either the features or the size. Decode
    // is narrow per-partition work; bytes never leave the partition.
    Q("mm13_flac_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacFeatures(
            Multimodal.synthFlacPayload(Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"), r6($"mean_abs").as("mean_abs"),
            $"peak", $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100 AS v
             |  FROM documents d, range(0, 256) t(i)),
             |r AS (
             |  SELECT doc_id, i, v,
             |    v - 2 * lag(v, 1) OVER w + lag(v, 2) OVER w AS res
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id,
             |    CASE WHEN res < 0 THEN -2 * res - 1 ELSE 2 * res END AS zz
             |  FROM r WHERE i >= 2),
             |kp AS (
             |  SELECT doc_id, sum(zz) // 254 AS m FROM z GROUP BY 1),
             |kk AS (
             |  SELECT doc_id, CASE
             |    WHEN m >= 16384 THEN 14 WHEN m >= 8192 THEN 13
             |    WHEN m >= 4096 THEN 12 WHEN m >= 2048 THEN 11
             |    WHEN m >= 1024 THEN 10 WHEN m >= 512 THEN 9
             |    WHEN m >= 256 THEN 8 WHEN m >= 128 THEN 7
             |    WHEN m >= 64 THEN 6 WHEN m >= 32 THEN 5
             |    WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3
             |    WHEN m >= 4 THEN 2 WHEN m >= 2 THEN 1 ELSE 0 END AS k
             |  FROM kp),
             |rb AS (
             |  SELECT z.doc_id,
             |    CAST(42 + 8 + ((50 + sum((zz >> k) + 1 + k) + 7) // 8) + 2
             |         AS INT) AS encoded_bytes
             |  FROM z JOIN kk ON z.doc_id = kk.doc_id
             |  GROUP BY z.doc_id, kk.k),
             |f AS (
             |  SELECT doc_id, avg(abs(v)) AS mean_abs,
             |    max(abs(v)) AS peak, sum(v * v) AS energy
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  rb.encoded_bytes,
             |  round(rb.encoded_bytes / 512.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs + 1e-9, 6) AS mean_abs,
             |  CAST(f.peak AS INT) AS peak, CAST(f.energy AS BIGINT) AS energy
             |FROM f JOIN rb ON f.doc_id = rb.doc_id""".stripMargin)),

    // MM14 (round-17): STEREO FLAC with mid-side decorrelation — the
    // inter-channel half of RFC 9639's subset layer. The planted pair
    // is exactly the shape decorrelation exists for (right = left −
    // small difference signal, so the side channel is tiny and the
    // mid channel rides the ramp), and the oracle replays the WHOLE
    // path closed-form: the integer mid/side transform (m =
    // floor((l+r)/2), s = l−r — the dropped LSB rides the side
    // channel's parity on decode), per-channel order-2 residuals,
    // TWO deterministic Rice parameters, the two-subframe size
    // formula (mid at 16 bits, side at 17 as the spec requires), and
    // per-channel features of the losslessly decoded L/R. A wrong bit
    // in the decorrelation, either predictor, either Rice stream, or
    // the 17-bit side width hash-fails size or features.
    Q("mm14_flac_stereo",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacStereoFeatures(
            Multimodal.synthFlacStereoPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"),
            r6($"mean_abs_l").as("mean_abs_l"),
            r6($"mean_abs_r").as("mean_abs_r"),
            $"energy_l", $"energy_r")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100 AS l,
             |    (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100
             |      - ((d.doc_id * 11 + t.i * 3) % 41 - 20) AS r
             |  FROM documents d, range(0, 256) t(i)),
             |ms AS (
             |  SELECT doc_id, i, l, r,
             |    CAST(floor((l + r) / 2.0) AS BIGINT) AS m,
             |    l - r AS sd
             |  FROM s),
             |res AS (
             |  SELECT doc_id, i,
             |    m - 2 * lag(m, 1) OVER w + lag(m, 2) OVER w AS rm,
             |    sd - 2 * lag(sd, 1) OVER w + lag(sd, 2) OVER w AS rs
             |  FROM ms WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id,
             |    CASE WHEN rm < 0 THEN -2 * rm - 1 ELSE 2 * rm END AS zm,
             |    CASE WHEN rs < 0 THEN -2 * rs - 1 ELSE 2 * rs END AS zs
             |  FROM res WHERE i >= 2),
             |km AS (
             |  SELECT doc_id, sum(zm) // 254 AS avm, sum(zs) // 254 AS avs
             |  FROM z GROUP BY 1),
             |kk AS (
             |  SELECT doc_id, CASE
             |    WHEN avm >= 16384 THEN 14 WHEN avm >= 8192 THEN 13
             |    WHEN avm >= 4096 THEN 12 WHEN avm >= 2048 THEN 11
             |    WHEN avm >= 1024 THEN 10 WHEN avm >= 512 THEN 9
             |    WHEN avm >= 256 THEN 8 WHEN avm >= 128 THEN 7
             |    WHEN avm >= 64 THEN 6 WHEN avm >= 32 THEN 5
             |    WHEN avm >= 16 THEN 4 WHEN avm >= 8 THEN 3
             |    WHEN avm >= 4 THEN 2 WHEN avm >= 2 THEN 1 ELSE 0 END AS km,
             |  CASE
             |    WHEN avs >= 16384 THEN 14 WHEN avs >= 8192 THEN 13
             |    WHEN avs >= 4096 THEN 12 WHEN avs >= 2048 THEN 11
             |    WHEN avs >= 1024 THEN 10 WHEN avs >= 512 THEN 9
             |    WHEN avs >= 256 THEN 8 WHEN avs >= 128 THEN 7
             |    WHEN avs >= 64 THEN 6 WHEN avs >= 32 THEN 5
             |    WHEN avs >= 16 THEN 4 WHEN avs >= 8 THEN 3
             |    WHEN avs >= 4 THEN 2 WHEN avs >= 2 THEN 1 ELSE 0 END AS ks
             |  FROM km),
             |rb AS (
             |  SELECT z.doc_id,
             |    CAST(42 + 8 + ((102 + sum((zm >> km) + 1 + km
             |                             + (zs >> ks) + 1 + ks) + 7) // 8)
             |         + 2 AS INT) AS encoded_bytes
             |  FROM z JOIN kk ON z.doc_id = kk.doc_id
             |  GROUP BY z.doc_id, kk.km, kk.ks),
             |f AS (
             |  SELECT doc_id,
             |    avg(abs(l)) AS mean_abs_l, avg(abs(r)) AS mean_abs_r,
             |    sum(l * l) AS energy_l, sum(r * r) AS energy_r
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  rb.encoded_bytes,
             |  round(rb.encoded_bytes / 1024.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs_l + 1e-9, 6) AS mean_abs_l,
             |  round(f.mean_abs_r + 1e-9, 6) AS mean_abs_r,
             |  CAST(f.energy_l AS BIGINT) AS energy_l,
             |  CAST(f.energy_r AS BIGINT) AS energy_r
             |FROM f JOIN rb ON f.doc_id = rb.doc_id""".stripMargin)),

    // MM15 (round-17): the ADAPTIVE encoder's decision tree under
    // hash. mm13/mm14 pin one encoder configuration; here three
    // planted signal families (constant / ramp / md5 noise, id mod 3)
    // run the UNPINNED encoder, and the oracle replays every decision
    // it makes: the constant check (min=max), all FIVE fixed-order
    // residual sums, the argmin with ties to the lower order
    // (pickOrder's exact rule), the deterministic Rice k of the
    // chosen order, the Rice-vs-raw fallback comparison, and the
    // three mutually exclusive size formulas (55-byte CONSTANT /
    // order-dependent FIXED / 565-byte VERBATIM — the d14
    // branch-switch idiom, applied to a codec's mode choice). A wrong
    // branch ANYWHERE — a biased order tie, an off-by-one in the
    // Rice-vs-raw threshold, a wrong warmup width — lands a different
    // encoded_bytes and hash-fails.
    Q("mm15_flac_adaptive",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacFeatures(
            Multimodal.synthFlacAdaptivePayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"), r6($"mean_abs").as("mean_abs"),
            $"peak", $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    CASE
             |      WHEN d.doc_id % 3 = 0 THEN d.doc_id % 201 - 100
             |      WHEN d.doc_id % 3 = 1 THEN
             |        (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100
             |      ELSE ('0x' || substr(md5(d.doc_id || ':' || t.i), 1, 8))
             |             ::BIGINT % 60001 - 30000
             |    END AS v
             |  FROM documents d, range(0, 256) t(i)),
             |lg AS (
             |  SELECT doc_id, i, v,
             |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
             |    lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |res AS (
             |  SELECT doc_id, i, v AS r0,
             |    v - l1 AS r1,
             |    v - 2 * l1 + l2 AS r2,
             |    v - 3 * l1 + 3 * l2 - l3 AS r3,
             |    v - 4 * l1 + 6 * l2 - 4 * l3 + l4 AS r4
             |  FROM lg),
             |so AS (
             |  SELECT doc_id,
             |    sum(abs(r0)) AS s0,
             |    sum(CASE WHEN i >= 1 THEN abs(r1) ELSE 0 END) AS s1,
             |    sum(CASE WHEN i >= 2 THEN abs(r2) ELSE 0 END) AS s2,
             |    sum(CASE WHEN i >= 3 THEN abs(r3) ELSE 0 END) AS s3,
             |    sum(CASE WHEN i >= 4 THEN abs(r4) ELSE 0 END) AS s4,
             |    min(r0) AS vmin, max(r0) AS vmax
             |  FROM res GROUP BY 1),
             |od AS (
             |  SELECT doc_id, vmin = vmax AS is_const,
             |    CASE WHEN s0 = m THEN 0 WHEN s1 = m THEN 1
             |         WHEN s2 = m THEN 2 WHEN s3 = m THEN 3
             |         ELSE 4 END AS o
             |  FROM (SELECT *, least(s0, s1, s2, s3, s4) AS m FROM so)),
             |zs AS (
             |  SELECT res.doc_id, od.o, od.is_const,
             |    CASE od.o WHEN 0 THEN res.r0 WHEN 1 THEN res.r1
             |              WHEN 2 THEN res.r2 WHEN 3 THEN res.r3
             |              ELSE res.r4 END AS rr,
             |    CASE WHEN rr < 0 THEN -2 * rr - 1 ELSE 2 * rr END AS z
             |  FROM res JOIN od ON res.doc_id = od.doc_id
             |  WHERE res.i >= od.o),
             |kv AS (
             |  SELECT doc_id, o, is_const, nres,
             |    CASE
             |      WHEN mz >= 16384 THEN 14 WHEN mz >= 8192 THEN 13
             |      WHEN mz >= 4096 THEN 12 WHEN mz >= 2048 THEN 11
             |      WHEN mz >= 1024 THEN 10 WHEN mz >= 512 THEN 9
             |      WHEN mz >= 256 THEN 8 WHEN mz >= 128 THEN 7
             |      WHEN mz >= 64 THEN 6 WHEN mz >= 32 THEN 5
             |      WHEN mz >= 16 THEN 4 WHEN mz >= 8 THEN 3
             |      WHEN mz >= 4 THEN 2 WHEN mz >= 2 THEN 1 ELSE 0 END AS k
             |  FROM (SELECT doc_id, o, is_const, count(*) AS nres,
             |          sum(z) // (256 - o) AS mz
             |        FROM zs GROUP BY 1, 2, 3)),
             |rc AS (
             |  SELECT z.doc_id, kv.o, kv.is_const,
             |    10 + sum(z.z >> kv.k) + kv.nres * (1 + kv.k) AS rice_cost
             |  FROM zs z JOIN kv ON z.doc_id = kv.doc_id
             |  GROUP BY z.doc_id, kv.o, kv.is_const, kv.k, kv.nres),
             |sz AS (
             |  SELECT doc_id,
             |    CAST(CASE
             |      WHEN is_const THEN 55
             |      WHEN rice_cost + 16 * o >= 4096 THEN 565
             |      ELSE 52 + (8 + 16 * o + rice_cost + 7) // 8
             |    END AS INT) AS encoded_bytes
             |  FROM rc),
             |f AS (
             |  SELECT doc_id, avg(abs(v)) AS mean_abs,
             |    max(abs(v)) AS peak, sum(v * v) AS energy
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  sz.encoded_bytes,
             |  round(sz.encoded_bytes / 512.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs + 1e-9, 6) AS mean_abs,
             |  CAST(f.peak AS INT) AS peak, CAST(f.energy AS BIGINT) AS energy
             |FROM f JOIN sz ON f.doc_id = sz.doc_id""".stripMargin)),

    // MM16 (round-18, VERDICT item 1): QUANTIZED-LPC FLAC — the codec
    // tier's last real gap closed. Wild FLAC is predominantly LPC
    // subframes; the decoder now accepts the full RFC 9639 §9.2.4
    // layer (orders 1–32, header-declared coefficient precision and
    // shift), and this query pins the path under the hash gate with
    // the mm13 recipe extended to the LPC chain: the pinned predictor
    // pred = (3·x_{t−1} − x_{t−2}) >> shift with an ID-DEPENDENT
    // shift (1 + id mod 2 — both wire shifts run), so the oracle
    // replays the shift selection (pow(2, 1 + id%2) under floor
    // division — two's-complement >> IS floor division by 2^s), the
    // integer residual chain via lag(), the Rice-k ladder, and the
    // 67-bit LPC subframe prefix (8 hdr + 32 warmup + 4 precision +
    // 5 shift + 8 coefs + 10 residual hdr) in the size formula. A
    // wrong bit in the LPC header fields, the coefficient
    // sign-extension, the shift arithmetic or the Rice stream
    // hash-fails size or features. Decode stays narrow per-partition.
    Q("mm16_flac_lpc",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacFeatures(
            Multimodal.synthFlacLpcPayload(Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"), r6($"mean_abs").as("mean_abs"),
            $"peak", $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100 AS v
             |  FROM documents d, range(0, 256) t(i)),
             |r AS (
             |  SELECT doc_id, i, v,
             |    v - CAST(floor((3.0 * lag(v, 1) OVER w - lag(v, 2) OVER w)
             |             / pow(2, 1 + doc_id % 2)) AS BIGINT) AS res
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id,
             |    CASE WHEN res < 0 THEN -2 * res - 1 ELSE 2 * res END AS zz
             |  FROM r WHERE i >= 2),
             |kp AS (
             |  SELECT doc_id, sum(zz) // 254 AS m FROM z GROUP BY 1),
             |kk AS (
             |  SELECT doc_id, CASE
             |    WHEN m >= 16384 THEN 14 WHEN m >= 8192 THEN 13
             |    WHEN m >= 4096 THEN 12 WHEN m >= 2048 THEN 11
             |    WHEN m >= 1024 THEN 10 WHEN m >= 512 THEN 9
             |    WHEN m >= 256 THEN 8 WHEN m >= 128 THEN 7
             |    WHEN m >= 64 THEN 6 WHEN m >= 32 THEN 5
             |    WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3
             |    WHEN m >= 4 THEN 2 WHEN m >= 2 THEN 1 ELSE 0 END AS k
             |  FROM kp),
             |rb AS (
             |  SELECT z.doc_id,
             |    CAST(42 + 8 + ((67 + sum((zz >> k) + 1 + k) + 7) // 8) + 2
             |         AS INT) AS encoded_bytes
             |  FROM z JOIN kk ON z.doc_id = kk.doc_id
             |  GROUP BY z.doc_id, kk.k),
             |f AS (
             |  SELECT doc_id, avg(abs(v)) AS mean_abs,
             |    max(abs(v)) AS peak, sum(v * v) AS energy
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  rb.encoded_bytes,
             |  round(rb.encoded_bytes / 512.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs + 1e-9, 6) AS mean_abs,
             |  CAST(f.peak AS INT) AS peak, CAST(f.energy AS BIGINT) AS energy
             |FROM f JOIN rb ON f.doc_id = rb.doc_id""".stripMargin)),

    // MM19 (round-19, VERDICT item 4): WASTED-BITS subframes — the
    // last RFC 9639 §9 feature the decode path rejected by name, and
    // the first rejection a user pointing Multimodal at wild FLAC
    // would hit (low-bit-depth audio padded into 16/24-bit containers
    // uses it routinely). Family w = id mod 3 plants odd-base samples
    // scaled by 2^w (synthFlacWastedPayload scaladoc), so the
    // encoder's detected common trailing-zero count is exactly w: it
    // must code the subframe at 16−w bits with k = w declared unary
    // in the header, and the decoder must strip the flag, decode
    // narrow and shift back — losslessness keeps the decoded samples
    // the planted closed form, and the size oracle is mm13's formula
    // with the net −w header delta (wasted field +w bits, 2-sample
    // warmup −2w). The w = 0 family pins that the plain branch still
    // writes bit-identically.
    Q("mm19_flac_wasted",
      (s, dir) => {
        import s.implicits._
        Multimodal.flacFeatures(
            Multimodal.synthFlacWastedPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"n_samples", $"encoded_bytes",
            r6($"ratio").as("ratio"), r6($"mean_abs").as("mean_abs"),
            $"peak", $"energy")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, d.doc_id % 3 AS w, t.i,
             |    2 * ((d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 101 - 50)
             |      + 1 AS b
             |  FROM documents d, range(0, 256) t(i)),
             |r AS (
             |  SELECT doc_id, w, i, b,
             |    b - 2 * lag(b, 1) OVER win + lag(b, 2) OVER win AS res
             |  FROM s WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id, w,
             |    CASE WHEN res < 0 THEN -2 * res - 1 ELSE 2 * res END AS zz
             |  FROM r WHERE i >= 2),
             |kp AS (
             |  SELECT doc_id, sum(zz) // 254 AS m FROM z GROUP BY 1),
             |kk AS (
             |  SELECT doc_id, CASE
             |    WHEN m >= 16384 THEN 14 WHEN m >= 8192 THEN 13
             |    WHEN m >= 4096 THEN 12 WHEN m >= 2048 THEN 11
             |    WHEN m >= 1024 THEN 10 WHEN m >= 512 THEN 9
             |    WHEN m >= 256 THEN 8 WHEN m >= 128 THEN 7
             |    WHEN m >= 64 THEN 6 WHEN m >= 32 THEN 5
             |    WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3
             |    WHEN m >= 4 THEN 2 WHEN m >= 2 THEN 1 ELSE 0 END AS k
             |  FROM kp),
             |rb AS (
             |  SELECT z.doc_id,
             |    CAST(42 + 8 + ((50 - z.w + sum((zz >> k) + 1 + k) + 7) // 8)
             |         + 2 AS INT) AS encoded_bytes
             |  FROM z JOIN kk ON z.doc_id = kk.doc_id
             |  GROUP BY z.doc_id, z.w, kk.k),
             |f AS (
             |  SELECT doc_id, avg(abs(b * (1 << w))) AS mean_abs,
             |    max(abs(b * (1 << w))) AS peak,
             |    sum(b * b * (1 << w) * (1 << w)) AS energy
             |  FROM s GROUP BY doc_id)
             |SELECT f.doc_id, CAST(256 AS INT) AS n_samples,
             |  rb.encoded_bytes,
             |  round(rb.encoded_bytes / 512.0 + 1e-9, 6) AS ratio,
             |  round(f.mean_abs + 1e-9, 6) AS mean_abs,
             |  CAST(f.peak AS INT) AS peak, CAST(f.energy AS BIGINT) AS energy
             |FROM f JOIN rb ON f.doc_id = rb.doc_id""".stripMargin)),

    // MM7 (round-14): audio NEAR-DUP — the mm5 recipe on the real
    // audio path, completing banded-LSH near-dup across all three
    // modalities (text d2/d3, image mm5, audio mm7). Pipeline:
    // deterministic grouped waveforms (docs in a group of 8 share a
    // base clip, each bumps only its own frame) → REAL Wav.decode →
    // energy-delta fingerprint from decoded samples (127 gradient
    // bits, gain-invariant — the Shazam/Chromaprint family's portable
    // core) → EIGHT 16-bit bands (the mm5 width — measured at the sf1x
    // 50k-doc spot check, 8-bit bands' 256 buckets went quadratic,
    // 16-bit bands keep buckets group-sized): candidates only from band-bucket
    // equality, Hamming verify only on candidates, keep pairs ≤ 4
    // bits apart — the exact in-group ceiling (two docs each flip ≤ 2
    // adjacent bits), so recall of the planted pairs is total by
    // construction while the tight bound keeps cross-group collisions
    // out. A doc's ≤2-bit adjacent perturbation touches at
    // most 2 bands, so every within-group pair surfaces from the ≥ 6
    // clean bands; band WIDTH is the corpus-size knob (the d2
    // argument verbatim), enforced structurally by the shared
    // BandedLsh skeleton since round-15. same_group exposes the
    // planted truth.
    Q("mm7_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val bands = Fixpoint.cut(Multimodal.audioFingerprintBands(
            Multimodal.synthWavGroupPayload(
              Tables.documents(s, dir), "doc_id"))) // decode once: band join + both hamming reads
        graft.dedup.BandedLsh.hammingPairs(bands, bandBits = 16,
            maxHamming = 4)
          .select($"id_a", $"id_b", $"hamming",
            (($"id_a" - $"id_a" % 8) === ($"id_b" - $"id_b" % 8))
              .as("same_group"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH fr AS (
             |  SELECT d.doc_id, t.f,
             |    CAST(('0x' || substr(md5(
             |        CAST(d.doc_id // 8 AS VARCHAR) || ':' ||
             |        CAST(t.f AS VARCHAR)), 1, 8)) AS BIGINT) % 80 + 20 +
             |    CASE WHEN t.f = d.doc_id % 128 THEN 17 ELSE 0 END AS a
             |  FROM documents d, range(0, 128) t(f)),
             |en AS (SELECT doc_id, f, 8 * a * a AS e FROM fr),
             |bt AS (
             |  SELECT a.doc_id, a.f,
             |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
             |  FROM en a JOIN en b
             |    ON b.doc_id = a.doc_id AND b.f = a.f + 1
             |  WHERE a.f < 127),
             |bands AS (
             |  SELECT doc_id, f // 16 AS k,
             |    CAST(sum(bit * (1 << (f % 16))) AS BIGINT) AS band
             |  FROM bt GROUP BY 1, 2),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands a JOIN bands b
             |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id),
             |ham AS (
             |  SELECT c.id_a, c.id_b,
             |    CAST(sum(bit_count(xor(x.band, y.band))) AS BIGINT)
             |      AS hamming
             |  FROM cand c
             |  JOIN bands x ON x.doc_id = c.id_a
             |  JOIN bands y ON y.doc_id = c.id_b AND y.k = x.k
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, hamming,
             |  (id_a // 8 = id_b // 8) AS same_group
             |FROM ham WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin)),

    // MM9 (round-16, VERDICT item 7): REAL baseline JPEG decode —
    // the codec tier closed. Every doc's payload is a genuine JFIF
    // stream (Annex-K quant + Huffman tables, differential DC,
    // run-length AC, byte stuffing) decoded by the dependency-free
    // Jpeg codec via the magic dispatch. The DCT is lossy, so unlike
    // PNG arbitrary pixels can't be hash-checked — but the loss is
    // exactly characterized: per-8×8-block CONSTANT rasters with
    // offsets divisible by 4 survive the quantize→dequantize→IDCT
    // round trip BIT-EXACTLY (ACs quantize to zero; DC/16 integral).
    // The generator plants exactly such rasters, so DuckDB replays
    // the decoded pixels closed-form and any defect in the marker
    // walk, Huffman tables, entropy reader, dequant or IDCT
    // hash-fails every row. decodeStub is now MP3/AAC only — the
    // documented permanent boundary. Narrow batched decode, no
    // shuffle until the final agg.
    Q("mm9_jpeg_gray",
      (s, dir) => {
        import s.implicits._
        Multimodal.netpbmFeatures(
            Multimodal.synthJpegPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"format", $"width", $"height",
            $"channels", r6($"mean_v").as("mean_v"), $"cksum")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    128 + 4 * ((d.doc_id * 7 + ((t.j % 16) // 8) * 13) % 25
             |               - 12) AS v
             |  FROM documents d, range(0, 128) t(j))
             |SELECT doc_id, 'JPEG' AS format, CAST(16 AS INT) AS width,
             |  CAST(8 AS INT) AS height, CAST(1 AS INT) AS channels,
             |  round(avg(v) + 1e-9, 6) AS mean_v,
             |  CAST(sum(v * (1 + j % 16)) AS BIGINT) AS cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // MM10 (round-16b): COLOR baseline JPEG in the mix — even ids
    // grayscale JFIF, odd ids YCbCr 4:4:4 COLOR JFIF whose RGB raster
    // is gray-constant per 8×8 block. Gray-constant RGB is the color
    // pipeline's exactness subspace: Y ≈ c and Cb=Cr ≈ 128 within an
    // ulp, so the chroma blocks quantize to exactly zero, the Y DC
    // survives /16 integrally, and the BT.601 inverse adds exactly
    // zero chroma back — the decoded RGB equals the source
    // bit-for-bit THROUGH the lossy color path. So the oracle replays
    // both layouts closed-form and a defect anywhere in the
    // interleaved-MCU decode (3 DC predictors, chroma quant table,
    // component table routing, inverse transform) hash-fails half the
    // corpus. Narrow batched decode, no shuffle until the final agg.
    Q("mm10_jpeg_color_mixed",
      (s, dir) => {
        import s.implicits._
        Multimodal.netpbmFeatures(
            Multimodal.synthJpegMixedPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"format", $"width", $"height",
            $"channels", r6($"mean_v").as("mean_v"), $"cksum")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    128 + 4 * ((d.doc_id * 7 + ((t.j % 16) // 8) * 13) % 25
             |               - 12) AS v
             |  FROM documents d, range(0, 128) t(j)
             |  WHERE d.doc_id % 2 = 0
             |  UNION ALL
             |  SELECT d.doc_id, t.j,
             |    128 + 4 * ((d.doc_id * 7 + (((t.j // 3) % 16) // 8) * 13)
             |               % 25 - 12) AS v
             |  FROM documents d, range(0, 384) t(j)
             |  WHERE d.doc_id % 2 = 1)
             |SELECT doc_id, 'JPEG' AS format, CAST(16 AS INT) AS width,
             |  CAST(8 AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT)
             |    AS channels,
             |  round(avg(v) + 1e-9, 6) AS mean_v,
             |  CAST(sum(v * (1 + j % 16)) AS BIGINT) AS cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // MM11 (round-17, VERDICT item 3): NONZERO-CHROMA color JPEG —
    // the one path mm10's gray-constant subspace left unexercised
    // under hash: chroma dequant against the K.2 table, the chroma
    // IDCT reconstructing a nonzero plane, and the BT.601 inverse
    // actually synthesizing color. Each 8×8 block carries exact
    // integer YCbCr constants (Y on the mm9 ×4 luma lattice; Cb/Cr at
    // 128 + 17δ, multiples of the chroma DC quant step, planted via
    // Jpeg.encodeColorYcc) that round-trip the lossy pipeline
    // bit-exactly, so every decoded RGB pixel is the closed form
    // floor(x + 0.5) of the three block constants and the oracle
    // replays the full color decode. Narrow batched decode, no
    // shuffle until the final agg.
    Q("mm11_jpeg_chroma",
      (s, dir) => {
        import s.implicits._
        Multimodal.netpbmFeatures(
            Multimodal.synthJpegChromaPayload(
              Tables.documents(s, dir), "doc_id"))
          .select($"id".as("doc_id"), $"format", $"width", $"height",
            $"channels", r6($"mean_v").as("mean_v"), $"cksum")
      },
      Some("""WITH bl AS (
             |  SELECT d.doc_id, t.p,
             |    CAST(128 + 4 * ((d.doc_id * 7 + ((t.p % 16) // 8) * 13)
             |           % 25 - 12) AS DOUBLE) AS yv,
             |    CAST(17 * ((d.doc_id * 3 + ((t.p % 16) // 8) * 2)
             |           % 5 - 2) AS DOUBLE) AS cb,
             |    CAST(17 * ((d.doc_id * 11 + ((t.p % 16) // 8) * 3)
             |           % 5 - 2) AS DOUBLE) AS cr
             |  FROM documents d, range(0, 128) t(p)),
             |px AS (
             |  SELECT doc_id, 3 * p + c.ch AS j,
             |    greatest(0, least(255, CAST(floor(
             |      CASE c.ch
             |        WHEN 0 THEN yv + 1.402 * cr
             |        WHEN 1 THEN yv - 0.344136 * cb - 0.714136 * cr
             |        ELSE yv + 1.772 * cb END + 0.5) AS BIGINT))) AS v
             |  FROM bl, range(0, 3) c(ch))
             |SELECT doc_id, 'JPEG' AS format, CAST(16 AS INT) AS width,
             |  CAST(8 AS INT) AS height, CAST(3 AS INT) AS channels,
             |  round(avg(v) + 1e-9, 6) AS mean_v,
             |  CAST(sum(v * (1 + j % 16)) AS BIGINT) AS cksum
             |FROM px GROUP BY doc_id""".stripMargin)),

    // ST25 (round-16b): STREAMING MEDIA DECODE — the codec tier meets
    // the streaming tier. Documents arrive as a file stream, each
    // micro-batch synthesizes + REAL-decodes mixed gray/color JPEG
    // payloads inside the stateless per-partition transform (decode
    // is narrow — bytes never leave the partition that read them, the
    // exact shape a landing-zone media pipeline has), and the only
    // stateful operator is the windowless complete-mode feature
    // aggregate: 8 (channels, bucket) groups, so state is
    // input-independent (ceiling abs=64, the sketch-line convention).
    // The drained table replays closed-form through the mm10
    // exactness subspace — a codec defect, a lost micro-batch or a
    // state-store regression each hash-fail the final aggregate.
    Q("st25_stream_jpeg",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "documents")
        val feats = Multimodal.netpbmFeatures(
          Multimodal.synthJpegMixedPayload(stream, "doc_id"))
        val agg = feats
          .groupBy($"channels", ($"id" % 8).as("bucket"))
          .agg(count(lit(1)).as("n"), sum($"cksum").as("sum_cksum"),
            Rx.r4(avg($"mean_v")).as("avg_mean_v"))
        StreamOps.drainToTable(agg, "complete", "st25")
          .orderBy($"channels", $"bucket")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, t.j,
             |    128 + 4 * ((d.doc_id * 7 + ((t.j % 16) // 8) * 13) % 25
             |               - 12) AS v
             |  FROM documents d, range(0, 128) t(j)
             |  WHERE d.doc_id % 2 = 0
             |  UNION ALL
             |  SELECT d.doc_id, t.j,
             |    128 + 4 * ((d.doc_id * 7 + (((t.j // 3) % 16) // 8) * 13)
             |               % 25 - 12) AS v
             |  FROM documents d, range(0, 384) t(j)
             |  WHERE d.doc_id % 2 = 1),
             |f AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT)
             |      AS channels,
             |    avg(v) AS mean_v,
             |    sum(v * (1 + j % 16)) AS cksum
             |  FROM px GROUP BY doc_id)
             |SELECT channels, doc_id % 8 AS bucket,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cksum) AS BIGINT) AS sum_cksum,
             |  round(avg(mean_v) + 1e-9, 4) AS avg_mean_v
             |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ST26 (round-17): FLAC decode under Structured Streaming — the
    // st25 contract for the audio codec: the full CRC-verified
    // Rice/fixed-predictor decode (Flac.decode) runs inside a
    // streaming microbatch as narrow per-row work (encode→decode
    // round trip per document), aggregated into per-bucket compression
    // and energy rollups in complete mode. State is the 8-row agg —
    // input-independent — and the oracle replays the mm13 closed form
    // (samples AND compressed sizes) through the same bucketing.
    Q("st26_stream_flac",
      (s, dir) => {
        import s.implicits._
        val stream = Tables.stream(s, dir, "documents")
        val feats = Multimodal.flacFeatures(
          Multimodal.synthFlacPayload(stream, "doc_id"))
        val agg = feats
          .groupBy(($"id" % 8).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum($"encoded_bytes").as("sum_bytes"),
            Rx.r4(avg($"ratio")).as("avg_ratio"),
            sum($"energy").as("sum_energy"))
        StreamOps.drainToTable(agg, "complete", "st26").orderBy($"bucket")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, t.i,
             |    (d.doc_id * 7 + t.i * (13 + d.doc_id % 5)) % 201 - 100 AS v
             |  FROM documents d, range(0, 256) t(i)),
             |r AS (
             |  SELECT doc_id, i, v,
             |    v - 2 * lag(v, 1) OVER w + lag(v, 2) OVER w AS res
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id,
             |    CASE WHEN res < 0 THEN -2 * res - 1 ELSE 2 * res END AS zz
             |  FROM r WHERE i >= 2),
             |kp AS (
             |  SELECT doc_id, sum(zz) // 254 AS m FROM z GROUP BY 1),
             |kk AS (
             |  SELECT doc_id, CASE
             |    WHEN m >= 16384 THEN 14 WHEN m >= 8192 THEN 13
             |    WHEN m >= 4096 THEN 12 WHEN m >= 2048 THEN 11
             |    WHEN m >= 1024 THEN 10 WHEN m >= 512 THEN 9
             |    WHEN m >= 256 THEN 8 WHEN m >= 128 THEN 7
             |    WHEN m >= 64 THEN 6 WHEN m >= 32 THEN 5
             |    WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3
             |    WHEN m >= 4 THEN 2 WHEN m >= 2 THEN 1 ELSE 0 END AS k
             |  FROM kp),
             |rb AS (
             |  SELECT z.doc_id,
             |    CAST(42 + 8 + ((50 + sum((zz >> k) + 1 + k) + 7) // 8) + 2
             |         AS INT) AS encoded_bytes
             |  FROM z JOIN kk ON z.doc_id = kk.doc_id
             |  GROUP BY z.doc_id, kk.k),
             |f AS (
             |  SELECT doc_id, sum(v * v) AS energy FROM s GROUP BY doc_id)
             |SELECT f.doc_id % 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(rb.encoded_bytes) AS BIGINT) AS sum_bytes,
             |  round(avg(rb.encoded_bytes / 512.0) + 1e-9, 4) AS avg_ratio,
             |  CAST(sum(f.energy) AS BIGINT) AS sum_energy
             |FROM f JOIN rb ON f.doc_id = rb.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ST27 (round-17): the KMV theta sketch under Structured
    // Streaming — distinct users per event type, sketched as the
    // stream flows. Bottom-k registers are a CRDT under
    // (union, keep-k-smallest), so per-group state is ≤ k longs
    // REGARDLESS of stream volume (StreamOps.kmvRegisterStream
    // scaladoc has the dedupe-by-bottom-k argument for the emitted
    // batches), and the drained emissions reduce batch-side to
    // EXACTLY the batch sketch — hash-checked against the unchanged
    // grouped-estimate oracle. k=256 puts sf0.01 (150 users/type) on
    // the exact branch and sf0.1 (1500) on the estimator — the th2
    // branch-switch, now across the streaming boundary.
    Q("st27_stream_theta",
      (s, dir) => {
        import s.implicits._
        val k = 256
        val stream = Tables.stream(s, dir, "events")
        val rows = stream.select($"event_type".cast("string").as("g"),
            graft.sketch.ThetaKmv.hash52($"user_id").as("h"))
          .as[StreamOps.KmvRow]
        val out = StreamOps.drainToTable(StreamOps.kmvRegisterStream(rows, k),
          "append", "st27")
        val emitted = out.select($"g", $"h").distinct()
        val regs = graft.operators.TopK.perKey(
            emitted, Seq("g"), Seq(col("h")), k, rankCol = "rn")
          .select($"g", $"h", $"rn")
        graft.sketch.ThetaKmv.estimateFromRegisters(regs, k)
      },
      Some(graft.sketch.ThetaKmv.groupedEstimateSql(
        "events", "event_type", "user_id", k = 256))))
}
