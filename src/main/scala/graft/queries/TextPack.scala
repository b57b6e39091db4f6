package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.queries.Rx.{r4, r6}
import graft.text.TextOps
import graft.dedup.Dedup
import graft.operators.Fixpoint

/** Text analysis + exact dedup over `documents` (BASELINE.json scale
  * extensions: language-ID, quality scoring, token counting,
  * fingerprinting, hash-groupBy dedup). */
object TextPack extends QueryPack {

  def queries: Seq[Q] = Seq(

    // Quality scoring: length/punctuation/digit/word-shape ratios.
    Q("t1_quality",
      (s, dir) => {
        import s.implicits._
        val feats = TextOps.qualityFeatures($"text")
        val base = Tables.documents(s, dir)
        feats.foldLeft(base)((d, f) => d.withColumn(f._1, f._2))
          .select($"doc_id", $"n_tokens",
            r6($"avg_word_len").as("avg_word_len"),
            r6($"punct_ratio").as("punct_ratio"),
            r6($"digit_ratio").as("digit_ratio"),
            r6($"upper_ratio").as("upper_ratio"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents)
             |SELECT doc_id, len(ts) AS n_tokens,
             |  round(CAST(list_reduce(list_prepend(0, [length(x) for x in ts]),
             |        (acc, x) -> acc + x) AS DOUBLE) / len(ts) + 1e-9, 6) AS avg_word_len,
             |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
             |        / greatest(length(text), 1) + 1e-9, 6) AS punct_ratio,
             |  round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
             |        / greatest(length(text), 1) + 1e-9, 6) AS digit_ratio,
             |  round(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
             |        / greatest(length(text), 1) + 1e-9, 6) AS upper_ratio
             |FROM d""".stripMargin)),

    // Language-ID heuristic: stopword-hit share per language, argmax.
    Q("t2_langid",
      (s, dir) => {
        import s.implicits._
        val sw = TextOps.stopwords.toSeq
          .flatMap { case (l, ws) => ws.map(wd => (l, wd)) }
          .toDF("cand_lang", "word")
        val docs = Tables.documents(s, dir)
        val toks = docs.select($"doc_id",
          explode(TextOps.tokens(lower($"text"))).as("word"))
        val nTok = docs.select($"doc_id",
          size(TextOps.tokens($"text")).as("n_tokens"))
        val scores = toks.join(broadcast(sw), "word")
          .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("hits"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"hits".desc, $"cand_lang")
        val best = scores.withColumn("rk", row_number().over(w))
          .filter($"rk" === 1).drop("rk")
        docs.select($"doc_id", $"lang").join(best, Seq("doc_id"), "left")
          .join(nTok, "doc_id")
          .select($"doc_id", $"lang",
            coalesce($"cand_lang", lit("und")).as("pred_lang"),
            r6(coalesce($"hits", lit(0L)).cast("double")
              / nullif($"n_tokens", lit(0))).as("score"))
      },
      Some("""WITH sw(cand_lang, word) AS (VALUES
             |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','a'),
             |  ('en','in'),('en','is'),('en','that'),
             |  ('es','el'),('es','la'),('es','de'),('es','que'),('es','y'),
             |  ('es','en'),('es','un'),('es','los'),
             |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','in'),
             |  ('de','von'),('de','zu'),('de','mit'),
             |  ('fr','le'),('fr','la'),('fr','et'),('fr','les'),('fr','des'),
             |  ('fr','en'),('fr','un'),('fr','du'),
             |  ('zh','de'),('zh','le'),('zh','he'),('zh','shi'),('zh','zai'),
             |  ('zh','wo'),('zh','you'),('zh','ta')),
             |d AS (SELECT doc_id, lang,
             |        string_split_regex(trim(lower(text)), '\s+') AS ts,
             |        len(string_split_regex(trim(text), '\s+')) AS n_tokens
             |      FROM documents),
             |tk AS (SELECT doc_id, unnest(ts) AS word FROM d),
             |sc AS (SELECT doc_id, cand_lang, count(*) AS hits
             |       FROM tk JOIN sw USING (word) GROUP BY 1, 2),
             |best AS (SELECT doc_id, cand_lang, hits FROM sc
             |         QUALIFY row_number() OVER (PARTITION BY doc_id
             |           ORDER BY hits DESC, cand_lang) = 1)
             |SELECT d.doc_id, d.lang,
             |  coalesce(best.cand_lang, 'und') AS pred_lang,
             |  round(CAST(coalesce(best.hits, 0) AS DOUBLE) / d.n_tokens + 1e-9, 6)
             |    AS score
             |FROM d LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin)),

    // Token counting: whitespace + BPE-ish regex counts.
    Q("t3_tokens",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id",
          size(TextOps.tokens($"text")).as("ws_tokens"),
          TextOps.bpeishCount($"text").as("bpeish_tokens"),
          length($"text").as("n_chars_measured"), $"n_chars")
      },
      Some("""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             |       AS INT) AS bpeish_tokens,
             |  length(text) AS n_chars_measured, n_chars
             |FROM documents""".stripMargin)),

    // Deterministic content-hash sampling: keep a doc iff
    // hash60(text) % 20 < 2 (a stable 10% sample — identical across
    // re-ingestions and engines, unlike RNG-based sampleBy). Surfaced as
    // per-stratum counts so the driver verifies rate AND placement.
    Q("t8_hash_sample",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_total"),
            count(when(pmod(TextOps.hash60($"text"), lit(20L)) < 2, 1)).as("n_sampled"))
          .withColumn("rate", r4($"n_sampled".cast("double") / $"n_total"))
      },
      Some("""SELECT lang, source, count(*) AS n_total,
             |  count(*) FILTER (
             |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 20 < 2)
             |    AS n_sampled,
             |  round(CAST(count(*) FILTER (
             |      CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 20 < 2)
             |    AS DOUBLE) / count(*) + 1e-9, 4) AS rate
             |FROM documents GROUP BY lang, source""".stripMargin)),

    // T13 (beyond-reference, LLM pipeline): stratified source mixing —
    // the corpus-mixture knob: each language stratum keeps a configured
    // per-mille of its documents, decided by a STABLE content hash (the
    // same doc keeps or drops identically on every run and every
    // engine, so mixtures are reproducible). Config is a broadcast
    // rates table with a default; one scan, one broadcast join, one
    // aggregate.
    // T20 (beyond-reference, LLM pipeline): weighted reservoir sampling
    // (Efraimidis–Spirakis A-Res) — per language, keep the k docs with
    // the largest u^(1/w), which samples WITHOUT replacement with
    // probability proportional to weight w (here the token count: a
    // token-budget-proportional corpus draw). u is the stable content
    // hash mapped to (0,1) — reproducible across engines and
    // re-ingestions, the t8/t13 idiom, instead of an RNG. The rank key
    // is r6-rounded on BOTH engines before comparison (pow differs in
    // ulps between libm and the JVM; ties under rounding break by
    // doc_id), and the per-group top-k is the bounded-heap TopK — one
    // shuffle of k rows per group at any corpus size.
    Q("t20_weighted_sample",
      (s, dir) => {
        import s.implicits._
        val keyed = Tables.documents(s, dir)
          .select($"lang", $"doc_id",
            TextOps.bpeishCount($"text").cast("double").as("w"),
            ((pmod(TextOps.hash60($"text"), lit(1000000L)).cast("double")
              + 0.5) / 1e6).as("u"))
          .withColumn("akey", r6(pow($"u", lit(1.0) / $"w")))
        graft.operators.TopK.perKey(keyed, Seq("lang"),
            Seq(graft.operators.TopK.descNullsLast($"akey"), $"doc_id"), 20)
          .select($"lang", $"doc_id", $"w", $"akey", $"rank")
      },
      Some("""WITH d AS (
             |  SELECT lang, doc_id,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) AS w,
             |    (CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
             |       % 1000000 AS DOUBLE) + 0.5) / 1e6 AS u
             |  FROM documents),
             |k AS (SELECT lang, doc_id, w,
             |    round(pow(u, 1.0 / w) + 1e-9, 6) AS akey FROM d),
             |rk AS (SELECT lang, doc_id, w, akey,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY akey DESC, doc_id) AS rank
             |  FROM k)
             |SELECT lang, doc_id, w, akey, rank FROM rk
             |WHERE rank <= 20""".stripMargin)),

    Q("t13_stratified",
      (s, dir) => {
        import s.implicits._
        val rates = Seq(("en", 500L), ("zh", 300L), ("es", 200L))
          .toDF("lang", "mille")
        Tables.documents(s, dir)
          .join(broadcast(rates), Seq("lang"), "left")
          .withColumn("mille", coalesce($"mille", lit(100L)))
          .withColumn("keep",
            pmod(TextOps.hash60($"text"), lit(1000L)) < $"mille")
          .groupBy($"lang", $"source", $"mille")
          .agg(count(lit(1)).as("n_total"),
            count(when($"keep", 1)).as("n_kept"))
          .withColumn("achieved", r4($"n_kept".cast("double") / $"n_total"))
      },
      Some("""WITH r(lang, mille) AS (VALUES ('en', 500), ('zh', 300), ('es', 200)),
             |d AS (
             |  SELECT doc_id, documents.lang, source, text,
             |    CAST(coalesce(r.mille, 100) AS BIGINT) AS mille
             |  FROM documents LEFT JOIN r ON r.lang = documents.lang),
             |k AS (
             |  SELECT *, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
             |    % 1000 < mille AS keep
             |  FROM d)
             |SELECT lang, source, mille, count(*) AS n_total,
             |  count(*) FILTER (keep) AS n_kept,
             |  round(CAST(count(*) FILTER (keep) AS DOUBLE) / count(*)
             |    + 1e-9, 4) AS achieved
             |FROM k GROUP BY 1, 2, 3""".stripMargin)),

    // T14 (beyond-reference, LLM pipeline): within-document repetition
    // signals — the Gopher/RefinedWeb quality rules that catch boiler-
    // plate and degenerate generations. Duplicate token / 2-gram
    // fractions are per-row Column algebra (one scan, no shuffle); the
    // most-frequent-2-gram share distributes as explode → count →
    // per-doc top-1 (the grouped count is bounded by the doc's own
    // 2-gram vocabulary, so the shuffle carries at most one row per
    // distinct (doc, gram) — linear in the corpus).
    Q("t14_repetition",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .withColumn("g2", TextOps.ngrams($"toks", 2))
          .select($"doc_id",
            size($"toks").as("n_tokens"),
            size($"g2").as("n_2grams"),
            r6(lit(1.0) - size(array_distinct($"toks")).cast("double")
              / nullif(size($"toks"), lit(0))).as("dup_token_frac"),
            r6(lit(1.0) - size(array_distinct($"g2")).cast("double")
              / nullif(size($"g2"), lit(0))).as("dup_2gram_frac"))
        // tokens materialized as an attribute FIRST (the shingleRows
        // idiom): exploding ngrams(tokens(text)) inline lets Catalyst
        // re-inline the regex split into every element reference —
        // ~15× slower at sf0.1
        val gramCounts = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
          .select($"doc_id", explode(TextOps.ngrams($"__toks", 2)).as("g"))
          .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        val top = graft.operators.TopK.perKey(
          gramCounts.select($"doc_id", $"g",
            (-$"c").as("neg_c"), $"c"),
          Seq("doc_id"), Seq($"neg_c", $"g"), 1)
          .select($"doc_id", $"g".as("top_2gram"), $"c".as("top_2gram_n"))
        base.join(top, Seq("doc_id"), "left")
          .withColumn("top_2gram_frac",
            r6($"top_2gram_n".cast("double") / nullif($"n_2grams", lit(0))))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, ts,
             |    CASE WHEN len(ts) >= 2
             |      THEN list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
             |      ELSE CAST([] AS VARCHAR[]) END AS g2
             |  FROM d),
             |base AS (
             |  SELECT doc_id, len(ts) AS n_tokens, len(g2) AS n_2grams,
             |    round(1.0 - CAST(len(list_distinct(ts)) AS DOUBLE)
             |      / nullif(len(ts), 0) + 1e-9, 6) AS dup_token_frac,
             |    round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
             |      / nullif(len(g2), 0) + 1e-9, 6) AS dup_2gram_frac,
             |    g2
             |  FROM g),
             |x AS (SELECT doc_id, unnest(g2) AS gr FROM g),
             |c AS (SELECT doc_id, gr, count(*) AS c FROM x GROUP BY 1, 2),
             |top AS (
             |  SELECT doc_id, gr AS top_2gram, c AS top_2gram_n FROM c
             |  QUALIFY row_number() OVER (PARTITION BY doc_id
             |    ORDER BY c DESC, gr) = 1)
             |SELECT b.doc_id, n_tokens, n_2grams, dup_token_frac,
             |  dup_2gram_frac, top_2gram, top_2gram_n,
             |  round(CAST(top_2gram_n AS DOUBLE) / nullif(n_2grams, 0)
             |    + 1e-9, 6) AS top_2gram_frac
             |FROM base b LEFT JOIN top USING (doc_id)""".stripMargin)),

    // T15 (beyond-reference, LLM pipeline): temperature-scaled corpus
    // mixing — per-language sampling weights w_i = sqrt(n_i) / Σ sqrt(n_j)
    // (α = 0.5, the multilingual-pretraining upsampling rule), a 200-doc
    // budget, and a DETERMINISTIC content-hash rank choosing which docs
    // survive. The Σ is a fold over the lang-sorted count list so both
    // engines add in the same order; the keep step is the t10 bounded-
    // heap idiom (shuffle carries O(strata × kMax) rows, not the corpus).
    Q("t15_mix",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
        val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
        val denom = counts.agg(
          aggregate(array_sort(collect_list(struct($"lang", $"n"))), lit(0.0),
            (acc, x) => acc + sqrt(x("n").cast("double"))).as("denom"))
        val targets = counts.crossJoin(broadcast(denom))
          .withColumn("n_target", least($"n",
            ceil(lit(200.0) * sqrt($"n".cast("double")) / $"denom" + lit(Rx.EPS))
              .cast("long")))
          .select($"lang", $"n", $"n_target")
        val kMax = targets.agg(max($"n_target")).first().getLong(0).toInt
        val ranked = graft.operators.TopK.perKey(
          docs.select($"doc_id", $"lang", md5($"text".cast("binary")).as("h")),
          Seq("lang"), Seq($"h", $"doc_id"), kMax)
        ranked.join(broadcast(targets), "lang")
          .filter($"rank" <= $"n_target")
          .select($"lang", $"doc_id", $"rank", $"n", $"n_target")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             |den AS (
             |  SELECT list_reduce(
             |    list_prepend(0.0, list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)),
             |    (acc, x) -> acc + x) AS denom
             |  FROM c),
             |t AS (
             |  SELECT lang, n, least(n,
             |    CAST(ceil(200.0 * sqrt(CAST(n AS DOUBLE)) / denom + 1e-9)
             |         AS BIGINT)) AS n_target
             |  FROM c, den),
             |r AS (
             |  SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
             |      AS rank
             |  FROM documents)
             |SELECT r.lang, doc_id, rank, n, n_target
             |FROM r JOIN t ON r.lang = t.lang WHERE rank <= n_target""".stripMargin)),

    // T16 (beyond-reference, LLM pipeline): unigram language-model
    // scoring — the CCNet/perplexity-filter shape with the corpus's own
    // Vocabulary induction table — the tokenizer-training input: the
    // top-100 corpus terms with term frequency AND document frequency
    // in ONE aggregate (countDistinct plans as a two-phase expand —
    // still a single shuffle keyed by token), then TakeOrderedAndProject
    // for the cut. All-integer: engine-exact.
    Q("t17_vocab",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
          .select($"doc_id", explode($"__toks").as("tok"))
          .groupBy($"tok")
          .agg(count(lit(1)).as("n_tok"), countDistinct($"doc_id").as("n_docs"))
          .orderBy(desc("n_tok"), $"tok")
          .limit(100)
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |tk AS (SELECT doc_id, unnest(ts) AS tok FROM d)
             |SELECT tok, count(*) AS n_tok,
             |  count(DISTINCT doc_id) AS n_docs
             |FROM tk GROUP BY tok
             |ORDER BY n_tok DESC, tok LIMIT 100""".stripMargin)),

    // T18: BPE pair-merge vocabulary induction on top of t17's word
    // table — K=6 merge rounds, each one pair-count aggregate plus one
    // (word, pos) window cascade over the VOCAB-sized symbol table
    // (text.Bpe; oracle = the same construction as 6 chained CTE
    // blocks, generated by Bpe.oracleSql).
    Q("t18_bpe",
      (s, dir) => graft.text.Bpe.merges(Tables.documents(s, dir), "text", 6),
      Some(graft.text.Bpe.oracleSql(6))),

    // T19: ENCODE with t18's learned merges — the apply half of the
    // tokenizer (train with t18, tokenize with t19). One left-greedy
    // pass per rule in training order is exhaustive (a merge can't
    // create a new occurrence of its own pair), so encoding is the
    // final symbol table of the same vocab-sized cascade: per distinct
    // word its piece count and segmentation, never a corpus rescan.
    // Piece order is made deterministic for the hash by sorting the
    // collected (pos, sym) structs, not by assuming collect order.
    Q("t19_bpe_encode",
      (s, dir) => {
        import s.implicits._
        graft.text.Bpe.encoded(Tables.documents(s, dir), "text", 6)
          .groupBy($"w", $"freq")
          .agg(count(lit(1)).as("n_pieces"),
            array_join(
              transform(array_sort(collect_list(struct($"pos", $"sym"))),
                x => x("sym")), " ").as("pieces"))
          .orderBy(desc("freq"), $"w").limit(200)
      },
      Some(graft.text.Bpe.encodeOracleSql(6, 200))),

    // unigram distribution as the model. Per-token log-prob is
    // ln(cnt) − ln(N) (division-free: bit-identical across engines);
    // per-doc average log-prob and a perplexity proxy rank docs by
    // "typicality". Scale: token explode is linear, the vocabulary
    // aggregate shuffles once on the token, the prob join is
    // vocabulary-sized (broadcastable at any corpus scale), and the
    // final agg shuffles on doc_id.
    Q("t16_unigram_lm",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
          .select($"doc_id", explode($"__toks").as("w"))
        val counts = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum($"cnt").as("n_total"))
        val probs = counts.crossJoin(broadcast(total))
          .select($"w",
            (log($"cnt".cast("double")) - log($"n_total".cast("double")))
              .as("logp"))
        toks.join(probs, "w")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"), r6(avg($"logp")).as("avg_logp"))
          .withColumn("ppl_proxy", r4(exp(-$"avg_logp")))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |tk AS (SELECT doc_id, unnest(ts) AS w FROM d),
             |c AS (SELECT w, count(*) AS cnt FROM tk GROUP BY w),
             |n AS (SELECT sum(cnt) AS n_total FROM c),
             |p AS (SELECT w,
             |    ln(CAST(cnt AS DOUBLE)) - ln(CAST(n_total AS DOUBLE)) AS logp
             |  FROM c, n),
             |a AS (SELECT doc_id, count(*) AS n_tokens,
             |    round(avg(logp) + 1e-9, 6) AS avg_logp
             |  FROM tk JOIN p USING (w) GROUP BY doc_id)
             |SELECT doc_id, n_tokens, avg_logp,
             |  round(exp(-avg_logp) + 1e-9, 4) AS ppl_proxy
             |FROM a""".stripMargin)),

    // Bigram LM with add-k smoothing (k=0.5): p(w2|w1) =
    // (c(w1w2)+k)/(c(w1)+k·V), scored as avg log-prob per document —
    // the t16 unigram scorer upgraded to conditional context, the
    // quality signal a pretraining pipeline uses for fluency filtering.
    // Counts are token-keyed aggregates (two shuffles), V is a 1-row
    // broadcast scalar, and the per-doc score is one gram-keyed join +
    // doc agg — no per-doc vocabulary state anywhere.
    Q("t21_bigram_lm",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("__toks"))
        val grams = docs.select($"doc_id",
          explode(TextOps.ngrams($"__toks", 2)).as("g"))
        val uni = docs.select(explode($"__toks").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("cw"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val probs = grams.groupBy($"g").agg(count(lit(1)).as("cg"))
          .select($"g", substring_index($"g", " ", 1).as("w"), $"cg")
          .join(uni, "w")
          .crossJoin(broadcast(vocab))
          .select($"g",
            (log($"cg" + lit(0.5)) - log($"cw" + lit(0.5) * $"v")).as("logp"))
        grams.join(probs, "g")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"), r6(avg($"logp")).as("avg_logp"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
             |    THEN list_transform(range(1, len(ts)),
             |                        i -> ts[i] || ' ' || ts[i+1])
             |    ELSE CAST([] AS VARCHAR[]) END) AS g
             |  FROM d),
             |u AS (SELECT unnest(ts) AS w FROM d),
             |uc AS (SELECT w, count(*) AS cw FROM u GROUP BY 1),
             |v AS (SELECT count(*) AS v FROM uc),
             |bc AS (SELECT g, count(*) AS cg FROM g GROUP BY 1),
             |p AS (SELECT bc.g,
             |    ln(bc.cg + 0.5) - ln(uc.cw + 0.5 * v.v) AS logp
             |  FROM bc JOIN uc ON uc.w = split_part(bc.g, ' ', 1), v)
             |SELECT g.doc_id, count(*) AS n_bigrams,
             |  round(avg(p.logp) + 1e-9, 6) AS avg_logp
             |FROM g JOIN p USING (g)
             |GROUP BY 1""".stripMargin)),

    // Zipf-law fit over the corpus vocabulary: frequency-rank every
    // term (GlobalRank — the range-partitioned global row_number, used
    // here on a dimension that GROWS with the corpus, exactly the
    // place a single-partition window would die at scale) and OLS-fit
    // ln(freq) ~ ln(rank). The slope is the Zipf exponent (~ −1 for
    // natural text) — the corpus-health diagnostic a pretraining
    // pipeline tracks across dumps.
    Q("t22_zipf",
      (s, dir) => {
        import s.implicits._
        val counts = Tables.documents(s, dir)
          .select(explode(TextOps.tokens($"text")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("cnt"))
        val (ranked, _) = graft.operators.GlobalRank.withRowNumber(
          counts, Seq($"cnt".desc, $"w"), "rank")
        ranked
          .select(log($"rank".cast("double")).as("lr"),
            log($"cnt".cast("double")).as("lf"))
          .agg(count(lit(1)).as("n_terms"),
            r4(regr_slope($"lf", $"lr")).as("zipf_slope"),
            r4(regr_intercept($"lf", $"lr")).as("zipf_intercept"),
            r4(corr($"lf", $"lr")).as("loglog_corr"))
      },
      Some("""WITH d AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |tk AS (SELECT unnest(ts) AS w FROM d),
             |c AS (SELECT w, count(*) AS cnt FROM tk GROUP BY 1),
             |r AS (SELECT cnt,
             |        row_number() OVER (ORDER BY cnt DESC, w) AS rank
             |      FROM c),
             |l AS (SELECT ln(CAST(rank AS DOUBLE)) AS lr,
             |        ln(CAST(cnt AS DOUBLE)) AS lf
             |      FROM r)
             |SELECT count(*) AS n_terms,
             |  round(regr_slope(lf, lr) + 1e-9, 4) AS zipf_slope,
             |  round(regr_intercept(lf, lr) + 1e-9, 4) AS zipf_intercept,
             |  round(corr(lf, lr) + 1e-9, 4) AS loglog_corr
             |FROM l""".stripMargin)),

    // Token-budget sequence packing: per lang, docs in doc_id order are
    // assigned to 4096-token bins by cumulative token count (the
    // prefix-sum approximation of greedy packing — windowed cumsum, one
    // shuffle, no sequential loop).
    Q("t9_pack",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"doc_id")
        Tables.documents(s, dir)
          .select($"doc_id", $"lang", TextOps.bpeishCount($"text").as("n_tok"))
          .withColumn("cum_tok", sum($"n_tok").over(w))
          .withColumn("bin", floor(($"cum_tok" - $"n_tok") / 4096).cast("long"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             |         AS INT) AS n_tok
             |  FROM documents)
             |SELECT doc_id, lang, n_tok,
             |  CAST(sum(n_tok) OVER w AS BIGINT) AS cum_tok,
             |  CAST(floor(CAST(sum(n_tok) OVER w - n_tok AS DOUBLE) / 4096)
             |       AS BIGINT) AS bin
             |FROM t WINDOW w AS (PARTITION BY lang ORDER BY doc_id)""".stripMargin)),

    // Class-balanced downsampling (the curation answer to the reference's
    // 80%-consolidation imbalance, report.pdf §6.2): every stratum is cut
    // to the minority class's size by a DETERMINISTIC hash order —
    // md5(text) ranks within each lang, the bounded-heap aggregate
    // (TopKAgg) keeps exactly n_min per stratum. Versus
    // row_number-then-filter: the heap discards beyond-k rows in the
    // partial aggregate, so the shuffle carries O(strata × n_min) rows,
    // not the corpus. n_min itself is one two-level count aggregate
    // collapsing to a single driver scalar — constant bytes at any scale.
    Q("t10_balanced",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
        val nMin = docs.groupBy($"lang").count()
          .agg(min($"count")).first().getLong(0).toInt
        graft.operators.TopK.perKey(
          docs.select($"doc_id", $"lang",
            md5($"text".cast("binary")).as("h")),
          Seq("lang"), Seq($"h", $"doc_id"), nMin)
          .select($"lang", $"rank", $"doc_id")
      },
      Some("""WITH n AS (
             |  SELECT min(cnt) AS m FROM (
             |    SELECT count(*) AS cnt FROM documents GROUP BY lang) t),
             |r AS (
             |  SELECT doc_id, lang,
             |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
             |      AS rank
             |  FROM documents)
             |SELECT lang, rank, doc_id FROM r, n WHERE rank <= n.m""".stripMargin)),

    // Document fingerprinting: canonical-form md5 + same-fingerprint
    // group size (rolling-hash-free, portable canonicalization).
    Q("t4_fingerprint",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.fingerprint($"text").as("fingerprint"))
          .withColumn("n_same", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"fingerprint")))
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split_regex(trim(regexp_replace(lower(text),
             |        '[^a-z0-9\s]', '', 'g')), '\s+'))), ' ')) AS fingerprint
             |  FROM documents)
             |SELECT doc_id, fingerprint,
             |  count(*) OVER (PARTITION BY fingerprint) AS n_same
             |FROM f""".stripMargin)),

    // T11 (beyond-reference, LLM pipeline): PII redaction. The corpus
    // text carries no PII, so a deterministic email+phone is planted
    // per doc (both engines build the identical string) and redacted —
    // the verified contract is regex parity (Java∩RE2 subset) and the
    // full-string rewrite, compared via md5 so the hash diff never
    // ships long strings.
    Q("t11_redact",
      (s, dir) => {
        import s.implicits._
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\b\\d{3}-\\d{4,}\\b"
        Tables.documents(s, dir)
          .withColumn("raw", concat($"text", lit(" contact user"), $"doc_id",
            lit("@example.com or call 555-010"), $"doc_id"))
          // phones are counted AFTER email masking, mirroring the
          // sequential redaction — a phone-shaped email domain is
          // masked as part of the email, so it must not count as a
          // masked phone
          .withColumn("deml", TextOps.redact($"raw", emailRe, "<EMAIL>"))
          .select($"doc_id",
            TextOps.matchCount($"raw", emailRe).as("n_emails"),
            TextOps.matchCount($"deml", phoneRe).as("n_phones"),
            md5(TextOps.redact($"deml", phoneRe, "<PHONE>"))
              .as("redacted_md5"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, text || ' contact user' || doc_id
             |    || '@example.com or call 555-010' || doc_id AS raw
             |  FROM documents),
             |e AS (
             |  SELECT doc_id, raw, regexp_replace(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |    '<EMAIL>', 'g') AS deml
             |  FROM p)
             |SELECT doc_id,
             |  len(regexp_extract_all(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(deml, '\b\d{3}-\d{4,}\b')) AS n_phones,
             |  md5(regexp_replace(deml, '\b\d{3}-\d{4,}\b', '<PHONE>', 'g'))
             |    AS redacted_md5
             |FROM e""".stripMargin)),

    // T12 (beyond-reference, LLM pipeline): context-window chunking —
    // 32-token chunks at stride 24 (8-token overlap), final partial
    // chunk kept. One explode per chunk row; chunk text compared via
    // md5 so the hash diff never ships strings.
    Q("t12_chunk",
      (s, dir) => {
        import s.implicits._
        val C = 32; val stride = 24
        Tables.documents(s, dir)
          .filter($"text".isNotNull) // null docs chunk to nothing
          .withColumn("__toks", TextOps.tokens($"text"))
          .withColumn("n", size($"__toks"))
          .select($"doc_id", $"__toks", $"n",
            posexplode(TextOps.chunkStarts($"__toks", stride))
              .as(Seq("chunk_id", "start")))
          .select($"doc_id", $"chunk_id",
            least(lit(C), $"n" - $"start").as("n_chunk_tokens"),
            md5(concat_ws(" ", slice($"__toks", $"start" + 1, lit(C))))
              .as("chunk_md5"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents
             |  WHERE text IS NOT NULL),
             |e AS (SELECT doc_id, ts, len(ts) AS n,
             |    unnest(range(0, greatest(len(ts), 1), 24)) AS st
             |  FROM d)
             |SELECT doc_id, CAST(st / 24 AS BIGINT) AS chunk_id,
             |  least(32, n - st) AS n_chunk_tokens,
             |  md5(array_to_string(ts[st + 1 : st + 32], ' ')) AS chunk_md5
             |FROM e""".stripMargin)),

    // Exact dedup: one hash-groupBy (the 100 TB shape: single shuffle on
    // the 128-bit content key).
    Q("d1_exact_dedup",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT md5(text) AS content_hash, count(*) AS n_dups,
             |  min(doc_id) AS canonical_id
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // End-to-end curation pipeline (the training-data shape the engine
    // exists for): quality gate → exact dedup (keep min id per content
    // hash) → per-language token-budget packing → per-bin stats. One
    // lazy plan: the quality regexes ride the scan, dedup is one
    // shuffle on the content hash, packing one shuffle on lang — no
    // driver round-trips between stages.
    Q("p9_curation",
      (s, dir) => {
        import s.implicits._
        val feats = graft.text.TextOps.qualityFeatures($"text")
        val scored = feats.foldLeft(Tables.documents(s, dir))(
          (d, f) => d.withColumn(f._1, f._2))
        val filtered = scored
          .filter($"n_tokens" >= 5 && $"punct_ratio" < 0.2)
        val wDup = org.apache.spark.sql.expressions.Window
          .partitionBy(md5($"text")).orderBy($"doc_id")
        val deduped = filtered
          .withColumn("__rn", row_number().over(wDup))
          .filter($"__rn" === 1)
        val wPack = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"doc_id")
        deduped
          .select($"doc_id", $"lang",
            graft.text.TextOps.bpeishCount($"text").as("n_tok"))
          .withColumn("bin",
            floor((sum($"n_tok").over(wPack) - $"n_tok") / 4096).cast("long"))
          .groupBy($"lang", $"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, text,
             |    string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, lang, text FROM d
             |  WHERE len(ts) >= 5
             |    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
             |        / greatest(length(text), 1) < 0.2),
             |k AS (
             |  SELECT doc_id, lang, text,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM q),
             |t AS (
             |  SELECT doc_id, lang,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             |         AS INT) AS n_tok
             |  FROM k WHERE rn = 1),
             |p AS (
             |  SELECT lang, n_tok,
             |    CAST(floor(CAST(sum(n_tok) OVER w - n_tok AS DOUBLE) / 4096)
             |         AS BIGINT) AS bin
             |  FROM t WINDOW w AS (PARTITION BY lang ORDER BY doc_id))
             |SELECT lang, bin, count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
             |FROM p GROUP BY 1, 2""".stripMargin)),

    // Feature hashing (the "hashing trick", Weinberger et al. 2009):
    // tokens → a FIXED 64-dim signed feature vector per document, with
    // the index from the portable 60-bit md5 hash (hv % 64) and the
    // sign from a bit INDEPENDENT of the index (bit 6, hv >> 6 & 1 —
    // round-11 advice fix: hv % 2 is fully determined by index parity
    // when the dimension is even, so bucket-colliding tokens could
    // never cancel; the independent bit restores the unbiasing
    // property — colliding tokens cancel in expectation). This is how a training
    // pipeline vectorizes unbounded vocabulary with bounded state: no
    // vocab table, no fit pass, combine state ≤ docs·64. One
    // (doc, feature)-keyed shuffle, map-side combined; sparse rows
    // (zero weights dropped) so the output is the nnz set.
    Q("t23_feature_hash",
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .filter($"doc_id" < 100)
          .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
          .select($"doc_id",
            (TextOps.hash60($"tok") % 64).as("f"),
            when(shiftright(TextOps.hash60($"tok"), 6) % 2 === 0, 1L)
              .otherwise(-1L).as("sgn"))
          .groupBy($"doc_id", $"f").agg(sum($"sgn").as("w"))
          .filter($"w" =!= 0)
          .orderBy($"doc_id", $"f")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents WHERE doc_id < 100),
             |t AS (SELECT doc_id, unnest(ts) AS tok FROM d),
             |h AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
             |  FROM t),
             |f AS (
             |  SELECT doc_id, hv % 64 AS f,
             |    CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM h)
             |SELECT doc_id, f, CAST(sum(sgn) AS BIGINT) AS w
             |FROM f GROUP BY 1, 2 HAVING sum(sgn) <> 0
             |ORDER BY doc_id, f""".stripMargin)),

    // Document novelty scoring — KL(doc ‖ corpus) over unigram
    // distributions: how far each document's token mix sits from the
    // corpus average. High-KL docs are outliers/novel content, low-KL
    // docs are boilerplate-typical — the curation signal between t1's
    // shape heuristics and d-ops' duplicate detection. No smoothing
    // needed: every doc token is in the corpus by construction, so
    // both distributions are positive on the doc's support. Scale
    // shape: one (doc, token) count, corpus counts derived FROM it
    // (no second corpus scan), one token-keyed join, one doc-keyed
    // reduction; integer products stay < 2^53 so the ratios fed to ln
    // are exact on both engines; per-doc sums r4.
    Q("t31_novelty",
      (s, dir) => {
        import s.implicits._
        val dt = Fixpoint.cut(Tables.documents(s, dir)
          .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cdt")))
        val ct = dt.groupBy($"tok").agg(sum($"cdt").as("ct"))
        val nd = dt.groupBy($"doc_id").agg(sum($"cdt").as("nd"))
        val n = dt.agg(sum($"cdt").as("n"))
        dt.join(ct, "tok")
          .join(broadcast(nd), "doc_id")
          .crossJoin(broadcast(n))
          .select($"doc_id", $"nd",
            (($"cdt".cast("double") / $"nd")
              * log(($"cdt" * $"n").cast("double") / ($"nd" * $"ct")))
              .as("term"))
          .groupBy($"doc_id")
          .agg(max($"nd").as("n_tokens"), r4(sum($"term")).as("kl"))
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |t AS (SELECT doc_id, unnest(ts) AS tok FROM d),
             |dt AS (SELECT doc_id, tok, count(*) AS cdt
             |       FROM t GROUP BY 1, 2),
             |ct AS (SELECT tok, CAST(sum(cdt) AS BIGINT) AS ct
             |       FROM dt GROUP BY 1),
             |nd AS (SELECT doc_id, CAST(sum(cdt) AS BIGINT) AS nd
             |       FROM dt GROUP BY 1),
             |n AS (SELECT CAST(sum(cdt) AS BIGINT) AS n FROM dt)
             |SELECT dt.doc_id, max(nd.nd) AS n_tokens,
             |  round(sum((CAST(cdt AS DOUBLE) / nd.nd)
             |    * ln(CAST(cdt * n.n AS DOUBLE) / (nd.nd * ct.ct)))
             |    + 1e-9, 4) AS kl
             |FROM dt JOIN ct USING (tok) JOIN nd USING (doc_id), n
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Multinomial Naive Bayes, trained AND applied distributed, fully
    // hash-checked (the m9 classifier substitutes an MLP and is
    // golden-pinned; this is the text-classification counterpart with
    // an exact cross-engine contract): 80/20 deterministic split on
    // doc id, Laplace-smoothed token likelihoods per language, log
    // scores per (test doc, class), argmax with ties to the smaller
    // class, confusion matrix out. Scale shape: train = one
    // (class, token)-keyed count; inference = one token-keyed join of
    // test tokens against the likelihood table (never a vocab
    // broadcast — the vocab is the dimension that grows), then
    // doc-keyed argmax. Scores are r4-canonicalized before the argmax
    // (the token-order sum is the one nondeterministic reduction).
    Q("t24_naive_bayes",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
          .select($"doc_id", $"lang", TextOps.tokens($"text").as("ts"))
        graft.text.NaiveBayes.confusion(
            d.filter($"doc_id" % 5 =!= 0), d.filter($"doc_id" % 5 === 0),
            "doc_id", "lang", "ts")
          .withColumnRenamed("true_label", "true_lang")
      },
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

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling") — the deterministic
    // top-K variant: fit an add-k-smoothed unigram LM on the TARGET
    // domain (here the English subset — the docs the pipeline wants
    // more of) and on the full SOURCE corpus, score every document by
    // its importance log-weight Σ_w c_dw·(ln p_t(w) − ln p_s(w)), and
    // keep the K = 100 highest-weight documents (the paper's Gumbel
    // resampling replaced by rank selection so a second engine can
    // replay the choice exactly). Smoothing uses the shared corpus
    // vocabulary, so target-unseen tokens are penalized, not dropped.
    // Scale shape: everything is token-keyed — (doc, token) counts,
    // two LM aggregates, one token join back, a doc-keyed reduction,
    // then TakeOrdered(100); no vocab broadcast, no per-doc state. The
    // ranking key is the r6-ROUNDED score (ties → doc_id), so the
    // rank-100 boundary cannot flip on last-ulp summation order.
    Q("t32_dsir_selection",
      (s, dir) => {
        import s.implicits._
        val dt = Fixpoint.cut(Tables.documents(s, dir)
          .select($"doc_id", $"lang",
            explode(TextOps.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("cdt")))
        val src = dt.groupBy($"tok").agg(sum($"cdt").as("cs"))
        val tgt = dt.filter($"lang" === "en")
          .groupBy($"tok").agg(sum($"cdt").as("ct"))
        val tot = src.agg(sum($"cs").as("ns"), count(lit(1)).as("v"))
        val tt = dt.filter($"lang" === "en").agg(sum($"cdt").as("nt"))
        val ratio = src.join(tgt, Seq("tok"), "left")
          .crossJoin(broadcast(tot)).crossJoin(broadcast(tt))
          .select($"tok",
            (log((coalesce($"ct", lit(0L)).cast("double") + lit(0.5))
                / ($"nt" + lit(0.5) * $"v"))
              - log(($"cs".cast("double") + lit(0.5))
                / ($"ns" + lit(0.5) * $"v"))).as("lr"))
        dt.join(ratio, "tok")
          .groupBy($"doc_id")
          .agg(sum($"cdt").as("n_tokens"),
            r6(sum($"cdt" * $"lr")).as("log_ratio"))
          .orderBy($"log_ratio".desc, $"doc_id").limit(100)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang,
             |    string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents),
             |t AS (SELECT doc_id, lang, unnest(ts) AS tok FROM d),
             |dt AS (SELECT doc_id, lang, tok, count(*) AS cdt
             |       FROM t GROUP BY 1, 2, 3),
             |src AS (SELECT tok, CAST(sum(cdt) AS BIGINT) AS cs
             |        FROM dt GROUP BY 1),
             |tgt AS (SELECT tok, CAST(sum(cdt) AS BIGINT) AS ct
             |        FROM dt WHERE lang = 'en' GROUP BY 1),
             |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ns, count(*) AS v
             |        FROM src),
             |tt AS (SELECT CAST(sum(cdt) AS BIGINT) AS nt
             |       FROM dt WHERE lang = 'en'),
             |r AS (SELECT s.tok,
             |    ln((coalesce(g.ct, 0) + 0.5) / (tt.nt + 0.5 * tot.v))
             |    - ln((s.cs + 0.5) / (tot.ns + 0.5 * tot.v)) AS lr
             |  FROM src s LEFT JOIN tgt g USING (tok), tot, tt),
             |sc AS (SELECT dt.doc_id, CAST(sum(cdt) AS BIGINT) AS n_tokens,
             |    round(sum(cdt * lr) + 1e-9, 6) AS log_ratio
             |  FROM dt JOIN r USING (tok) GROUP BY 1),
             |top AS (SELECT * FROM sc
             |        ORDER BY log_ratio DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_tokens, log_ratio FROM top
             |ORDER BY doc_id""".stripMargin)))
}
