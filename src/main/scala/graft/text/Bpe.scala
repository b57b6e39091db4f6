package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Fixpoint

/** T18 (beyond-reference, LLM pipeline): BPE-style pair-merge
  * vocabulary induction — the iterative half of tokenizer training that
  * t17's tf/df table feeds (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units", the `get_stats` /
  * `merge_vocab` loop).
  *
  * Corpus → distinct words with frequencies (ONE corpus-sized shuffle,
  * the same as t17); everything after runs on the VOCAB-sized
  * word/symbol table — the reason BPE training is tractable at 100 TB:
  * K merge rounds never rescan the corpus. Per round:
  *   1. adjacent-pair counts weighted by word freq — one aggregate
  *      shuffled on the pair, argmax via TakeOrderedAndProject(1);
  *   2. the winning pair applied left-greedy non-overlapping to every
  *      word — a window cascade over ONE (word, pos) sort: overlap
  *      only arises for self-pairs (a,a), resolved by parity within
  *      islands of consecutive candidate starts (classic
  *      gaps-and-islands), then merged symbols emitted and consumed
  *      successors dropped.
  * The winning pair rides into the merge step as a broadcast 1-row
  * crossJoin (the J4 scalar idiom — no driver round-trip in the plan);
  * each round's symbol table is cut ([[graft.operators.Fixpoint]])
  * because it feeds BOTH the next round's two branches (pair count +
  * merge), which would otherwise re-execute the whole prefix
  * exponentially.
  *
  * All-integer/string arithmetic — engine-exact, so the DuckDB oracle
  * (the same construction as K chained CTE blocks) hash-matches with
  * no float canonicalization.
  */
object Bpe {

  /** @return (step, lhs, rhs, merged, pair_count) — the K merge rules
    *         in training order. */
  def merges(docs: DataFrame, textCol: String, k: Int): DataFrame =
    run(docs, textCol, k)._2.reduce(_ unionByName _).orderBy(col("step"))

  /** T19: the corpus ENCODED with the k learned merges — the symbol
    * table after the final round, one row per (word, piece):
    * (w, freq, pos, sym). Applying each rule once, left-greedy
    * non-overlapping in training order, is exhaustive: a merge
    * (x, y) → xy can never create a new (x, y) adjacency (that would
    * need xy = x), so the training-side table IS the encoding — still
    * vocab-sized, never a corpus rescan. */
  def encoded(docs: DataFrame, textCol: String, k: Int): DataFrame =
    run(docs, textCol, k)._1

  private def run(docs: DataFrame, textCol: String, k: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val spark = docs.sparkSession
    import spark.implicits._

    val wOrd = Window.partitionBy($"w").orderBy($"pos")
    val words = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    // sequence(1, 0) would generate a DESCENDING [1, 0] for the empty
    // word — filter zero-length words instead (the oracle's range(1, 1)
    // is empty for them, so net symbol rows agree)
    val tok0 = Fixpoint.cut(words.filter(length($"w") >= 1)
      .select($"w", $"freq",
        explode(sequence(lit(1), length($"w"))).as("pos"))
      .select($"w", $"freq", $"pos", $"w".substr($"pos", lit(1)).as("sym")))

    val steps = Seq.newBuilder[DataFrame]
    val tok = Fixpoint.run(tok0, k, cutEvery = 1) { (tok, round) =>
      val withNext = tok.withColumn("nxt", lead($"sym", 1).over(wOrd))
      // 1 row; read by the merge step AND the output
      val top1 = Fixpoint.cut(withNext.filter($"nxt".isNotNull)
        .groupBy($"sym".as("lhs"), $"nxt".as("rhs"))
        .agg(sum($"freq").as("c"))
        .orderBy(desc("c"), $"lhs", $"rhs").limit(1))
      val st = withNext.crossJoin(broadcast(top1))
        .withColumn("is_start",
          when($"sym" === $"lhs" && $"nxt" === $"rhs", 1).otherwise(0))
      val isl = st.withColumn("grp", $"pos" - row_number().over(
        Window.partitionBy($"w", $"is_start").orderBy($"pos")))
      val par = isl.withColumn("do_merge",
        when($"is_start" === 1 && row_number().over(
            Window.partitionBy($"w", $"is_start", $"grp").orderBy($"pos"))
          % 2 === 1, 1).otherwise(0))
      val mg = par.withColumn("prev_m", lag($"do_merge", 1).over(wOrd))
      steps += top1.select(lit(round).as("step"), $"lhs", $"rhs",
        concat($"lhs", $"rhs").as("merged"),
        $"c".cast("long").as("pair_count"))
      mg.filter($"prev_m".isNull || $"prev_m" === 0)
        .select($"w", $"freq", row_number().over(wOrd).as("pos"),
          when($"do_merge" === 1, concat($"sym", $"nxt"))
            .otherwise($"sym").as("sym"))
    }.state
    (tok, steps.result())
  }

  /** The DuckDB oracle for [[merges]]: the identical construction as K
    * chained CTE blocks over the `documents` view. */
  def oracleSql(k: Int): String = {
    val union = (0 until k).map { i =>
      s"SELECT ${i + 1} AS step, lhs, rhs, lhs || rhs AS merged, " +
        s"CAST(c AS BIGINT) AS pair_count FROM top_$i"
    }.mkString("\nUNION ALL ")
    s"""${ctePrefix(k)}
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  /** The DuckDB oracle for the ENCODE query built on [[encoded]]:
    * same CTE chain, final select reads the last symbol table. */
  def encodeOracleSql(k: Int, limit: Int): String =
    s"""${ctePrefix(k)}
       |SELECT w, CAST(freq AS BIGINT) AS freq,
       |  count(*) AS n_pieces,
       |  string_agg(sym, ' ' ORDER BY pos) AS pieces
       |FROM tok_$k GROUP BY w, freq
       |ORDER BY freq DESC, w LIMIT $limit""".stripMargin

  /** Shared WITH-clause: char-split word table `tok_0` plus K merge
    * rounds ending at `tok_K`. */
  private def ctePrefix(k: Int): String = {
    val rounds = (0 until k).map { i =>
      s"""pc_$i AS (
         |  SELECT sym AS lhs, nxt AS rhs, sum(freq) AS c FROM (
         |    SELECT freq, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |    FROM tok_$i) WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |top_$i AS (SELECT lhs, rhs, c FROM pc_$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         |st_$i AS (
         |  SELECT t.w, t.freq, t.pos, t.sym,
         |    lead(t.sym) OVER (PARTITION BY t.w ORDER BY t.pos) AS nxt,
         |    CASE WHEN t.sym = top.lhs
         |          AND lead(t.sym) OVER (PARTITION BY t.w ORDER BY t.pos) = top.rhs
         |         THEN 1 ELSE 0 END AS is_start
         |  FROM tok_$i t, top_$i top),
         |isl_$i AS (
         |  SELECT *, pos - row_number() OVER (PARTITION BY w, is_start ORDER BY pos) AS grp
         |  FROM st_$i),
         |par_$i AS (
         |  SELECT *, CASE WHEN is_start = 1 AND
         |      (row_number() OVER (PARTITION BY w, is_start, grp ORDER BY pos)) % 2 = 1
         |    THEN 1 ELSE 0 END AS do_merge
         |  FROM isl_$i),
         |mg_$i AS (
         |  SELECT *, lag(do_merge) OVER (PARTITION BY w ORDER BY pos) AS prev_m
         |  FROM par_$i),
         |tok_${i + 1} AS (
         |  SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
         |    CASE WHEN do_merge = 1 THEN sym || nxt ELSE sym END AS sym
         |  FROM mg_$i WHERE prev_m IS NULL OR prev_m = 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT tok AS w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |    FROM documents)
       |  GROUP BY 1),
       |p0 AS (
       |  SELECT w, freq, unnest(range(1, length(w) + 1)) AS pos FROM w0),
       |tok_0 AS (
       |  SELECT w, freq, pos, substr(w, CAST(pos AS INT), 1) AS sym FROM p0),
       |$rounds""".stripMargin
  }
}
