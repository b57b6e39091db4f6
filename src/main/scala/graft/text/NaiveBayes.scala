package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Rx.r4
import graft.operators.Fixpoint

/** Multinomial Naive Bayes over token arrays — train and inference as
  * one declarative plan (the t24 query wraps this over the documents
  * table; PortableMlSpec drives it over a separable fixture to pin
  * that the scoring path actually classifies).
  *
  * Scale shape: train = one (class, token)-keyed count; inference =
  * one token-keyed join of test tokens against the likelihood table
  * (never a vocab broadcast — vocabulary is the dimension that grows
  * with the corpus), then a doc-keyed argmax. Laplace smoothing; OOV
  * tokens fall to the 1/(tot_c + V) floor via the left join. Scores
  * are r4-canonicalized before the argmax (the token-order sum is the
  * one nondeterministic reduction); ties go to the smaller class.
  *
  * Split into fit / termRows / confusionFromTerms (round-19, VERDICT
  * item 3) so the STREAMING serving path (st22) can ride the same
  * plan: `termRows` is a stateless projection + joins — legal on a
  * streaming `tet` with the model frames as the static sides — and
  * the doc-keyed reduction runs wherever the rows land (batch here,
  * the drained sink table there). No piece of the model ever transits
  * the driver.
  */
object NaiveBayes {

  /** The fitted model as four aggregated frames: per-(class, token)
    * counts, per-class token totals, per-class doc priors, and the
    * 1-row vocabulary size. All distributed; ctc/pri are materialized
    * once (localCheckpoint) so serving doesn't refit per read. */
  final case class Model(ctc: DataFrame, tot: DataFrame, pri: DataFrame,
                         ptot: DataFrame, vv: DataFrame)

  def fit(train: DataFrame, labelCol: String, toksCol: String): Model = {
    val ctc = Fixpoint.cut(train
      .select(col(labelCol).as("c"), explode(col(toksCol)).as("tok"))
      .groupBy(col("c"), col("tok")).agg(count(lit(1)).as("cnt")))
    val tot = ctc.groupBy(col("c")).agg(sum(col("cnt")).as("tot_c"))
    val pri = Fixpoint.cut(train.groupBy(col(labelCol).as("c"))
      .agg(count(lit(1)).as("nd")))
    val ptot = pri.agg(sum(col("nd")).as("ndocs"))
    val vv = ctc.agg(countDistinct(col("tok")).as("v"))
    Model(ctc, tot, pri, ptot, vv)
  }

  /** Per-(doc, class, token) smoothed log-likelihood terms for
    * exploded test tokens `tet` = (__id, true_label, tok). Stateless:
    * a class fan-out (broadcast — classes are few), the token-keyed
    * likelihood left join (NOT broadcast — vocab grows with the
    * corpus), and two tiny broadcast joins for the denominator. Legal
    * on a streaming `tet` (stream-static joins, no aggregation). */
  def termRows(tet: DataFrame, m: Model): DataFrame =
    tet
      .crossJoin(broadcast(m.pri.select(col("c"))))
      .join(m.ctc, Seq("c", "tok"), "left")
      .join(broadcast(m.tot), "c").crossJoin(broadcast(m.vv))
      .select(col("__id"), col("true_label"), col("c"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1))
          / (col("tot_c") + col("v")).cast("double")).as("term"))

  /** Doc-keyed reduction over term rows: score = prior + Σ term
    * (r4-canonicalized), argmax with ties to the smaller class,
    * confusion counts out. */
  def confusionFromTerms(terms: DataFrame, m: Model): DataFrame = {
    val sc = terms.groupBy(col("__id"), col("true_label"), col("c"))
      .agg(sum(col("term")).as("ssum"))
      .join(broadcast(m.pri), "c").crossJoin(broadcast(m.ptot))
      .select(col("__id"), col("true_label"), col("c"),
        r4(log(col("nd").cast("double") / col("ndocs")) + col("ssum"))
          .as("score"))
    sc.groupBy(col("__id"), col("true_label"))
      .agg(min(struct(-col("score"), col("c"))).as("mn"))
      .select(col("true_label"), col("mn.c").as("pred"))
      .groupBy(col("true_label"), col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("pred"))
  }

  /** Confusion counts `(true_label, pred, n)` for `test` scored by a
    * model fit on `train`; both frames need (idCol, labelCol,
    * toksCol: array<string>). */
  def confusion(train: DataFrame, test: DataFrame, idCol: String,
                labelCol: String, toksCol: String): DataFrame = {
    val m = fit(train, labelCol, toksCol)
    val tet = test.select(col(idCol).as("__id"),
      col(labelCol).as("true_label"), explode(col(toksCol)).as("tok"))
    confusionFromTerms(termRows(tet, m), m)
  }
}
