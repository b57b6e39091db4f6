package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G14: classification metrics in pure SQL shapes
  * (`src/models/lstm_forecasting.py:289-302`, `lstm_analysis.py:192-196`):
  * accuracy, per-class precision/recall/F1, confusion matrix.
  *
  * Scale shape: ONE shuffle reduces the fact table to the tiny
  * (true, pred, n) confusion long-form; every metric derives from that
  * k×k frame, so the 100 TB input is touched exactly once.
  */
object Metrics {

  /** Long-form confusion counts — the single reduction over the data. */
  def confusionLong(df: DataFrame, trueCol: String, predCol: String): DataFrame =
    df.groupBy(col(trueCol).as("label_true"), col(predCol).as("label_pred"))
      .agg(count(lit(1)).as("n"))

  /** Confusion matrix (J3 crosstab): rows = true label, one column per
    * predicted label. */
  def confusion(df: DataFrame, trueCol: String, predCol: String,
                labels: Seq[String]): DataFrame =
    confusionLong(df, trueCol, predCol)
      .groupBy(col("label_true").as("label"))
      .pivot("label_pred", labels)
      .agg(sum(col("n")))
      .na.fill(0)

  /** Per-class TP/FP/FN + precision/recall/F1 + global accuracy
    * (repeated per row), all derived from the confusion long-form. */
  def perClassF1(df: DataFrame, trueCol: String, predCol: String): DataFrame = {
    val cm = graft.io.PersistRegistry.trackPersist(
      confusionLong(df, trueCol, predCol))
    val acc = cm.agg(
      (sum(when(col("label_true") === col("label_pred"), col("n")).otherwise(0L)) /
        sum(col("n"))).as("accuracy"))
    val tp = cm.filter(col("label_true") === col("label_pred"))
      .select(col("label_true").as("label"), col("n").as("tp"))
    val fn = cm.filter(col("label_true") =!= col("label_pred"))
      .groupBy(col("label_true").as("label")).agg(sum(col("n")).as("fn"))
    val fp = cm.filter(col("label_true") =!= col("label_pred"))
      .groupBy(col("label_pred").as("label")).agg(sum(col("n")).as("fp"))
    tp.join(fn, Seq("label"), "full_outer")
      .join(fp, Seq("label"), "full_outer")
      .na.fill(0L, Seq("tp", "fn", "fp"))
      .crossJoin(broadcast(acc))
      .withColumn("precision",
        col("tp").cast("double") / nullif(col("tp") + col("fp"), lit(0L)))
      .withColumn("recall",
        col("tp").cast("double") / nullif(col("tp") + col("fn"), lit(0L)))
      .withColumn("f1",
        lit(2.0) * col("tp") / nullif(lit(2L) * col("tp") + col("fp") + col("fn"), lit(0L)))
  }
}
