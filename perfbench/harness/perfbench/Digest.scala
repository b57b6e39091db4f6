package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest: the row count plus the sum of a
  * 64-bit hash of every row over all its columns. Map-typed columns hash
  * their JSON form, since Spark does not hash maps. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Prints the digests of one small frame in several row orders and
    * partitionings, and of a copy with one value changed, as JSON lines
    * (`perfbench/tests/test_digest.py` checks them). */
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[2]").appName("digest-check")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      import s.implicits._
      val rows = (0 until 200).map(i => (i.toLong, s"k${i % 7}", i * 0.5, Map(s"m$i" -> i)))
      val df = rows.toDF("id", "key", "v", "m")
      val frames = Seq(
        "original" -> df,
        "reversed" -> rows.reverse.toDF("id", "key", "v", "m"),
        "repartitioned" -> df.repartition(5, $"key"),
        "sorted_desc" -> df.orderBy($"v".desc),
        "one_value_changed" -> df.withColumn("v",
          when($"id" === 17L, lit(99.0)).otherwise($"v")),
        "one_row_dropped" -> df.filter($"id" =!= 3L))
      frames.foreach { case (name, f) =>
        val (n, h) = of(f)
        println(Out.json(Seq("frame" -> name, "rows" -> n, "hash" -> h)))
      }
    } finally s.stop()
  }
}
