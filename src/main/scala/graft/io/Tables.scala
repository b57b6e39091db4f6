package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver test tables (TESTDATA.md) with explicit schemas.
  *
  * Schemas are declared, not inferred (SURVEY §1.2): at 100 TB a schema
  * inference pass is a full extra scan, and explicit `StructType`s let
  * Catalyst prune columns and push predicates into the parquet footer
  * without ever touching data. Reference reads with inference at
  * `src/data_processing/data_merger.py:26`.
  */
object Tables {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  /** `events.ts` is parquet TIMESTAMP(MICROS) stored as INT64. We
    * declare it LongType so the scan surfaces the RAW µs epoch — time
    * predicates and day derivations then stay pure integer arithmetic
    * on the stored value (pushdown-friendly, timezone-free), and the
    * TimestampType view is rebuilt with `timestamp_micros` only where
    * the query needs calendar semantics. (Earlier driver rounds wrote
    * TIMESTAMP(NANOS); the unit is asserted by EventsLayoutSpec, so a
    * regenerated-testdata unit flip fails loudly, not silently.) */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "lineitem" -> lineitemSchema, "orders" -> ordersSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "nation" -> nationSchema, "region" -> regionSchema,
    "events" -> eventsSchema, "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
    if (name == "events")
      // raw µs long → TimestampType, matching DuckDB's epoch_us(ts).
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(df("ts")))
    else df
  }

  /** The streaming twin of [[apply]]: a file stream over `dir` that
    * picks up only `<name>.parquet`. `ts` stays the raw µs long; stream
    * lines convert it themselves where they need calendar semantics. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.readStream.schema(schemas(name))
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)

  /** S1: the reference's per-symbol file layout (`{SYM}_data.parquet`,
    * one file per asset) read as ONE scan, with the symbol recovered
    * from the file name (`data_merger.py:25` derives it from the stem) —
    * no per-file Python loop, no union of N reads. */
  def readPerSymbolDir(spark: SparkSession, dir: String,
                       schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
    spark.read.schema(schema).parquet(dir)
      .withColumn("symbol",
        regexp_extract(input_file_name(), "([^/]+)_data\\.parquet", 1))
  }

  /** events with `ts` as the RAW µs epoch long — use when a
    * time-range predicate must push into the parquet scan (a filter on
    * the converted TimestampType column is an expression over `ts` and
    * will not be pushed; a filter on the raw attribute will). */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schemas("events")).parquet(s"$dir/events.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
