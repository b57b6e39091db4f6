package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S2 at query time, part two: the two fact tables re-laid-out BUCKETED
  * on the join key (`lineitem` and `orders`, both hash-bucketed on the
  * order key and sorted within buckets), so the fact-fact equi-join —
  * the one join at 100 TB with no broadcastable side — needs NO
  * Exchange on either input: bucket i of lineitem joins bucket i of
  * orders, decided at plan time from catalog metadata. An aggregate
  * whose grouping keys contain the bucket key reuses the same
  * distribution, so join + group-by run as one shuffle-free pipeline
  * (BucketedLayoutSpec pins the zero-Exchange plan; q12/q18's flat-scan
  * siblings show the shuffle this layout removes).
  *
  * Like [[EventsLayout]], the re-layout is the ONE-TIME ingest cost a
  * real deployment pays at landing time: materialized once per
  * (session, source dir) into process-lifetime external tables and
  * memoized, billed in Bench as its own `setup_bucketed` line. Bucket
  * count is fixed (not data-dependent) so two independently-landed
  * corpora co-join; at cluster scale the count would be sized to
  * target file sizes (buckets = table bytes / ~1 GiB), which changes
  * only this constant.
  */
object BucketedLayout {

  /** 16 buckets ≈ 2 points of parallelism per core at the local[32]
    * test shape while keeping per-bucket files above row-group size at
    * sf0.1 — the tradeoff a real deployment makes per-table. */
  val Buckets = 16

  private lazy val baseDir = TempDir("graft-bucketed-")

  /** Both bucketed tables, written once per (session, dir). */
  val stage: Stage = Stage("setup_bucketed", diskBacked = true)(tableNames(_, _))

  /** Materialize (memoized) both bucketed tables; returns their catalog
    * names. Table names carry the source-dir hash so layouts for
    * different scale factors coexist in one catalog. */
  def tableNames(spark: SparkSession, dir: String): (String, String) =
    stage.memo(spark, dir) {
      val suffix = LayoutDigest(dir)
      val li = s"graft_lineitem_bkt_$suffix"
      val ord = s"graft_orders_bkt_$suffix"
      def build(name: String, df: DataFrame, key: String): Unit =
        if (!spark.catalog.tableExists(name)) {
          // Pre-partition on the bucket hash so each bucket is written by
          // exactly ONE task → ONE file per bucket (repartition and
          // bucketBy share Spark's murmur3 HashPartitioning). With at
          // most one file per bucket the scan can report its sortBy
          // order, so the sort-merge join needs neither Exchange NOR
          // Sort. At cluster scale per-bucket volume is controlled by
          // raising Buckets, never by letting buckets fragment.
          df.repartition(Buckets, df.col(key))
            .write
            .bucketBy(Buckets, key).sortBy(key)
            .option("path", baseDir.resolve(name).toString)
            .format("parquet").mode("overwrite")
            .saveAsTable(name)
        }
      build(li, Tables.lineitem(spark, dir), "l_orderkey")
      build(ord, Tables.orders(spark, dir), "o_orderkey")
      (li, ord)
    }

  /** lineitem, hash-bucketed + sorted on `l_orderkey`. */
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.table(tableNames(spark, dir)._1)

  /** orders, hash-bucketed + sorted on `o_orderkey`. */
  def orders(spark: SparkSession, dir: String): DataFrame =
    spark.table(tableNames(spark, dir)._2)
}
