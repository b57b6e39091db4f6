package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.ZOrder

/** S2 at query time, part three: lineitem re-laid-out along the
  * Z-curve of `(l_extendedprice, l_quantity)` — the lakehouse
  * `OPTIMIZE ZORDER BY` layout for multi-dimensional selective scans.
  * A single-column sort clusters one dimension only; the Morton
  * interleave gives BOTH columns file-level locality, so a 2-D range
  * predicate (price band × quantity band, the TPC-H q19 shape) prunes
  * most files from their parquet footer min/max stats before reading a
  * row. `z1_zorder_range` declares that scan; ZOrderSpec measures the
  * skipping on a uniform grid and `ZOrderLayoutSpec` on this layout.
  *
  * Same landing-time convention as [[EventsLayout]]/[[BucketedLayout]]:
  * materialized once per (session, source dir), memoized, billed in
  * Bench as `setup_zorder`. At cluster scale `Files` tracks table size
  * (files ≈ table bytes / ~1 GiB); the curve's resolution (8 bits/dim)
  * is independent of that count.
  */
object ZOrderLayout {

  /** 32 files ≈ one per core at the local[32] test shape; enough
    * granularity that a 10% band on either dimension can skip most of
    * the curve. */
  val Files = 32

  private lazy val baseDir = TempDir("graft-zorder-")

  /** The z-ordered lineitem layout, written once per (session, dir). */
  val stage: Stage = Stage("setup_zorder", diskBacked = true)(path(_, _))

  /** Materialize (memoized) and return the z-ordered layout path. */
  def path(spark: SparkSession, dir: String): String =
    stage.memo(spark, dir) {
      val target = baseDir.resolve(LayoutDigest(dir)).toString
      ZOrder.writeZOrdered(Tables.lineitem(spark, dir),
        "l_extendedprice", "l_quantity", target, Files)
      target
    }

  /** lineitem, laid out along the (price, quantity) Z-curve. */
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(path(spark, dir))
}
