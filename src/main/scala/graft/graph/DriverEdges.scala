package graft.graph

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

/** The one place graph code moves an edge list to the driver, and the
  * size rule that decides when it may.
  *
  * A graph whose edge list fits on the driver runs its loop there: K
  * rounds over a few thousand edges (the correlation graph never has
  * more than 200 nodes) run on one thread without a job, while each
  * distributed round pays a job's fixed scheduling, planning and
  * materialization cost (Shark, SIGMOD 2013). The rule is the resolver's
  * size rule, applied like Spark SQL's broadcast-join threshold: the
  * input's size picks the physical path, and both paths give the same
  * rows. Above [[CollectThreshold]] edges the distributed loop runs.
  */
object DriverEdges {

  /** Edge lists of at most this many rows are fetched to the driver. */
  val CollectThreshold = 5000000L

  /** The `(a, b)` rows of `edges` on the driver, when there are at most
    * `threshold` of them and no endpoint is null; `None` otherwise, and
    * the caller runs its distributed path (which defines what a null
    * endpoint does). The probe is a count, not a speculative collect,
    * so an over-threshold edge list never reaches the driver. Persist
    * `edges` first: the probe and the collect each read it. */
  def fetch(edges: DataFrame, a: String, b: String,
            threshold: Long = CollectThreshold): Option[Array[(Long, Long)]] = {
    val probeLimit = math.min(threshold + 1, Int.MaxValue.toLong).toInt
    if (edges.limit(probeLimit).count() > threshold) return None
    val rows = edges.select(col(a).cast(LongType), col(b).cast(LongType)).collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** A fixed-round loop over `(src, dst)` edges of type long, on the
    * path [[fetch]] picks: `local` over the fetched edges, returning
    * `(node, label)` pairs, or `distributed` over the edge frame. The
    * edge plan runs once on either path (it is persisted for the probe,
    * the collect or the distributed loop's keyed copy, and released
    * here). The local frame carries `schema`, the distributed loop's
    * output schema; edges of another type take the distributed path. */
  def fixedRounds(edges: DataFrame, schema: => StructType)
                 (distributed: DataFrame => DataFrame)
                 (local: Array[(Long, Long)] => Seq[(Long, Long)]): DataFrame = {
    if (Seq("src", "dst").exists(edges.schema(_).dataType != LongType))
      return distributed(edges)
    // a frame the caller cached stays cached: persist only our own copy
    val owned = edges.storageLevel == StorageLevel.NONE
    if (owned) edges.persist()
    try fetch(edges, "src", "dst") match {
      case Some(pairs) =>
        val rows = local(pairs).map { case (n, l) => Row(n, l) }
        edges.sparkSession.createDataFrame(rows.asJava, schema)
      case None => distributed(edges)
    } finally if (owned) edges.unpersist()
  }
}
