package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge into the `private[sql]` session internals the streaming drain
  * reads (same access-scope rationale as [[ColumnBridge]]). */
object SessionBridge {
  /** Whether `key` is set on the session, as opposed to reading its
    * default. */
  def isSet(spark: SparkSession, key: String): Boolean = spark.conf.contains(key)

  /** Whether jars, classes or files were added to this session: Spark's
    * own flag for "run this session's code in its own class loader".
    * The flag is `protected[artifact]`, so it is read through its
    * (JVM-public) accessor. */
  def artifactsAdded(spark: SparkSession): Boolean = {
    val am = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager
    am.getClass.getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
  }
}
