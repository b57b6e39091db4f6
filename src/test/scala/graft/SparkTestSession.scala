package graft

import org.apache.spark.sql.SparkSession

/** The specs' shared session: the one engine config (`GraftSession`)
  * on a fixed local[4], so plan shapes do not depend on the host. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}
