package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Bridge into a session's private[sql] SQLConf for the session seam
  * (`graft.core.Sessions.tune`).
  *
  * `spark.conf.set` refuses static SQL confs once the session exists,
  * even for the ones Spark has not read yet. `setStatic` writes the
  * session's SQLConf directly; it is only meaningful for a static conf
  * whose first read is still ahead (e.g. the codegen cache capacity,
  * read once when `CodeGenerator` initializes).
  */
object SessionConfBridge {
  private def conf(spark: SparkSession) =
    spark.asInstanceOf[ClassicSession].sessionState.conf

  /** True when `key` was set explicitly (builder, SparkConf, or a write
    * to this session) rather than falling back to its default.
    */
  def isSet(spark: SparkSession, key: String): Boolean = conf(spark).contains(key)

  def setStatic(spark: SparkSession, key: String, value: String): Unit =
    conf(spark).setConfString(key, value)
}
