package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, classic}

/** Bridge to the `private[sql]` session id a per-session relation memo
  * keys on.
  */
object RelationBridge {

  /** The session's unique id; `newSession()` gets a new one. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
