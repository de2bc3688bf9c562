package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.internal.{SessionState, SharedState}

/** Sessions the public builder cannot make: this file lives in the spark
  * namespace to reach a session's shared state, and takes the session
  * constructor, which Scala keeps private, by reflection. */
object TestSessions {
  /** A new session on `spark`'s context and shared state with no session
    * extensions, whatever `spark.sql.extensions` says. */
  def withoutExtensions(spark: SparkSession): classic.SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getConstructor(classOf[SparkContext], classOf[Option[SharedState]],
        classOf[Option[SessionState]], classOf[SparkSessionExtensions],
        classOf[Map[String, String]], classOf[Map[String, String]])
      .newInstance(s.sparkContext, Some(s.sharedState), None, new SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
  }
}
