package org.apache.spark.sql

/** `classic.SparkSession.cloneSession()` is package-private in Spark. A
  * clone shares the SparkContext and cache manager and copies the
  * session's runtime conf, functions and query-execution listeners. */
object SessionClone {
  def apply(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
