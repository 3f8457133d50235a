package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Spark's listener bus is private to the `org.apache.spark` package; the
  * traced run waits on it so that every event of a request has been
  * delivered before the request's counters are read.
  */
object BenchBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
