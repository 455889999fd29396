package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete before it reads them. The bus is
  * private to Spark, hence this object's package.
  */
object Listeners {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
