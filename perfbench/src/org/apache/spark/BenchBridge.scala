package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark harness needs: waiting for
  * the asynchronous listener bus to deliver every posted event before
  * listener counters are read (the bus is `private[spark]`). */
object BenchBridge {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
