package org.apache.spark.reconbench

import org.apache.spark.SparkContext

/** The few context operations the harness needs that Spark keeps
  * package-private. */
object SparkInternals {
  /** Wait until every event posted so far has reached the listeners, so
    * their totals are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop an RDD's blocks by id, whether or not its RDD object is still
    * reachable. */
  def unpersist(sc: SparkContext, rddId: Int): Unit = sc.unpersistRDD(rddId, blocking = false)
}
