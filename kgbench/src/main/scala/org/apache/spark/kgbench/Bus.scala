package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is private to Spark. */
object Bus {

  /** Blocks until every event posted so far has reached every listener,
    * so stage and task metrics read afterwards are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
