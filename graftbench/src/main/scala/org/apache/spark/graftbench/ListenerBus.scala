package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener, so a
    * reader never races the asynchronous bus (no sleeps).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
