package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is `private[spark]`. */
object ListenerBus {

  /** Blocks until every event posted so far has reached every listener, so
    * that task and stage metrics of a finished action are complete before
    * they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
