package org.apache.spark

/** The Spark-internal call specs need to read listener-recorded events:
  * block until every event posted so far has been delivered. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
