package org.apache.spark

/** Test access to the package-private listener bus. */
object ListenerBus {

  /** Blocks until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
