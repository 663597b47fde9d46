package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the SparkContext's listener bus, which Spark keeps
  * package-private: listener events arrive asynchronously, so a test that
  * asserts on what a listener saw must first let the bus deliver them.
  */
object ListenerDrain {
  /** Blocks until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
