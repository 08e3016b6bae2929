package org.apache.spark

/** Test access to the listener bus: listener events arrive asynchronously,
  * so a test that counts jobs drains the bus before it reads its counts. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
