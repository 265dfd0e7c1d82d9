package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count
  * jobs with a SparkListener drain it before reading their counters. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
