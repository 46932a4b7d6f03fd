package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners, so a count read after
  * an action includes that action's own jobs. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
