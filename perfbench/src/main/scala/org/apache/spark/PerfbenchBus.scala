package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced run reads its listener only after every event of the work
  * it measured has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
