package org.apache.spark

/** Test access to the private listener bus: block until every event
  * posted so far (job/task ends, query-execution callbacks) has reached
  * its listeners, so a spec can assert on what a listener saw. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
