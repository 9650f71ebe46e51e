package org.apache.spark

/** The listener bus delivers events asynchronously. The benchmark reads its
  * counters right after an action returns, so it first waits until every
  * event posted so far has been delivered; the wait is only reachable from
  * inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
