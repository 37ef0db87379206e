package org.apache.spark

/** Access to the one private[spark] hook the traced run needs: waiting
  * until every queued listener event has been delivered, so that an
  * op's job, task and query-execution events are all counted before the
  * next op starts.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
