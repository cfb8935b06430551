package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener bus: block until every event
  * posted so far has reached every listener. The traced run calls this
  * at the end of each query so that the jobs, tasks, plans and stream
  * progress a query caused are counted against that query. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
