package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Block until every event already posted to the context's listener bus
  * has been delivered. Spark posts an action's task, stage and job-end
  * events before the action returns, so a listener read after an action
  * plus this drain has seen all of that action's work. The bus is
  * `private[spark]`; this is graft's one door to it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
