package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so a recorder window closed
  * after an action sees all of that action's job, task and query events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
