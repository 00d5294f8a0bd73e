package org.apache.spark

/** The one package-private call the traced run needs: wait until every
  * listener event posted so far has been delivered, so counters read at a
  * phase boundary include the jobs and tasks that ran before it.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
