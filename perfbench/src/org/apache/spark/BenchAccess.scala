package org.apache.spark

/** The one scheduler internal the harness needs: waiting until every
  * listener event posted so far has been delivered, so counters read after
  * an action include that action.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
