package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so counters read
  * after an action include that action's jobs. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
