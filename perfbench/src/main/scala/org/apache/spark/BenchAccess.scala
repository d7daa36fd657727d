package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so the traced
  * run's counts are complete before they are read. */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
