package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every queued event, so the traced run's
  * listener has seen all jobs and tasks before metrics are computed. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
