package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every posted event, so counters read
  * after a run are complete (no fixed sleep).
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
