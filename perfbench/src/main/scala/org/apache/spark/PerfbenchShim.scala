package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until the
  * listener bus has delivered every event, so span counts are complete
  * before a traced phase is read out.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
