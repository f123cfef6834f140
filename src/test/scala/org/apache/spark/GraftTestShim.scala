package org.apache.spark

/** Test-side access to the one package-private call the job counter
  * needs: wait until the listener bus has delivered every queued event.
  */
object GraftTestShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
