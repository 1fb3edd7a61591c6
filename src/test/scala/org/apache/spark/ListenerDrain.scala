package org.apache.spark

/** Test access to the one package-private call a job-counting test
  * needs: wait until the listener bus has delivered every event. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
