package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * the listener bus has delivered every event, so a traced run reads
  * complete job, stage and task records. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
