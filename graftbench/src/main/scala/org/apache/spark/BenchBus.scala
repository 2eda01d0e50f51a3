package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced operation's jobs, stages and plan phases are all recorded
  * before the next operation starts. The bus is internal to Spark,
  * hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
