package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * a listener's view of the finished jobs is complete before it is read.
  * Lives in this package because the bus is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
