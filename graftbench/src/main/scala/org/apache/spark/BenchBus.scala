package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced phase reads its job and task figures only after all of them have
  * reached the benchmark's listener. The bus is private to Spark's package,
  * hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
