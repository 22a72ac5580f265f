package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs, stages and actions before
  * their records are written. The bus is private to the `spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
