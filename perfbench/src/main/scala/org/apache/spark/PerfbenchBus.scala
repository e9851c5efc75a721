package org.apache.spark

/** Lets the benchmark wait for its listeners to see every event posted so
  * far, so counts read after a unit of work are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
