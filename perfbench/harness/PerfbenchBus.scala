package org.apache.spark

/** The listener bus's drain is private to Spark; a benchmark that reads
  * listener counters at op boundaries needs every event of the finished
  * op delivered first. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
