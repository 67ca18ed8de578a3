package org.apache.spark

/** Spark's listener bus is asynchronous and its drain is package-private:
  * the benchmark waits on it before reading its listeners' counters, so
  * that a window's jobs, tasks and micro-batches are all counted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
