package org.apache.spark

/** Spark's listener bus is asynchronous and its drain is package-private:
  * specs that count events with their own SparkListener wait on it first,
  * so every job of the code under test has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
