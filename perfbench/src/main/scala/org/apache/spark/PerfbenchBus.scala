package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that every event a
  * finished request posted has reached the benchmark's listeners before
  * their counters are read. The bus is package-private to Spark, hence
  * this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
