package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's tracer: listener events are
  * delivered asynchronously, so a span's counts are read only after every
  * event posted so far has reached the listeners. The bus is internal to
  * Spark, hence this one-method shim in Spark's package tree. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
