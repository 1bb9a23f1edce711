package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. The bus delivers events
  * asynchronously and its `waitUntilEmpty` is package-private, so this
  * shim lives in Spark's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
