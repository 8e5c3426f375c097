package org.apache.spark

/** The benchmark's one reach into Spark internals: the listener bus
  * delivers task events asynchronously, so per-layer counters are read
  * only after the bus has drained. */
package object kgbenchbus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
