package org.apache.spark

/** The listener bus delivers job events asynchronously; specs that
  * count jobs read their counters only after it has drained. */
package object graftbus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
