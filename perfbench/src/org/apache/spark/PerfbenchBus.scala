package org.apache.spark

/** The listener bus delivers events asynchronously. A span boundary reads
 * the ledger's counters only after every event posted before it has been
 * handled, so the counters belong to the span that caused them. The bus is
 * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
