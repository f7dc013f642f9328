package org.apache.spark

import java.util.concurrent.TimeoutException

/** The one Spark-internal call the benchmark makes: a bounded drain of the
  * listener bus, so every event of a traced pass has reached the
  * benchmark's listeners before they are read or removed. Spark exposes no
  * public wait for this; polling listener counts for quiescence has no
  * natural bound. */
object PerfbenchBridge {
  /** True when the bus emptied within `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
