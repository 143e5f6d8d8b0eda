package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` to reach the listener bus, which is
  * `private[spark]`: the benchmark reads its listener's counters only
  * after every event posted so far has been delivered. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
