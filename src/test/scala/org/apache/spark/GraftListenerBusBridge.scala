package org.apache.spark

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Specs' view of the SparkContext's listener bus (`listenerBus` is
  * `private[spark]`).
  */
object GraftListenerBusBridge {
  /** The streaming-query listener buses registered on `sc`: one per
    * session whose `StreamingQueryManager` has been built.
    */
  def streamingBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
