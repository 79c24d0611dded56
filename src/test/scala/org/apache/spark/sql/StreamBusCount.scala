package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test access to the context's listener bus (`private[spark]`): how many
  * sessions' streaming listener buses it currently dispatches to.
  */
object StreamBusCount {
  def apply(s: SparkSession): Int =
    s.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
