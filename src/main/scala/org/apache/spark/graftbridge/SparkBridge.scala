package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** SparkContext internals bridge. `SparkContext.listenerBus` is
  * `private[spark]`; `MetricsReport.window` needs to DRAIN it around its
  * body so the listener's task-end events are fully applied before the
  * counter snapshot — without the drain, attribution of the
  * last tasks' shuffle bytes races the async event bus. Same
  * one-file-in-the-namespace pattern as [[org.apache.spark.sql.graftbridge.Bridge]];
  * nothing else may live here. */
object SparkBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
