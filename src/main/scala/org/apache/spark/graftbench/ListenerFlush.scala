package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Accessor: `LiveListenerBus.waitUntilEmpty()` is
  * `private[spark]`, but per-run task-metric attribution from
  * [[graft.StageMetrics]] needs every `onTaskEnd` event drained before the
  * post-run snapshot is taken — otherwise metrics from run N bleed
  * into run N+1's delta. Lives under `org.apache.spark` solely to
  * cross that package-private boundary; no Spark internals are
  * modified or shadowed.
  */
object ListenerFlush {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
