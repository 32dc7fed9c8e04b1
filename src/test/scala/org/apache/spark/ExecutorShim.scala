package org.apache.spark

/** The `private[spark]` process-tree metrics getter. Building it forks
  * `getconf PAGESIZE`, once per JVM; an executor builds it at its first
  * metrics poll, which rides on a heartbeat, so that fork lands at a time
  * no spec controls.
  */
object ExecutorShim {

  /** Builds the getter now, so that its one fork happens here. */
  def initProcfsMetrics(): Unit = require(executor.ProcfsMetricsGetter.pTreeInfo != null)
}
