package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Spark internals the harness reads; both are `private[spark]`, hence
  * this file's package. */
object SparkInternals {
  /** Waits until the listener bus has delivered every posted event, so
    * counters read after a measured region are complete. */
  def drainListeners(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Names of the operator scopes (e.g. "Scan csv") a stage's RDDs ran in. */
  def scopeNames(stage: StageInfo): Seq[String] = stage.rddInfos.flatMap(_.scope.map(_.name))
}
