package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` members the benchmark's listener needs, reached
  * through this bridge in Spark's package.
  */
object PerfbenchInternals {
  /** Waits until every queued listener event has been delivered, so span
    * totals read right after an action include all of its tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a stage that writes shuffle output (a map stage). */
  def isShuffleMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
