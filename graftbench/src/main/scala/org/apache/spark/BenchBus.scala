package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Spark internals the benchmark's listener needs; they are
  * package-private to Spark, hence this file's package.
  */
object BenchBus {

  /** Waits until every posted listener event has been delivered, so a
    * benchmark op's counters are complete when the op ends.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage). */
  def isMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
