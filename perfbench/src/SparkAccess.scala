package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Two facts the trace needs that Spark keeps package-private. */
object SparkAccess {
  /** Wait until the listener bus delivered every posted event, so a trace
    * read right after an operation holds all of its stages. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage). */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
