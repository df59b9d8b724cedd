package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Test access to two private[spark] members: specs that count jobs drain
  * `SparkContext.listenerBus` before registering and before asserting
  * (listener events are delivered asynchronously), and tell shuffle-map
  * stages from result stages by `StageInfo.shuffleDepId`. */
object GraftTestSpark {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleStage(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
