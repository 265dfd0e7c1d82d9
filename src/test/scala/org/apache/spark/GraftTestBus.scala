package org.apache.spark

/** Test access to `private[spark]` scheduler state: specs that count
  * jobs with a SparkListener drain the listener bus before reading their
  * counters, and tell shuffle-map stages from result stages. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether `stage` writes shuffle output (a map stage of a shuffle). */
  def isShuffleMapStage(stage: scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined
}
