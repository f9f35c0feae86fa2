package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Test access to scheduler internals Spark keeps package-private: the
  * listener bus drain (a scoped listener must have seen every event of
  * the call it observes before the test reads it) and whether a stage
  * is a shuffle-map stage. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
