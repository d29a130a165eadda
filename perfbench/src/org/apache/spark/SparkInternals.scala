package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Two package-private Spark facts the traced run needs: draining the
  * listener bus before it aggregates, and whether a stage writes a
  * shuffle (an exchange). */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def writesShuffle(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
