package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The scheduler facts the benchmark's listener needs that Spark keeps
  * visible only inside its own package. */
object SparkInternals {
  /** Waits until every posted listener event has been delivered, so a
    * listener read right after a call sees all of that call's jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes; None for a result stage. Stages of one
    * shuffle share it even when the scheduler gives them different ids. */
  def shuffleId(si: StageInfo): Option[Int] = si.shuffleDepId
}
