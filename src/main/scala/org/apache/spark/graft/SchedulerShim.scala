package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Bridge to the `private[spark]` live listener bus, so the dev tools
  * (graft.Probe, graft.Explain) can deterministically drain listener
  * events before reading listener-populated state instead of racing it
  * with a fixed sleep.
  */
object SchedulerShim {
  def waitListenerBusEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** The shuffle a submitted stage writes: defined for shuffle map stages. */
  def shuffleDepId(info: StageInfo): Option[Int] = info.shuffleDepId
}
