package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.graft.SchedulerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Test helpers for plan-shape and scheduler-budget specs. */
object PlanWalk {
  /** Test alias for the executed-plan flattener ([[Metrics.allNodes]]). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = Metrics.allNodes(p)

  /** Counts the jobs and the shuffle map stages submitted between
    * `start()` and `stop()`. Both drain the listener bus first, so no
    * earlier event is counted and no later one missed. Submitted map
    * stages are what ran: the final AQE plan can drop a stage that
    * returned no rows.
    */
  final class Scheduled(sc: SparkContext) extends SparkListener {
    private val nJobs, nMapStages = new AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit = { nJobs.incrementAndGet(); () }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (SchedulerShim.shuffleDepId(e.stageInfo).isDefined) { nMapStages.incrementAndGet(); () }
    private def drain(): Unit = SchedulerShim.waitListenerBusEmpty(sc, 60000)
    def start(): this.type = { drain(); sc.addSparkListener(this); this }
    def stop(): this.type = { drain(); sc.removeSparkListener(this); this }
    def jobs: Int = nJobs.get
    def mapStages: Int = nMapStages.get
  }

  /** `body`'s result and the jobs and shuffle map stages it ran. */
  def scheduled[T](spark: SparkSession)(body: => T): (T, Scheduled) = {
    val s = new Scheduled(spark.sparkContext).start()
    try (body, s) finally s.stop()
  }
}
