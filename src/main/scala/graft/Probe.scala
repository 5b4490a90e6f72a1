package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Dev-only stage profiler (Explain.scala's sibling): runs one query
  * under the Bench session config and prints per-stage task counts and
  * wall/CPU times — the tool for "why is this lane slow at THIS sf"
  * questions that plan shape alone cannot answer (e.g. row-group-bound
  * scan parallelism, AQE coalescing artifacts).
  *
  * Usage: runMain graft.Probe <sfDir> <queryName>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = Cli.session("graft-probe", cpus = "32")
    val stages = ArrayBuffer.empty[(Int, String, Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = (for (a <- s.completionTime; b <- s.submissionTime)
          yield a - b).getOrElse(-1L)
        // the bus thread appends while main reads below — synchronize
        stages.synchronized {
          stages += ((s.stageId, s.name.takeWhile(_ != '\n').take(60),
            s.numTasks, wall, s.taskMetrics.executorRunTime))
        }
      }
    })
    SparkEntry.queries(name)(spark, sfDir).count()
    // deterministic drain: a slow bus would silently drop trailing
    // stages from the report under a fixed sleep
    org.apache.spark.graft.SchedulerShim
      .waitListenerBusEmpty(spark.sparkContext, 30000)
    println(f"%nstage  tasks  wall_ms  task_cpu_ms  name")
    stages.synchronized(stages.sortBy(_._1).toList)
      .foreach { case (id, nm, n, w, cpu) =>
        println(f"$id%5d  $n%5d  $w%7d  $cpu%11d  $nm")
      }
    spark.stop()
  }
}
