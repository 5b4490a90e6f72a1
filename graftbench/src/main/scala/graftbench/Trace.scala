package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: name, wall interval (nanos), parent span id (-1 for a
  * root) and the pass it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {
  /** Self time per span: its duration minus the time its children
    * cover (children clipped to the parent, overlaps counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { sp =>
      val ivs = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      sp.id -> (sp.dur - covered)
    }.toMap
  }
}

/** Engine counters of the tasks that ran under one span (or one pass). */
final class TaskAcc {
  var tasks = 0L
  var failed = 0L
  var taskMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** task durations (ms) per stage, for the skew of the worst stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: TaskAcc): Unit = {
    tasks += o.tasks; failed += o.failed; taskMs += o.taskMs; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    fetchWaitMs += o.fetchWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    o.stageTasks.foreach { case (k, v) =>
      stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Long]) ++= v }
  }

  /** max ÷ median task time in the worst stage with at least 2 tasks. */
  def stageSkew: Double = {
    val ratios = stageTasks.values.filter(_.length >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Attributes task metrics to spans through the `graftbench.span` job
  * property the tracer sets around every traced call.
  */
final class SpanListener extends SparkListener {
  val SpanKey = "graftbench.span"
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val bySpan = mutable.Map.empty[Int, TaskAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(id => stageSpan.put(id, sp))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val sp = Option(stageSpan.get(e.stageId)).getOrElse(-1)
    val a = bySpan.getOrElseUpdate(sp, new TaskAcc)
    val info = e.taskInfo
    a.tasks += 1
    if (!info.successful) a.failed += 1
    a.taskMs += info.duration
    a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  def forSpans(ids: Iterable[Int]): TaskAcc = synchronized {
    val out = new TaskAcc
    ids.foreach(id => bySpan.get(id).foreach(out.add))
    out
  }
}

/** Records one span around each public call while active; while
  * inactive it runs the body with no bookkeeping and no listener, so an
  * untraced pass pays nothing.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var active = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  var pass: Int = -1

  def isActive: Boolean = active

  def activate(on: Boolean): Unit = if (on != active) {
    if (on) sc.addSparkListener(listener) else { drain(); sc.removeSparkListener(listener) }
    active = on
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(listener.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(listener.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, pass, t0, t1)
      }
    }

  /** The most recently closed span (a parent closes after its children). */
  def last: Span = spans.last

  /** Every span id in the subtree of `root` (itself included). */
  def subtree(root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(c => go(c.id))
    go(root)
  }

  def drain(): Unit = org.apache.spark.ListenerDrain.drain(sc)
}

/** JVM-wide counters: process CPU, GC and JIT time, and the peak heap
  * occupancy right after a collection.
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  @volatile private var lastAfterGc = 0L
  @volatile private var peakAfterGc = 0L

  /** Subscribe once to GC notifications: each one reports the heap in
    * use after the collection.
    */
  lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.valuesIterator
            .map(_.getUsed).sum
          lastAfterGc = used
          if (used > peakAfterGc) peakAfterGc = used
        }
      }, null, null)
    case _ => ()
  }

  /** Start a new peak window; returns nothing. */
  def resetPeak(): Unit = peakAfterGc = 0L

  /** Peak post-GC heap (MB) since the last reset; the latest post-GC
    * reading when no collection ran in the window.
    */
  def peakMb: Double = {
    val p = if (peakAfterGc > 0) peakAfterGc else lastAfterGc
    p / (1024.0 * 1024.0)
  }
}
