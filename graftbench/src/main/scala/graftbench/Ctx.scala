package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** An operation that threw or returned a wrong result; its pass is
  * dropped and never timed.
  */
final class OpFailed(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)

/** One timed pass: wall and process-CPU seconds, peak post-GC heap, the
  * items it carried and, when traced, its root span.
  */
final case class PassRec(wallS: Double, cpuS: Double, heapMb: Double, items: Long,
    span: Option[Span])

/** Everything one run shares: the session, the tracer, the counters and
  * the measurements the workload records.
  */
final class Ctx(val spark: SparkSession, val workDir: String, val seed: Long,
    val seconds: Double, val trace: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val props = mutable.LinkedHashMap.empty[String, Any]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val latency = mutable.ArrayBuffer.empty[Sample]
  var accuracy = 1.0
  /** workload-specific per-layer values (traced runs) */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** pass times of untraced passes in a traced run */
  val untracedWall = mutable.ArrayBuffer.empty[Double]
  /** set once the timed passes start */
  var measuring = false

  def lake(name: String): String = s"$workDir/lake/$name"

  /** Record a correctness check; a failed one also fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) errors += s"check $name failed${if (detail.nonEmpty) ": " + detail else ""}"
  }

  /** A counted operation, traced as one span. A throw counts as a failed
    * operation and aborts the pass.
    */
  def op[T](name: String)(body: => T): T = {
    synchronized { attempted += 1 }
    try tracer.span(name)(body)
    catch {
      case e: OpFailed => synchronized { failed += 1 }; throw e
      case e: Throwable =>
        synchronized {
          failed += 1
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        throw new OpFailed(name, e)
    }
  }

  /** Run untimed, untraced work (the warm-up) on `threads` client
    * threads sharing the session; results in task order.
    */
  def inParallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** Timed passes until `seconds` have gone by. `pass` does the timed
    * work and returns the verification to run after the timer stops.
    * In a traced run every other pass is traced, starting with the
    * second, so the untraced ones give the tracing overhead.
    */
  def runPasses(items: Long)(pass: Int => () => Unit): Unit = {
    measuring = true
    val start = System.nanoTime()
    var i = 0
    // a traced run makes at least one untraced and one traced pass
    while (((System.nanoTime() - start) / 1e9 < seconds || (trace && i < 2)) && failed < 3) {
      val traced = trace && i % 2 == 1
      tracer.activate(traced)
      tracer.pass = i
      Jvm.resetPeak()
      val c0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      val verify = try Some(tracer.span("pass")(pass(i))) catch { case _: OpFailed => None }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs - c0) / 1e9
      val heap = Jvm.peakMb
      tracer.activate(false)
      verify.foreach { v =>
        passes += PassRec(wall, cpu, heap, items, if (traced) Some(tracer.last) else None)
        if (trace && !traced) untracedWall += wall
        try v() catch {
          case e: Throwable =>
            failed += 1
            errors += s"verify: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      i += 1
    }
  }

  /** Write generated rows as multi-file parquet: `files` partitions, each
    * building its slice from the broadcast generator output.
    */
  def writeTable[T <: AnyRef: scala.reflect.ClassTag](dir: String, name: String, data: T, n: Int, files: Int,
      schema: StructType, timestamps: Seq[String] = Nil)(row: (T, Int) => Row): Unit = {
    val sc = spark.sparkContext
    val b = sc.broadcast(data)
    val rdd = sc.parallelize(0 until files, files).mapPartitions { it =>
      val p = it.next()
      val d = b.value
      val lo = (n.toLong * p / files).toInt
      val hi = (n.toLong * (p + 1) / files).toInt
      (lo until hi).iterator.map(i => row(d, i))
    }
    val df = timestamps.foldLeft(spark.createDataFrame(rdd, schema)) { (df, c) =>
      df.withColumn(c, timestamp_micros(col(c)))
    }
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    b.destroy()
  }

  /** A lane or query call: a counted operation that collects the
    * result, after clearing the session cache so every pass pays the
    * lane's full cost. While measuring, its wall time is a latency
    * sample.
    */
  def call(name: String)(df: => DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    // concurrent warm-up calls must not drop each other's caches
    val rows = op(name) { if (measuring) spark.catalog.clearCache(); df.collect() }
    if (measuring) latency += Sample((System.nanoTime() - t0) / 1e9, 1)
    rows
  }
}
