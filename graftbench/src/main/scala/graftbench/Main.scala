package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * {"correct","attempted","failed","metrics"}. End-to-end metrics when
  * --trace 0, per-layer metrics when --trace 1. A readable report goes
  * to stderr and to <work>/report-<workload>-<seed>-t<trace>.json.
  *
  *   graftbench.Main --workload cdc_catchup --seed 1 --seconds 10 --trace 0 --work DIR
  */
object Main {
  /** Per-layer metrics in a fixed order, with units. Every traced run
    * prints all of them; a layer its workload does not exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.pgoutput_s" -> "s", "cdc.avro_envelope_s" -> "s", "cdc.snapshot_wire_s" -> "s",
    "cdc.snapshot_rows" -> "count", "streaming.stream_apply_s" -> "s",
    "streaming.state_rows" -> "count", "cdc.apply_s" -> "s",
    "cdc.apply_shuffle_bytes" -> "bytes", "cdc.replica_rows_per_event" -> "ratio",
    "cdc.ivm_advance_p50_s" -> "s", "cdc.ivm_advance_p90_s" -> "s",
    "cdc.ivm_rows_read_per_event" -> "ratio", "cdc.ivm_batch_events" -> "count",
    "cdc.ivm_backlog_end" -> "count",
    "ops.dedup.exact_s" -> "s", "ops.dedup.minhash_s" -> "s",
    "ops.dedup.minhash_shuffle_bytes" -> "bytes", "ops.text.quality_s" -> "s",
    "ops.text.tokens_s" -> "s", "ops.multimodal.meta_s" -> "s", "ops.similarity.knn_s" -> "s") ++
    StarAnalytics.Mix.map(q => s"ops.relational.${q.take(3)}_s" -> "s") ++ Seq(
    "spark.task_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.fetch_wait_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.tasks" -> "count", "spark.failed_tasks" -> "count",
    "spark.core_busy_ratio" -> "ratio", "spark.stage_skew" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_peak_mb" -> "MB", "gen_s" -> "s",
    "trace.overhead_s" -> "s", "trace.unaccounted_s" -> "s")

  /** span name → the layer metric its duration is reported as */
  private val SpanLayer: Map[String, String] = Map(
    "cdc.pgoutput" -> "cdc.pgoutput_s", "cdc.avro_envelope" -> "cdc.avro_envelope_s",
    "cdc.snapshot_wire" -> "cdc.snapshot_wire_s", "cdc.apply" -> "cdc.apply_s",
    "streaming.stream_apply" -> "streaming.stream_apply_s") ++
    CorpusCuration.Lanes.map { case (_, l) => l -> s"${l}_s" } ++
    StarAnalytics.Mix.map(q => s"ops.relational.${q.take(3)}" -> s"ops.relational.${q.take(3)}_s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; choose one of ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts.getOrElse("work", "bench-work")
    Jvm.install

    val t0 = System.nanoTime()
    val jvm0 = (Jvm.gcMs, Jvm.jitMs)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    // the session configuration graft.Bench ships with
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, seconds, trace)

    val g0 = System.nanoTime()
    wl.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    try wl.setup(ctx) catch { case _: OpFailed => () }
    val setupS = (System.nanoTime() - t0) / 1e9 - genS
    val jvm1 = (Jvm.gcMs, Jvm.jitMs)
    if (ctx.failed == 0) wl.measure(ctx)
    val jvm2 = (Jvm.gcMs, Jvm.jitMs)

    val passes = ctx.passes.toSeq
    val correct = ctx.failed == 0 && passes.nonEmpty && ctx.checks.values.forall(identity)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, Any]
    if (passes.nonEmpty) {
      val wall = Stats.median(passes.map(_.wallS))
      // a batch pass makes all its items visible at its end; freshness
      // events and lake calls record their own samples
      val lat = if (ctx.latency.nonEmpty) ctx.latency.toSeq
        else passes.map(p => Sample(p.wallS, p.items))
      val p50 = Stats.percentile(lat, 0.5)
      val p99 = Stats.percentile(lat, 0.99)
      val throughput = passes.map(_.items).sum / passes.map(_.wallS).sum
      val e2e = Seq(
        "throughput" -> (throughput, "items/s"),
        "latency_p50_s" -> (p50.value, "s"),
        "latency_p99_s" -> (p99.value, "s"),
        "cpu_s" -> (Stats.median(passes.map(_.cpuS)), "s"),
        "accuracy" -> (ctx.accuracy, "ratio"),
        "setup_s" -> (setupS, "s"))
      report ++= Seq("workload" -> wl.name, "item" -> wl.item, "seed" -> seed,
        "passes" -> passes.length, "pass_wall_s" -> passes.map(_.wallS),
        "median_pass_s" -> wall, "gen_s" -> genS,
        "latency_p50" -> s"p${p50.q * 100} of ${p50.n} items",
        "latency_p99" -> s"p${p99.q * 100} of ${p99.n} items")
      if (!trace) metrics ++= e2e
      else {
        metrics ++= PerLayer.map { case (n, u) => n -> (0.0, u) }
        val layer = traced(ctx)
        layer ++= ctx.layer
        layer("gen_s") = genS
        layer("jvm.gc_s") = (jvm2._1 - jvm0._1) / 1000.0
        layer("jvm.jit_s") = (jvm2._2 - jvm0._2) / 1000.0
        layer("jvm.heap_peak_mb") = Stats.median(passes.map(_.heapMb))
        // pass-level tracing overhead; the live window's poll-batch
        // estimate stands only when there is no pass pair
        val tr = passes.filter(_.span.isDefined).map(_.wallS)
        if (tr.nonEmpty && ctx.untracedWall.nonEmpty)
          layer("trace.overhead_s") = Stats.median(tr) - Stats.median(ctx.untracedWall.toSeq)
        layer.foreach { case (k, v) => if (metrics.contains(k)) metrics(k) = (v, metrics(k)._2) }
        report("setup_jvm_gc_s") = (jvm1._1 - jvm0._1) / 1000.0
        report("setup_jvm_jit_s") = (jvm1._2 - jvm0._2) / 1000.0
        report("spans") = spanReport(ctx)
        report("end_to_end_traced") = e2e.map { case (k, (v, u)) => s"$k=$v $u" }
      }
    }
    report ++= Seq("input" -> ctx.props, "checks" -> ctx.checks, "errors" -> ctx.errors)
    val reportJson = Json.write(report)
    System.err.println(reportJson)
    try {
      val f = new java.io.File(s"$work/report-${wl.name}-$seed-t${if (trace) 1 else 0}.json")
      java.nio.file.Files.write(f.toPath, reportJson.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1, ctx.attempted)}, "failed": ${ctx.failed}, "metrics": {${m.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }

  /** Per-layer values from the traced passes: median over passes of each
    * layer span's time, and the engine counters of the pass subtrees.
    */
  private def traced(ctx: Ctx): mutable.LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    val out = mutable.LinkedHashMap.empty[String, Double]
    // roots: the traced passes
    val roots = t.spans.filter(s => s.parent == -1 && s.name == "pass").toSeq
    if (roots.isEmpty) return out
    val perRoot = roots.map { r =>
      val ids = t.subtree(r.id).toSet
      val spans = t.spans.filter(s => ids.contains(s.id))
      val layerS = spans.groupBy(_.name).collect {
        case (n, ss) if SpanLayer.contains(n) => SpanLayer(n) -> ss.map(_.dur).sum / 1e9
      }
      val acc = t.listener.forSpans(ids)
      val self = Spans.selfTimes(spans.toSeq)
      val shuffle = (n: String) => t.listener.forSpans(spans.filter(_.name == n).map(_.id)).shuffleWriteBytes.toDouble
      layerS ++ Map(
        "spark.task_s" -> acc.taskMs / 1000.0,
        "spark.executor_cpu_s" -> acc.cpuNs / 1e9,
        "spark.gc_s" -> acc.gcMs / 1000.0,
        "spark.scheduler_delay_s" -> acc.schedDelayMs / 1000.0,
        "spark.fetch_wait_s" -> acc.fetchWaitMs / 1000.0,
        "spark.shuffle_write_bytes" -> acc.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> acc.spillBytes.toDouble,
        "spark.tasks" -> acc.tasks.toDouble,
        "spark.failed_tasks" -> acc.failed.toDouble,
        "spark.core_busy_ratio" -> acc.taskMs / (r.dur / 1e6 * ctx.cores),
        "spark.stage_skew" -> acc.stageSkew,
        "cdc.apply_shuffle_bytes" -> shuffle("cdc.apply"),
        "ops.dedup.minhash_shuffle_bytes" -> shuffle("ops.dedup.minhash"),
        // wall time of the root not covered by any span's self time
        "trace.unaccounted_s" -> (r.dur - self.values.sum) / 1e9)
    }
    val keys = perRoot.flatMap(_.keys).distinct
    keys.foreach(k => out(k) = Stats.median(perRoot.map(_.getOrElse(k, 0.0))))
    out
  }

  /** Per span name over the traced passes: count, total and self seconds,
    * waiting (scheduler delay, fetch wait, GC) and engine ratios.
    */
  private def spanReport(ctx: Ctx): Seq[Map[String, Any]] = {
    val t = ctx.tracer
    val self = Spans.selfTimes(t.spans.toSeq)
    t.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.dur).sum).map { case (n, ss) =>
      val acc = t.listener.forSpans(ss.map(_.id))
      val wall = ss.map(_.dur).sum / 1e9
      Map("span" -> n, "count" -> ss.length, "total_s" -> wall,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9,
        "scheduler_delay_s" -> acc.schedDelayMs / 1000.0, "fetch_wait_s" -> acc.fetchWaitMs / 1000.0,
        "task_gc_s" -> acc.gcMs / 1000.0, "tasks" -> acc.tasks,
        "shuffle_write_bytes" -> acc.shuffleWriteBytes, "records_read" -> acc.recordsRead,
        "core_busy_ratio" -> s"${acc.taskMs / 1000.0} task-s / ($wall s x ${ctx.cores} cores)",
        "stage_skew" -> acc.stageSkew)
    }
  }
}

/** Minimal JSON writer for the report and result line. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => write(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => write(other.toString)
  }
}
