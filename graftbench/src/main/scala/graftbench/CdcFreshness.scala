package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.cdc._

/** Freshness: keep a live replica current. An IncrementalView is
  * bootstrapped on the catch-up backlog, then WAL events arrive
  * open-loop at a fixed rate. One consumer poll loop drains every due
  * event into `advance` and reads `current`; freshness = view visible −
  * event due time.
  */
object CdcFreshness {
  /** the fixed arrival rate, events per second */
  val Rate = 1000
  val WarmBatches = 2
  val WarmBatch = 1000

  private var wal: Wal = _
  private var backlog = 0 // events of the WAL that precede the live tail
  private var backlogDir: String = _
  private var view: ViewMaintenance.IncrementalView = _
  private var tailDir: String = _
  private var applied = 0 // tail events applied so far

  /** tail events the live phase needs beyond the backlog */
  def tailEvents(seconds: Double): Int = WarmBatches * WarmBatch + (Rate * (seconds + 3)).toInt

  /** `w`'s first `backlog` events are already in `dir`; the rest is the
    * live tail (no truncates: every live batch takes the delta path).
    */
  def generate(ctx: Ctx, w: Wal, backlog: Int, dir: String): Unit = {
    wal = w
    this.backlog = backlog
    backlogDir = dir
    val live = w.slice(backlog, w.n)
    require((0 until live.n).forall(live.op(_) != 't'), "truncate in the live tail")
    tailDir = ctx.lake("tail")
    CdcCatchup.writeEvents(ctx, live, tailDir, 2)
    ctx.props ++= Seq("rate_events_per_s" -> Rate, "tail_events" -> live.n,
      "live_keys_after_backlog" -> Reference.fold(w, 0, backlog).size)
  }

  private def flat(df: DataFrame): DataFrame =
    Envelope.flat(df).select("lsn_long", "op", "pk_before", "pk_after", "after_value")

  /** Tail events [lo, hi) as the poll reads them from the WAL table. */
  private def chunk(ctx: Ctx, lo: Int, hi: Int): DataFrame =
    flat(Tables.events(ctx.spark, tailDir).filter(
      col("event_id").between(wal.eventId(backlog + lo), wal.eventId(backlog + hi - 1))))

  /** advance + read back the view: one counted operation */
  private def step(ctx: Ctx, lo: Int, hi: Int): Array[Row] = ctx.op("cdc.ivm_advance") {
    view.advance(chunk(ctx, lo, hi))
    view.current.collect()
  }

  def setup(ctx: Ctx): Unit = {
    view = new ViewMaintenance.IncrementalView()
    ctx.op("cdc.ivm_bootstrap") {
      view.advance(flat(Tables.events(ctx.spark, backlogDir)))
      view.current.collect()
    }
    (0 until WarmBatches).foreach { b => step(ctx, b * WarmBatch, (b + 1) * WarmBatch) }
    applied = WarmBatches * WarmBatch
  }

  def measure(ctx: Ctx): Unit = {
    val first = applied
    val total = wal.n - backlog
    val nsPer = 1e9 / Rate
    val start = System.nanoTime()
    val end = start + (ctx.seconds * 1e9).toLong
    def due(j: Int): Long = start + ((j - first) * nsPer).toLong
    def dueBy(t: Long): Int = math.min(total, first + ((t - start) / nsPer).toInt + 1)
    val backlogSamples = mutable.ArrayBuffer.empty[Int]
    val advanceS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val batchEvents = mutable.ArrayBuffer.empty[Int]
    var last: Array[Row] = null
    var backlogEnd = -1
    var ok = true
    var i = 0
    // poll until the window closes, then drain what was due by then
    while (ok && (System.nanoTime() < end || applied < dueBy(end))) {
      val now = System.nanoTime()
      val target = if (now < end) dueBy(now) else dueBy(end)
      if (now >= end && backlogEnd < 0) backlogEnd = target - applied
      if (target <= applied) {
        val wait = math.min(due(applied), end) - now
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      } else {
        backlogSamples += target - applied
        val traced = ctx.trace && i % 2 == 0
        ctx.tracer.activate(traced)
        ctx.tracer.pass = i
        val t0 = System.nanoTime()
        try last = step(ctx, applied, target)
        catch { case _: OpFailed => ok = false }
        val vis = System.nanoTime()
        ctx.tracer.activate(false)
        if (ok) {
          advanceS += (((vis - t0) / 1e9, traced))
          batchEvents += target - applied
          (applied until target).foreach(j => ctx.latency += Sample((vis - due(j)) / 1e9, 1))
          applied = target
        }
        i += 1
      }
    }
    if (backlogEnd < 0) backlogEnd = 0

    // backlog growth: a consumer that keeps up ends the window with at
    // most about one batch due; flag a final backlog over twice the median
    // batch plus one second of arrivals
    val grew = batchEvents.nonEmpty &&
      backlogEnd > 2 * Stats.median(batchEvents.map(_.toDouble).toSeq) + Rate
    if (grew) { ctx.failed += 1; ctx.errors += s"backlog grew: ${backlogSamples.mkString(",")}" }
    ctx.props ++= Seq("polls" -> batchEvents.length, "backlog_end" -> backlogEnd,
      "backlog_grew" -> grew, "freshness_window_s" -> (System.nanoTime() - start) / 1e9,
      "freshness_events" -> (applied - first))

    if (ok && last != null) {
      val ref = Reference.fold(wal, 0, backlog + applied)
      val want = Reference.view(ref)
      val got = last.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      ctx.check("view_vs_fold", got == want, s"$got vs $want")
      // the library's own view definition over the folded replica
      import ctx.spark.implicits._
      val folded = ref.toSeq.map { case (pk, c) => (pk, c / 100.0) }.toDF("pk", "last_value")
      val viaViewOf = ViewMaintenance.viewOf(folded).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      ctx.check("view_vs_viewOf_fold", got == viaViewOf, s"$got vs $viaViewOf")
    }
    if (ctx.trace) {
      val traced = advanceS.filter(_._2).map(_._1).toSeq
      val untraced = advanceS.filterNot(_._2).map(_._1).toSeq
      val all = advanceS.map(s => Sample(s._1, 1)).toSeq
      if (all.nonEmpty) {
        ctx.layer("cdc.ivm_advance_p50_s") = Stats.percentile(all, 0.5).value
        ctx.layer("cdc.ivm_advance_p90_s") = Stats.percentile(all, 0.9, 1).value
      }
      if (traced.nonEmpty && untraced.nonEmpty)
        ctx.layer("trace.overhead_s") = Stats.median(traced) - Stats.median(untraced)
      ctx.layer("cdc.ivm_batch_events") = Stats.median(batchEvents.map(_.toDouble).toSeq)
      ctx.layer("cdc.ivm_backlog_end") = backlogEnd
      // records read by the traced advances' jobs per event they applied
      val spans = ctx.tracer.spans.filter(_.name == "cdc.ivm_advance")
      val perEvent = spans.flatMap { sp =>
        val ev = batchEvents.lift(sp.pass).getOrElse(0)
        val acc = ctx.tracer.listener.forSpans(ctx.tracer.subtree(sp.id))
        if (ev > 0) Some(acc.recordsRead.toDouble / ev) else None
      }
      if (perEvent.nonEmpty) ctx.layer("cdc.ivm_rows_read_per_event") = Stats.median(perEvent.toSeq)
    }
  }
}
