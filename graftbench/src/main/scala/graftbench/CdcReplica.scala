package graftbench

/** The replica workload: one WAL, consumed twice. First a timed
  * catch-up pass bootstraps a replica from the whole backlog (throughput,
  * CPU and heap are this pass's); then the same backlog seeds an
  * IncrementalView that the live tail keeps current at a fixed arrival
  * rate for `--seconds` (the latency metrics are this phase's freshness).
  */
object CdcReplica extends Workload {
  val name = "cdc_replica"
  val item = "WAL events"
  val Events = 80000
  val Keys = 20000
  val ZipfS = 0.9

  def generate(ctx: Ctx): Unit = {
    val w = CdcCatchup.genWal(ctx.seed, Events, CdcFreshness.tailEvents(ctx.seconds))
    CdcCatchup.generate(ctx, w.slice(0, Events))
    CdcFreshness.generate(ctx, w, Events, CdcCatchup.mainDir)
  }

  /** The catch-up warm-up and the view bootstrap are independent, so
    * they run side by side on two client threads.
    */
  def setup(ctx: Ctx): Unit =
    ctx.inParallel(2)(Seq(() => CdcCatchup.setup(ctx), () => CdcFreshness.setup(ctx)))

  def measure(ctx: Ctx): Unit = {
    CdcCatchup.measure(ctx)
    if (ctx.failed == 0) CdcFreshness.measure(ctx)
  }
}
