package graftbench

/** A benchmark workload: it generates its inputs from the seed (timed as
  * gen_s), sets up and warms up (inside setup_s), then measures.
  */
trait Workload {
  def name: String
  /** what one throughput item is */
  def item: String
  def generate(ctx: Ctx): Unit
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
}

object Workload {
  val all: Seq[Workload] = Seq(CdcReplica, LakeOps)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}
