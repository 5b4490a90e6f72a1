package graftbench

/** The lake workload: each pass runs the LLM-data curation lanes over a
  * generated corpus and then one client's relational query mix over a
  * generated star schema, back to back. One item is one lane or query
  * call; the report also gives documents curated per second and queries
  * per minute.
  */
object LakeOps extends Workload {
  val name = "lake_ops"
  val item = "lane and query calls"

  def generate(ctx: Ctx): Unit = {
    CorpusCuration.generate(ctx)
    StarAnalytics.generate(ctx)
  }

  /** One timed pass: the curation lanes, then the query mix. */
  private def pass(ctx: Ctx): () => Unit = {
    val (corpus, v1) = CorpusCuration.calls(ctx, warmUp = false)
    val (star, v2) = StarAnalytics.calls(ctx)
    val t0 = System.nanoTime()
    val o1 = ctx.tracer.span("corpus_curation")(corpus.map(_()).toMap)
    val t1 = System.nanoTime()
    val o2 = ctx.tracer.span("star_analytics")(star.map(_()).toMap)
    corpusS += (t1 - t0) / 1e9
    starS += (System.nanoTime() - t1) / 1e9
    () => { v1(o1); v2(o2) }
  }

  private val corpusS = collection.mutable.ArrayBuffer.empty[Double]
  private val starS = collection.mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx): Unit = {
    CorpusCuration.setup(ctx)
    StarAnalytics.setup(ctx)
    // warm-up: every call once, the curation lanes over the small
    // corpus, on three client threads (it is not measured), verified
    val (corpus, v1) = CorpusCuration.calls(ctx, warmUp = true)
    val (star, v2) = StarAnalytics.calls(ctx)
    val out = ctx.inParallel(3)(corpus ++ star).toMap
    v1(out); v2(out)
  }

  def measure(ctx: Ctx): Unit = {
    ctx.runPasses(CorpusCuration.Lanes.length + StarAnalytics.Mix.length)(_ => pass(ctx))
    if (corpusS.nonEmpty) ctx.props ++= Seq(
      "docs_per_s" -> CorpusCuration.docs / Stats.median(corpusS.toSeq),
      "queries_per_min" -> StarAnalytics.Mix.length * 60 / Stats.median(starS.toSeq))
  }
}
