package graft

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the optimization rounds' before/after plan evidence
  * (plans/r16/<query>_{before,after}.txt). Usage:
  *   runMain graft.PlanDump [--executed] <outDir> <suffix> <name> [...]
  * Uses the SAME session config as Bench so the captured plan is the
  * one the bench actually executes. With --executed the query is first
  * run to completion through the noop sink (guide §1.4), so the dump is
  * the POST-execution adaptive plan (isFinalPlan=true) — the only plan
  * that can show runtime ReusedExchange / AQEShuffleRead decisions
  * (r16 verdict item 3: pre-execution dumps cannot prove stage reuse).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_ == "--executed")
    val executed = flags.nonEmpty
    val outDir = java.nio.file.Paths.get(rest(0))
    val suffix = rest(1)
    val names = rest.drop(2).toSeq
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Cli.session("graft-plandump", Cli.hostCpus)
    names.foreach { name =>
      val plan =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          // collect() (NOT a noop write / count(), which plan their own
          // QueryExecution) drives THIS df's executedPlan, so the dump
          // below carries the post-run AQE state (isFinalPlan=true)
          if (executed) df.collect()
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.write(
        outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
