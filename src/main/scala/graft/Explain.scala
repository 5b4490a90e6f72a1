package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for plan-shape auditing
  * (pushdown, broadcast, shuffle count, codegen spans).
  * Usage: runMain graft.Explain <sfDir> [query ...]
  *
  * Explain also detects and FLAGS any Spark job executed during plan
  * CONSTRUCTION per lane (e.g. an index-build step), so plan-cache/
  * audit tooling is never surprised by a "plan build" that touched
  * the cluster. The exact-rank machinery (prefixSums over rankBucketed)
  * is lazy — its stats pass rides the plan as a broadcast subplan — so the
  * rank lanes (q78/q85/q89/q90/q102, the cumulative-share lanes, …)
  * are pure plan-only builds and come out clean here.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q02_filter_pushdown", "q05_multijoin", "c04_apply_latest")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sites = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // prefer the SQL job description (the user-level action call
          // site, e.g. "head at Relational.scala:1893"); AQE-submitted
          // stages are named after internal future plumbing
          val desc = e.properties.getProperty("spark.job.description")
          if (desc != null && desc.nonEmpty)
            sites.add(desc.takeWhile(_ != '\n').take(80))
          else e.stageInfos.foreach(si =>
            sites.add(si.name.takeWhile(_ != '\n')))
        }
      })
    // parquet footer/listing jobs run on EVERY spark.read.parquet —
    // universal scan metadata, not an eager compute; the flag is for
    // lanes whose build runs a real action (an index-build step)
    def isScanMeta(s: String): Boolean =
      s.startsWith("parquet at ") || s.startsWith("json at ") ||
        s.startsWith("csv at ") || s.startsWith("orc at ") ||
        s == "null"
    names.foreach { n =>
      println(s"\n========== $n ==========")
      sites.clear()
      val df = SparkEntry.queries(n)(spark, sfDir)
      org.apache.spark.graft.SchedulerShim
        .waitListenerBusEmpty(spark.sparkContext, 30000)
      val eager = new java.util.ArrayList(sites).toArray(Array.empty[String])
        .filterNot(isScanMeta).sorted
      if (eager.nonEmpty)
        println("NOTE: Spark action(s) executed during plan CONSTRUCTION " +
          s"at [${eager.mkString("; ")}] (an index-build or landing " +
          "step); this lane's DataFrame build is not a pure plan-only " +
          "path.")
      df.explain("formatted")
    }
    spark.stop()
  }
}
