package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd+ args: dump only these queries (iteration aid; the
    // driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = Cli.session("graft-verify", cpus = "4")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        var c = e.getCause
        while (c != null) {
          System.err.println(s"[verify]   caused by: ${c.getClass.getName}: ${c.getMessage}")
          c = c.getCause
        }
      }
      // lanes persist() their shared panels LAZILY (dedup across
      // pruning-divergent branches); release them here so cached
      // blocks never accumulate across the 375-lane run
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Cli.jsonString(k)}: ${Cli.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
