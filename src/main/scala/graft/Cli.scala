package graft

import org.apache.spark.sql.SparkSession

/** What graft's mains share: Verify (the correctness dump) and Bench
  * (the benchmark line), and the dev tools Probe and PlanDump.
  */
object Cli {
  /** The host's cores, capped at 32: the default core count of Bench
    * and PlanDump.
    */
  def hostCpus: String =
    math.min(32, Runtime.getRuntime.availableProcessors()).toString

  /** The local session every main runs on, `SPARK_GRAFT_CPUS` cores
    * (default `cpus`) and as many shuffle partitions.
    * `SPARK_GRAFT_MASTER` (dev only) swaps in another master, e.g.
    * `local-cluster[4,8,16384]`, to run against separate executor JVMs
    * with real serialized shuffles and broadcasts.
    */
  def session(app: String, cpus: String): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", cpus)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", n)
      // the generated tables are single files of a few MB to ~100 MB,
      // each ONE split at the default 128m — the heavy pre-shuffle
      // projections (explode+hash over documents) then run
      // single-threaded regardless of core count (found at sf5: d18
      // slower than at sf10 because 75MB = 1 split, 150MB = 2). 16m
      // keeps scans parallel; a real corpus arrives as many files
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, per RFC 8259 — a tab or CR left raw in
    * oracle SQL or an error message makes a reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
