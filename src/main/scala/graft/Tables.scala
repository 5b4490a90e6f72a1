package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet loaders over the driver-generated testdata layout (TESTDATA.md):
  * one parquet file per table under an sf dir. All operators take the sf dir
  * as a parameter so the same plan runs at any scale factor — at cluster
  * scale these paths would be a partitioned table root instead of a single
  * file, with no code change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  // path → ((leaf files, the nanos setting), the schema inferred under them)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, ((Seq[(String, Long, Long)], String), StructType)]()

  /** Every leaf file under `path` (or `path` itself) as (name, length, mtime). */
  private def leaves(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  /** Inferring a parquet schema runs a Spark job, so each path keeps the
    * schema last inferred for it and reads with that schema while its leaf
    * files and the nanos setting are unchanged.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet stores ts as TIMESTAMP(NANOS), which Spark 4 refuses
    // by default; read nanos as long and convert below.
    try spark.conf.set(NanosAsLong, "true")
    catch { case _: Throwable => () }
    val path = s"$dir/$name.parquet"
    val key = try (leaves(spark, path), spark.conf.get(NanosAsLong, "false"))
      catch { case _: java.io.FileNotFoundException => return spark.read.parquet(path) }
    val known = schemas.get(path)
    val schema = if (known != null && known._1 == key) known._2 else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(path, key -> inferred)
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) (rounds 1–7) and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-8 regeneration) —
    * surface either as micros TimestampType under the UTC session zone
    * (identical instants; nanos floor-truncate, matching DuckDB's
    * ts::TIMESTAMP).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(load(s, d, "events"))

  /** The ts normalization above, as a transform — shared by every batch
    * AND streaming events reader (`df.transform(Tables.normalizeEventsTs)`)
    * so a testdata physical-type change lands in exactly one place.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos read via nanosAsLong
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType => // micros, no zone
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
