package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Source/sink format coverage (SURVEY.md §2, x01–x03): the WAL flat-event
  * stream written to and read back from each built-in columnar/text format
  * (ORC, JSON-lines, CSV), then aggregated. The oracle recomputes the same
  * aggregate from the original parquet — so a hash match proves the
  * roundtrip is lossless, types included (timestamps survive as micros,
  * doubles bit-exact via the writers' round-trip representations).
  *
  * The reference's ingest edge is NATS bytes (internal/mq/wal.go); a Spark
  * deployment lands the same envelope in files/object storage — these are
  * the read paths a consumer would actually use. Binary Avro framing is
  * covered separately (c14, single-object encoding).
  */
object SourceSinks {
  private type Q = (SparkSession, String) => DataFrame

  /** The roundtripped payload: flat change events (see graft.cdc.Envelope). */
  private def payload(s: SparkSession, d: String): DataFrame =
    graft.cdc.Envelope.flat(Tables.events(s, d))

  /** Write payload as `format`, read it back, aggregate per op. The stats
    * are chosen to be type-sensitive: micros of max tx_at catches timestamp
    * precision loss, sum(value) catches double mangling, the pk sums catch
    * null handling (CSV/JSON null vs empty).
    */
  /** Type-sensitive per-op stats: micros of max tx_at catches timestamp
    * precision loss, sum(value) catches double mangling, the pk sums
    * catch null handling (CSV/JSON null vs empty).
    */
  private def stats(df: DataFrame): DataFrame =
    df.groupBy(col("op"))
      .agg(count(lit(1)).as("n"),
        max("lsn_long").as("max_lsn"),
        unix_micros(max("tx_at")).as("max_tx_at_us"),
        round(sum("value"), 2).as("sum_value"),
        sum("pk_before").as("sum_pk_before"),
        sum("pk_after").as("sum_pk_after"),
        count(col("after_value")).as("n_after"))
      .orderBy("op")

  /** Recursive delete with the walk stream closed (Files.walk leaks a
    * directory handle per call otherwise). Public so specs share the
    * non-leaking cleanup instead of re-walking.
    */
  def deleteDir(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Materialize a (tiny) final aggregate eagerly, then delete `dir` —
    * without this, every bench/verify run leaked a full copy of the
    * roundtripped event stream in /tmp. The delete runs even when the
    * collect throws.
    */
  private def materializeThenCleanup(s: SparkSession, agg: DataFrame, dir: Path): DataFrame =
    try {
      val rows = agg.collect().toSeq.asJava
      s.createDataFrame(rows, agg.schema)
    } finally deleteDir(dir)

  private def statsThenCleanup(s: SparkSession, read: DataFrame, dir: Path): DataFrame =
    materializeThenCleanup(s, stats(read), dir)

  /** Scratch dirs that must outlive their call (a returned lazy plan
    * scans them, so deleting eagerly would race the consumer) register
    * here and are deleted by ONE JVM shutdown hook — repeated gate runs
    * no longer accumulate `graft_cdcsink*` dirs (round-8 advice).
    */
  private val scratchAtExit = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchAtExit.forEach { p =>
      try deleteDir(p) catch { case _: Throwable => () }
    }))
  def cleanupOnExit(dir: Path): Path = { scratchAtExit.add(dir); dir }

  /** Land a (small) frame as exactly ONE parquet file at `target` — the
    * explicit-arrival step every file-source streaming fixture uses
    * (d11/s15/s19: land only after the previous batch drained; mtime
    * ordering is NOT a file-source contract — s11 observed it breaking).
    * One definition so the single-file dance stays in one place.
    */
  def landSingleParquet(df: DataFrame, target: Path): Unit = {
    val sub = Files.createTempDirectory(target.getFileName.toString + "_w")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val listing = Files.list(sub)
      val parquet = try {
        listing.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      } finally listing.close()
      Files.move(parquet, target)
    } finally deleteDir(sub)
  }

  private def roundtrip(s: SparkSession, d: String, format: String,
      writeOpts: Map[String, String] = Map.empty,
      readOpts: Map[String, String] = Map.empty): DataFrame = {
    val df = payload(s, d)
    val dir = Files.createTempDirectory(s"graft_$format")
    df.write.options(writeOpts).mode("overwrite").format(format).save(dir.toString)
    statsThenCleanup(s,
      s.read.options(readOpts).schema(df.schema).format(format).load(dir.toString), dir)
  }

  // x01: ORC sink + source (columnar twin of parquet — same predicate
  // pushdown and column pruning at the scan).
  val x01_orc_roundtrip: Q = (s, d) => roundtrip(s, d, "orc")

  // x02: JSON-lines sink + source. Timestamps carried as ISO-8601 with
  // explicit micros; the read supplies the schema (no inference pass,
  // which would double-scan at 100 TB).
  val x02_json_roundtrip: Q = (s, d) => roundtrip(s, d, "json",
    writeOpts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
    readOpts = Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))

  // x03: CSV sink + source, header on, explicit timestamp format and
  // empty-string ↔ null discipline.
  val x03_csv_roundtrip: Q = (s, d) => roundtrip(s, d, "csv",
    writeOpts = Map("header" -> "true",
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"),
    readOpts = Map("header" -> "true",
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))

  // x10: Avro OBJECT CONTAINER FILE sink + source (graft.sources.AvroFiles)
  // — the batch-file twin of the single-object wire codec: self-describing
  // header schema + snappy sync blocks, encoded one file per partition
  // (distributed, per-partition DatumWriter), read back via a binaryFile
  // scan driven by each file's EMBEDDED schema. Same lossless-stats oracle
  // as x01–x03: a hash match proves the container roundtrip preserves
  // timestamps (micros), doubles, and nulls exactly.
  val x10_avro_roundtrip: Q = (s, d) => {
    val df = payload(s, d)
    val dir = Files.createTempDirectory("graft_avrofile")
    AvroFiles.write(df, dir.toString, "flat_event")
    statsThenCleanup(s, AvroFiles.read(s, dir.toString, df.schema), dir)
  }

  /** x11 engine: land `df` as a 64-file landing zone, compact it to
    * size-targeted files, and return (compacted reader, files before,
    * files after). Exposed so the spec can assert the file-count
    * geometry; the query wraps it with the lossless-stats oracle.
    */
  def compactionRun(s: SparkSession, df: DataFrame, targetBytes: Long):
      (DataFrame, Int, Int, Path) = {
    val dir = Files.createTempDirectory("graft_compact")
    val landing = dir.resolve("landing"); val compacted = dir.resolve("compacted")
    df.repartition(64).write.parquet(landing.toString)
    def parquetFiles(p: Path): Seq[Path] = {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      } finally walk.close()
    }
    val landed = parquetFiles(landing)
    val totalBytes = landed.map(Files.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    s.read.parquet(landing.toString)
      .repartition(nOut).write.parquet(compacted.toString)
    (s.read.parquet(compacted.toString),
      landed.size, parquetFiles(compacted).size, dir)
  }

  // x11: SMALL-FILE COMPACTION — the lakehouse maintenance pass a 100 TB
  // streaming ingest cannot live without: a landing zone of many tiny
  // files (one per micro-batch/partition writer) rewritten into
  // size-targeted files. File count is computed from the ACTUAL landed
  // bytes (ceil(total/target) — the bin-packing rule); content must
  // survive byte-exactly, which is what the lossless-stats oracle
  // checks. The spec pins the geometry: 64 files in, ceil-target out.
  val x11_compaction: Q = (s, d) => {
    val (compacted, _, _, dir) =
      compactionRun(s, payload(s, d), targetBytes = 1L << 20)
    statsThenCleanup(s, compacted, dir)
  }

  // x12: SCHEMA EVOLUTION ON READ — the file-side twin of c17/c24's Avro
  // evolution: a landing zone whose early files were written by a v1
  // writer (no `region` column) and later files by a v2 writer (with
  // it), read back as ONE table via parquet mergeSchema — v1 rows
  // surface the evolved column as null, exactly the Avro null-default
  // resolution rule. The oracle recomputes the same union from the
  // original table, so the hash match pins the merge semantics.
  val x12_schema_merge: Q = (s, d) => {
    val df = payload(s, d)
    val v2col = when(col("pk_after").isNotNull,
      concat(lit("r"), (col("pk_after") % 4).cast("string")))
    val dir = Files.createTempDirectory("graft_merge")
    // v1 writer: the first WAL half, pre-evolution schema
    df.filter(col("lsn_long") % 2 === 0)
      .write.parquet(dir.resolve("w1").toString)
    // v2 writer: the rest, with the evolved `region` column
    df.filter(col("lsn_long") % 2 =!= 0).withColumn("region", v2col)
      .write.parquet(dir.resolve("w2").toString)
    val merged = s.read.option("mergeSchema", "true")
      .parquet(dir.resolve("w1").toString, dir.resolve("w2").toString)
    val agg = merged.groupBy(col("op"), col("region"))
      .agg(count(lit(1)).as("n"),
        max("lsn_long").as("max_lsn"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("op", "region")
    materializeThenCleanup(s, agg, dir)
  }

  /** Per-row-group [min, max] day spans of `dateCol` across every parquet
    * footer under `dir` — the statistics a scan's row-group skipping
    * reads. Footer-only: no data pages are touched.
    */
  def rowGroupDateSpans(s: SparkSession, dir: Path, dateCol: String): Seq[Int] = {
    // the driver only LISTS; the footer reads fan out over the executors —
    // at 100 TB a table is O(10⁵) files and a sequential driver-side footer
    // sweep is the audit's own bottleneck. Only one int per row group comes
    // back. (Executors open the local/dfs path with a fresh Configuration.)
    val walk = Files.walk(dir)
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
    } finally walk.close()
    val nSlices = math.max(1, math.min(files.length, 32))
    s.sparkContext.parallelize(files, nSlices).flatMap { p =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == dateCol)
            .getOrElse(throw new IllegalArgumentException(s"no column $dateCol"))
          val st = c.getStatistics
          st.genericGetMax.asInstanceOf[Integer] -
            st.genericGetMin.asInstanceOf[Integer]
        }
      } finally rd.close()
    }.collect().toSeq
  }

  // x13 (rows-only; spec: sorted spans ≪ natural spans): SORTED DATA
  // LAYOUT — the data-clustering pass behind row-group skipping at
  // 100 TB: the same rows written in natural order vs range-partitioned
  // + sorted by ship date, then judged by the parquet FOOTER statistics
  // a date-filtered scan would prune with. Narrow per-row-group [min,
  // max] spans are what turn a predicate into skipped I/O; the operator
  // reports the span profile of both layouts side by side.
  val x13_sorted_layout: Q = (s, d) => {
    import s.implicits._
    // ship date as date32 so the footer statistics are epoch-day ints
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("l_shipdate"),
        col("l_quantity"))
    val dir = Files.createTempDirectory("graft_layout")
    try {
      li.write.parquet(dir.resolve("natural").toString)
      li.repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.parquet(dir.resolve("sorted").toString)
      Seq("natural", "sorted").flatMap { layout =>
        val spans = rowGroupDateSpans(s, dir.resolve(layout), "l_shipdate")
        Seq((layout, spans.length.toLong, spans.sum.toDouble / spans.length,
          spans.max.toLong))
      }.toDF("layout", "n_rowgroups", "avg_span_days", "max_span_days")
        .withColumn("avg_span_days", round(col("avg_span_days"), 2))
        .orderBy("layout")
    } finally deleteDir(dir)
  }

  /** Per-row-group (colA span, colB span, colA min/max, colB min/max)
    * from the parquet footers — x13's reader widened to two integer
    * columns (stats surface as Integer or Long depending on the
    * physical type; both are read as Long). Footer reads fan out over
    * executors; only a few longs per row group come back.
    */
  def rowGroupSpans2(s: SparkSession, dir: Path, colA: String, colB: String)
      : Seq[(Long, Long, Long, Long)] = {
    val walk = Files.walk(dir)
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
    } finally walk.close()
    val nSlices = math.max(1, math.min(files.length, 32))
    s.sparkContext.parallelize(files, nSlices).flatMap { p =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          def mm(name: String): (Long, Long) = {
            val c = b.getColumns.asScala.find(_.getPath.toDotString == name)
              .getOrElse(throw new IllegalArgumentException(s"no column $name"))
            (c.getStatistics.genericGetMin.asInstanceOf[Number].longValue,
              c.getStatistics.genericGetMax.asInstanceOf[Number].longValue)
          }
          val (aMin, aMax) = mm(colA); val (bMin, bMax) = mm(colB)
          (aMin, aMax, bMin, bMax)
        }
      } finally rd.close()
    }.collect().toSeq
  }

  /** 32-bit Z-value (Morton code) of two 16-bit dimensions — bit i of
    * each input lands at output bits 2i/2i+1. Pure shift/mask column
    * arithmetic, fully codegen'd.
    */
  def zvalue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      (shiftrightunsigned(a.cast("long"), i).bitwiseAND(1) * lit(1L << (2 * i))) +
        (shiftrightunsigned(b.cast("long"), i).bitwiseAND(1) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  // x15 (rows-only; spec: z-order prunes BOTH dimensions, single-sort
  // prunes only one; content lossless): Z-ORDER DATA CLUSTERING — the
  // multi-dimensional layout pass (Delta OPTIMIZE ZORDER BY / Iceberg
  // sort-order shape) behind row-group skipping when scans filter on
  // MORE than one column. The same events written (a) range-sorted by
  // day only (x13's single-dimension discipline) and (b) ordered by the
  // Morton interleave of (user_id, day). Judged by the parquet footer
  // min/max stats: for each layout the operator reports, per dimension,
  // the fraction of row groups a point predicate can prune (averaged
  // over 16 deterministic probe values). Day-sorting prunes day
  // predicates perfectly and user predicates NOT AT ALL; the z-layout
  // prunes both — which is why a 100 TB table filtered on several
  // columns is z-clustered, not sorted.
  val x15_zorder_layout: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
    val dir = Files.createTempDirectory("graft_zorder")
    try {
      val n = 8
      val (uLo, uHi) = {
        val r = ev.agg(min("user_id"), max("user_id")).head()
        (r.getLong(0), r.getLong(1))
      }
      ev.repartitionByRange(n, col("day"), col("event_id"))
        .sortWithinPartitions(col("day"))
        .write.parquet(dir.resolve("sorted_day").toString)
      // both dimensions NORMALIZED to a common 8-bit scale before the
      // interleave (the rank/quantile step every production z-order
      // runs): raw interleaving lets the wider-ranged column's high bits
      // dominate the curve and the narrow column stops clustering at all
      ev.withColumn("z", zvalue(
          (col("user_id") - uLo) * 255 / math.max(uHi - uLo, 1L),
          col("day") * 255 / 29))
        .repartitionByRange(n, col("z"), col("event_id"))
        .sortWithinPartitions(col("z"))
        .drop("z")
        .write.parquet(dir.resolve("zorder").toString)
      val nRows = ev.count()
      val probesU = (0 until 16).map(i => uLo + (uHi - uLo) * (2 * i + 1) / 32)
      val probesD = (0 until 16).map(i => (i * 30L + 1) / 16)
      Seq("sorted_day", "zorder").map { layout =>
        val spans = rowGroupSpans2(s, dir.resolve(layout), "user_id", "day")
        // a probe prunes a row group iff it falls outside [min, max]
        def pruneFrac(probes: Seq[Long], mm: ((Long, Long, Long, Long)) => (Long, Long)) =
          probes.map { p =>
            spans.count { sp => val (lo, hi) = mm(sp); p < lo || p > hi }
          }.sum.toDouble / (probes.length * spans.length)
        val lossless = s.read.parquet(dir.resolve(layout).toString).count() == nRows
        (layout, spans.length.toLong,
          math.rint(pruneFrac(probesU, sp => (sp._1, sp._2)) * 1000) / 1000,
          math.rint(pruneFrac(probesD, sp => (sp._3, sp._4)) * 1000) / 1000,
          lossless)
      }.toDF("layout", "n_rowgroups", "user_prune_frac", "day_prune_frac",
        "lossless")
        .orderBy("layout")
    } finally deleteDir(dir)
  }

  // x04: STREAMING parquet sink — the WAL stream written by a real
  // Structured Streaming query (append mode, checkpointed, exactly-once
  // file commit protocol), then the sink directory read back and
  // aggregated. Same lossless-stats oracle as the batch roundtrips:
  // a hash match proves the streaming file sink loses nothing. This is
  // the landing-zone edge of a production CDC pipeline (NATS → files).
  val x04_stream_parquet_sink: Q = (s, d) => {
    val raw = graft.Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
    val flat = graft.cdc.Envelope.flat(stream)
    val dir = Files.createTempDirectory("graft_ssink")
    val q = flat.writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    statsThenCleanup(s, s.read.schema(flat.schema).parquet(s"$dir/out"), dir)
  }

  /** Write orders+lineitem bucketed (and sorted) by the join key into
    * `dir`, registered as catalog tables `graft_orders_b`/`graft_lineitem_b`
    * — the §7 "bucketed-write utility" for repeated-key joins: both scans
    * report the same hash clustering, so every subsequent join on the key
    * runs with ZERO shuffle and zero sort (at 100 TB the win is per-query:
    * pay the clustering once at landing, never again).
    */
  def writeBucketed(s: SparkSession, d: String, dir: Path, buckets: Int = 8): Unit = {
    s.sql("DROP TABLE IF EXISTS graft_orders_b")
    s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    Tables.orders(s, d).write.format("parquet")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/orders").mode("overwrite")
      .saveAsTable("graft_orders_b")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_quantity")
      .write.format("parquet")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/lineitem").mode("overwrite")
      .saveAsTable("graft_lineitem_b")
  }

  /** The shuffle-free join over the bucketed tables (plan shape asserted
    * in SourcesSpec: no Exchange below the aggregate).
    */
  def bucketedJoin(s: SparkSession): DataFrame =
    s.table("graft_lineitem_b")
      .join(s.table("graft_orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      // exact 1e-4-grid fold + half-up to cents (the q01 sf5 lesson:
      // priority-cell revenue crosses the fp half-cent noise floor)
      .agg(count(lit(1)).as("n_items"),
        sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as bigint)"))
          .as("s4"))
      .select(col("o_orderpriority"), col("n_items"),
        (expr("(2 * s4 + 100) div 200") / 100.0).as("revenue"))
      .orderBy("o_orderpriority")

  // x05: bucketed-write + co-located join end-to-end; result verified
  // against the plain-join oracle (bucketing must not change the answer),
  // tables and files cleaned up after the (tiny) aggregate materializes.
  val x05_bucketed_join: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_bucketed")
    writeBucketed(s, d, dir)
    try {
      val agg = bucketedJoin(s)
      val rows = agg.collect().toSeq.asJava
      s.createDataFrame(rows, agg.schema)
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_orders_b")
      s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      deleteDir(dir)
    }
  }

  /** Write the flat event stream day-partitioned under `dir` and return
    * the partitioned reader — the 100 TB landing layout (one directory
    * per day, partition column recovered from the path).
    */
  def writeDayPartitioned(s: SparkSession, d: String, dir: Path): DataFrame = {
    payload(s, d).withColumn("day", to_date(col("tx_at")))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/events_by_day")
    s.read.parquet(s"$dir/events_by_day")
  }

  /** The DPP join: fact (partitioned by day) ⋈ a runtime-computed dim of
    * the days in the stream's first window (the "reprocess a date range
    * discovered from a watermark" pattern). The dim's plain comparison
    * predicate is what lets Catalyst plant the DynamicPruningSubquery on
    * the partitioned scan — `isLikelySelective` accepts BinaryComparison
    * but NOT the CASE WHEN an op-derivation filter would optimize into,
    * and an aggregate alone never qualifies. Only the matching
    * day-directories are read — asserted in SourcesSpec.
    */
  def dppJoin(s: SparkSession, d: String, fact: DataFrame): DataFrame = {
    val dim = payload(s, d)
      .filter(col("tx_at") < lit("2024-01-06").cast("timestamp"))
      .select(to_date(col("tx_at")).as("day"))
      .distinct()
    fact.join(dim, "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        max("lsn_long").as("max_lsn"))
      .orderBy("day")
  }

  // x07: day-partitioned layout + DYNAMIC partition pruning — at 100 TB
  // the fact table lives partitioned by day, and a join against a
  // selective runtime-computed dim must scan ONLY the matching
  // partitions (partition filter discovered from the dim side at
  // execution, not analysis). Result verified against the plain oracle
  // (pruning must not change the answer); the plan shape — a
  // dynamicpruning partition filter on the scan and ≤3 partitions read
  // — is asserted in SourcesSpec.
  val x07_partition_pruning: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_dpp")
    try {
      val agg = dppJoin(s, d, writeDayPartitioned(s, d, dir))
      val rows = agg.collect().toSeq.asJava
      s.createDataFrame(rows, agg.schema)
    } finally deleteDir(dir)
  }

  /** Skewed fact/dim pair: ~60% of fact rows share hot key 0, the rest
    * spread over user ids; dim = one row per key.
    */
  def skewedSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // spread the 1-file scan first: AQE splits a skewed partition at
    // MAPPER-block granularity, so a single-map-task input is
    // unsplittable no matter how skewed (at cluster scale the file
    // count provides the mappers automatically)
    val fact = Tables.events(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(when(col("event_id") % 10 < 6, 0L)
        .otherwise(col("user_id")).as("k"), col("value"))
    // identity rekey (pmod(k+P, P) ≡ k for these ids), opaque to Catalyst:
    // a production dim comes from its own table and reaches the join
    // through a plain exchange; this synthetic dim derives from the fact,
    // and without the rekey the distinct's partitioning satisfies the
    // join, leaving an AGGREGATE (not a shuffle stage) under the join —
    // a shape OptimizeSkewedJoin cannot split.
    val P = 1000003L
    val dim = fact.select(col("k")).distinct()
      .select(pmod(col("k") + P, lit(P)).as("k"))
      .withColumn("tag", concat(lit("g"), (col("k") % 7).cast("string")))
    (fact, dim)
  }

  /** The skewed aggregate join (shared by x08 and its spec). */
  def skewJoinAgg(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, "k")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("tag")

  // x08: AQE SKEW-JOIN — a planted hot key (60% of the fact) through a
  // sort-merge join with AQE's skew handling forced on at test-size
  // thresholds: the runtime splits the oversized partition into chunks
  // and replicates the matching dim rows, so one reducer no longer
  // owns 60% of the data. This is what saves the q30-style salting at
  // 100 TB when the skew is not known in advance. Result must equal the
  // plain join (the oracle runs unsalted SQL); the split plan
  // (skew=true) is asserted in SourcesSpec.
  val x08_aqe_skew_join: Q = (s, d) => {
    val conf = s.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      val (fact, dim) = skewedSides(s, d)
      val agg = skewJoinAgg(fact, dim)
      val rows = agg.collect().toSeq.asJava
      s.createDataFrame(rows, agg.schema)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // x16: snapshot time travel — the lakehouse table-format contract
  // (Iceberg/Delta shape) on plain parquet: immutable data files + a
  // versioned MANIFEST (itself parquet) listing which files each
  // snapshot comprises. Commit 2 "updates" the odd-key half via
  // copy-on-write: its fileset is replaced by a rewritten one, nothing
  // is mutated, and version 1 stays readable forever. read-as-of(v) =
  // scan exactly the manifest's files for v — the only driver-side step
  // is reading the manifest (bounded metadata: file paths, not rows),
  // exactly as real table formats do. At 100 TB the same layout holds:
  // snapshots share unchanged files, a commit touches only rewritten
  // filesets, and old versions are GC'd by dropping unreferenced paths.
  // Oracle: v1 ≡ orders; v2 ≡ orders with the odd-key copy-on-write
  // transform applied — both recomputable in SQL from the source table.
  val x16_time_travel: Q = (s, d) => {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_ttravel")
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/B")
    // commit 2: copy-on-write rewrite of fileset B (+10.00 surcharge —
    // a 2-decimal-exact adjustment, so no per-row rounding whose
    // half-even/half-up mode the oracle engine could disagree on)
    s.read.parquet(s"$dir/B")
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      .write.mode("overwrite").parquet(s"$dir/C")
    Seq((1, "A"), (1, "B"), (2, "A"), (2, "C")).toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    def readAsOf(v: Int): DataFrame = {
      val filesets = s.read.parquet(s"$dir/manifest")
        .filter(col("version") === v).select("fileset")
        .collect().map(_.getString(0)).sorted // bounded: manifest metadata
      s.read.parquet(filesets.map(f => s"$dir/$f"): _*)
    }
    val out = Seq(1, 2).map { v =>
      readAsOf(v).agg(
        count(lit(1)).as("n_rows"),
        // corpus-total money in EXACT INTEGER CENTS: at sf5 the raw
        // double sum sits near 2e12 where parallel-order fp error
        // exceeds the half-cent, so round(sum(price),2) flips vs the
        // oracle's sequential sum (caught by the r15 sf5 gate)
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
          .as("sum_price"),
        sum((col("o_orderstatus") === "O").cast("long")).as("n_open"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"), col("n_open"))
    }.reduce(_ union _).orderBy("version")
    materializeThenCleanup(s, out, dir)
  }

  // x17: MERGE INTO (upsert) as a batch copy-on-write operator — the
  // standard warehouse maintenance statement: WHEN MATCHED update the
  // balance, WHEN NOT MATCHED insert the new account, unmatched target
  // rows carry over unchanged. The plan is ONE full-outer shuffle join
  // on the key (source aggregated first, so both sides are keyed and
  // skew-free); at 100 TB this is the canonical CDC-merge shape and
  // composes with x16's manifest for transactional visibility. Source =
  // 1997 order activity; keys ≡ o_custkey for updates plus a shifted
  // key range (+1,000,000) standing in for accounts that don't exist in
  // the target yet.
  val x17_merge_upsert: Q = (s, d) => {
    // 1% of the 1997 total, computed in INTEGER CENTS (c36's exactness
    // discipline): round(sum·0.01, 2) on doubles hits half-even vs
    // half-up disagreements with the oracle engine at scale (one row in
    // 6M flipped a cent at sf1); truncating integer division cannot.
    val src0 = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100").as("amt_cents"))
      .withColumn("amt", col("amt_cents") / 100.0)
      .drop("amt_cents")
    val src = src0.select(col("o_custkey").as("key"), col("amt"))
      .union(src0.filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select((col("o_custkey") + 1000000L).as("key"), col("amt")))
    Tables.customer(s, d)
      .join(src, col("c_custkey") === col("key"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"),
          concat(lit("Customer#new#"), col("key") - 1000000L)).as("c_name"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("c_mktsegment"),
        round(coalesce(col("c_acctbal"), lit(0.0)) +
          coalesce(col("amt"), lit(0.0)), 2).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** x18 engine: x16's layout plus an ORPHAN fileset (failed-commit
    * leftover), then snapshot expiration (retain only v2) and vacuum
    * (delete every top-level entry the live manifest doesn't reference).
    * Returns (v2 stats row, deleted names, surviving names, dir) so the
    * spec can assert the GC geometry while the query keeps the oracle
    * shape.
    */
  def vacuumRun(s: SparkSession, d: String): (DataFrame, Seq[String], Seq[String], Path) = {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_vacuum")
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/B")
    s.read.parquet(s"$dir/B")
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      .write.mode("overwrite").parquet(s"$dir/C")
    // a failed commit's leftover fileset: written, never referenced
    orders.limit(100).write.mode("overwrite").parquet(s"$dir/D_orphan")
    Seq((1, "A"), (1, "B"), (2, "A"), (2, "C")).toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    // EXPIRE v1: the manifest retains only the latest snapshot...
    val retained = s.read.parquet(s"$dir/manifest").filter(col("version") === 2)
    val live = retained.select("fileset").collect().map(_.getString(0)).toSet
    retained.repartition(1).write.mode("overwrite").parquet(s"$dir/manifest2")
    deleteDir(Paths.get(s"$dir/manifest"))
    Files.move(Paths.get(s"$dir/manifest2"), Paths.get(s"$dir/manifest"))
    // ...VACUUM: GC every unreferenced top-level entry (B, D_orphan)
    val entries = Files.list(dir)
    val names = try entries.iterator().asScala.map(_.getFileName.toString).toSeq
      finally entries.close()
    val dead = names.filterNot(n => live(n) || n == "manifest").sorted
    dead.foreach(n => deleteDir(Paths.get(s"$dir/$n")))
    val out = s.read.parquet(live.toSeq.sorted.map(f => s"$dir/$f"): _*)
      .agg(count(lit(1)).as("n_rows"),
        // exact integer cents — the x16 sf5 half-cent lesson
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
          .as("sum_price"),
        sum((col("o_orderstatus") === "O").cast("long")).as("n_open"))
      .select(lit(2).as("version"), col("n_rows"), col("sum_price"), col("n_open"))
    (out, dead, names.filterNot(dead.contains).sorted, dir)
  }

  // x18: SNAPSHOT EXPIRATION + VACUUM — the GC half of x16's table
  // format (Delta VACUUM / Iceberg expire_snapshots + remove_orphan_files):
  // dropping v1 from the manifest makes its exclusive files unreferenced;
  // the vacuum deletes them plus the orphan from a failed commit — and
  // the surviving snapshot must still read EXACTLY right afterwards,
  // which is what the oracle checks (v2 ≡ the declared rewrite of
  // orders). Driver-side work is path metadata only, like x16.
  val x18_snapshot_expire: Q = (s, d) => {
    val (out, _, _, dir) = vacuumRun(s, d)
    materializeThenCleanup(s, out, dir)
  }

  // x19: CDC → TABLE-FORMAT ingestion — the composition a lakehouse
  // ingestion service actually runs (creek's consumer feeding an
  // Iceberg/Delta table): the WAL stream lands in two commits against
  // x16's manifest layout. Commit 1 applies the first half of the
  // stream into an immutable fileset; commit 2 folds the second half
  // onto it copy-on-write and swaps the manifest atomically. Carried
  // rows die under a commit-2 truncate exactly as a full replay would
  // kill them, so read-as-of(v2) must hash-match c04's full-replay
  // replica — which IS the oracle. Scale: the replica never touches
  // the driver (c33 discipline — the returned plan is a file scan over
  // the committed fileset); the merge is ONE keyed aggregation (the
  // Apply fold); manifest reads are bounded path metadata.
  val x19_cdc_table_sink: Q = (s, d) => {
    import s.implicits._
    val dir = cleanupOnExit(Files.createTempDirectory("graft_cdcsink"))
    // Commit protocol (Iceberg version-hint shape): each commit writes a
    // NEW immutable manifest directory, then ATOMIC_MOVEs a one-line
    // pointer file onto `_current` — a reader always resolves a complete
    // manifest (old or new), never a window with none (round-8 advice:
    // the previous delete-then-move left exactly that window).
    def commit(manifestDir: String): Unit = {
      val tmp = Files.write(dir.resolve(s"_current.tmp"),
        manifestDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve("_current"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def currentManifest(): String = dir.resolve(
      new String(Files.readAllBytes(dir.resolve("_current")),
        java.nio.charset.StandardCharsets.UTF_8)).toString
    val flat = graft.cdc.Envelope.flat(Tables.events(s, d))
    // the commit boundary: one scalar of bounded metadata
    val mid = flat.agg(((min(col("lsn_long")) + max(col("lsn_long"))) / 2)
      .cast("long").as("m")).collect()(0).getLong(0)
    val batch1 = flat.filter(col("lsn_long") <= mid)
    val batch2 = flat.filter(col("lsn_long") > mid)
    graft.cdc.Apply.latest(batch1)
      .select(col("pk"), col("last_value"), col("last_ord"))
      .write.mode("overwrite").parquet(s"$dir/A")
    Seq((1, "A")).toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest_v1")
    commit("manifest_v1")
    // commit 2 folds batch2 onto fileset A (its rows re-enter as
    // upserts at their own ord; batch2's truncate cuts them too)
    graft.cdc.Apply.fold(batch2,
        Some(s.read.parquet(s"$dir/A").withColumn("last_op", lit("c"))))
      .filter(col("last_op") =!= "d")
      .select(col("pk"), col("last_value"), col("last_ord"))
      .write.mode("overwrite").parquet(s"$dir/B")
    Seq((1, "A"), (2, "B")).toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest_v2")
    commit("manifest_v2")
    val live = s.read.parquet(currentManifest())
      .filter(col("version") === 2).select("fileset")
      .collect().map(_.getString(0)).sorted // bounded: manifest metadata
    // the dir outlives the call — the returned plan lazily scans the
    // committed fileset (deleting it here would race the driver compare);
    // the shutdown hook reclaims it at JVM exit
    s.read.parquet(live.map(f => s"$dir/$f"): _*)
      .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      .orderBy("pk")
  }

  // x21: INCREMENTAL CHANGED-FILE scan — the Delta Change-Data-Feed /
  // Iceberg incremental-read contract over x16's manifest layout: the
  // row-level change set between two snapshots computed from ONLY the
  // filesets the commit touched, never a full-snapshot diff (c40 is the
  // state-diff twin that reads both snapshots; at 100 TB the whole
  // point of a table format is that commit 2 touched 1 fileset of
  // 10,000 and the CDF reader scans just it). Commit 2 rewrites fileset
  // B copy-on-write into C (surcharge on surviving rows, a planted
  // delete stripe, a planted insert stripe), so changed = {B removed,
  // C added}; one keyed full-outer join of pre(B) vs post(C) emits
  // insert / delete / update_preimage / update_postimage rows (Delta
  // CDF vocabulary). The unchanged fileset A never appears in the plan
  // (spec asserts the scan paths). Lazy result scans the table dirs —
  // scratch reclaimed by the shutdown hook, x19's discipline.
  val x21_incremental_scan: Q = (s, d) => {
    import s.implicits._
    val dir = cleanupOnExit(Files.createTempDirectory("graft_cdf"))
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/B")
    val b = s.read.parquet(s"$dir/B")
    // commit 2 = copy-on-write of B: +10.00 surcharge on survivors,
    // key%3==0 stripe deleted, key%5==0 stripe re-landed as new accounts
    b.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      .unionByName(b.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
      .write.mode("overwrite").parquet(s"$dir/C")
    Seq((1, "A"), (1, "B"), (2, "A"), (2, "C")).toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    // manifest diff: bounded path metadata on the driver, like x16
    def filesOf(v: Int): Set[String] = s.read.parquet(s"$dir/manifest")
      .filter(col("version") === v).select("fileset")
      .collect().map(_.getString(0)).toSet
    val (v1, v2) = (filesOf(1), filesOf(2))
    val removed = (v1 -- v2).toSeq.sorted
    val added = (v2 -- v1).toSeq.sorted
    val pre = s.read.parquet(removed.map(f => s"$dir/$f"): _*)
      .select(col("o_orderkey"), col("o_totalprice").as("pre_price"))
    val post = s.read.parquet(added.map(f => s"$dir/$f"): _*)
      .select(col("o_orderkey"), col("o_totalprice").as("post_price"))
    pre.join(post, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"), explode(
        when(col("pre_price").isNull, array(struct(
          lit("insert").as("change_type"), col("post_price").as("price"))))
        .when(col("post_price").isNull, array(struct(
          lit("delete").as("change_type"), col("pre_price").as("price"))))
        .otherwise(array(
          struct(lit("update_preimage").as("change_type"),
            col("pre_price").as("price")),
          struct(lit("update_postimage").as("change_type"),
            col("post_price").as("price"))))).as("c"))
      .select(col("o_orderkey"), col("c.change_type").as("change_type"),
        round(col("c.price"), 2).as("o_totalprice"))
      .orderBy("o_orderkey", "change_type")
  }

  /** The columns x22 profiles (lineitem's non-varchar surface; shared by
    * the Spark lane and the generated oracle so the lists can't drift).
    */
  private[graft] val statsColumns: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")

  // x22: ANALYZE-style TABLE STATISTICS — the catalog-stats collection
  // every cost-based optimizer (and every lakehouse commit) runs: per
  // column null count, exact NDV, min and max, in ONE aggregation pass
  // over the fact table (Catalyst plans the 9 exact count-distincts as
  // a single Expand + two-stage aggregate — one shuffle, map-side
  // partials; timestamps profile as epoch-micros so min/max stay one
  // uniform DOUBLE schema). The long-format pivot is a zero-shuffle
  // stack() over the 1-row wide result. At 100 TB the exact NDV swaps
  // for approx_count_distinct's HLL partials (q32's sketch discipline)
  // and the Expand factor disappears — same plan otherwise; these are
  // exactly the footer stats x13/x15 prune by, computed table-wide.
  val x22_table_stats: Q = (s, d) => {
    def v(c: String): org.apache.spark.sql.Column =
      if (c == "l_shipdate") // NTZ micros under the UTC session = DuckDB's naive epoch_us
        unix_micros(col(c).cast("timestamp")).cast("double")
      else col(c).cast("double")
    val aggs = statsColumns.flatMap { c =>
      Seq(count(when(v(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(v(c)).as(s"${c}__ndv"),
        min(v(c)).as(s"${c}__min"),
        max(v(c)).as(s"${c}__max"))
    }
    val stackArgs = statsColumns.map(c =>
      s"'$c', ${c}__nulls, ${c}__ndv, ${c}__min, ${c}__max").mkString(", ")
    Tables.lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${statsColumns.length}, $stackArgs) AS " +
        "(column_name, n_nulls, n_distinct, min_v, max_v)")
      .orderBy("column_name")
  }

  // x23: DYNAMIC PARTITION OVERWRITE (INSERT OVERWRITE ... PARTITION —
  // the Hive/Delta replaceWhere maintenance shape): a day-partitioned
  // events table gets a correction batch touching every 5th day;
  // partitionOverwriteMode=dynamic replaces EXACTLY the partitions
  // present in the batch and leaves every other partition's files
  // untouched (spec pins untouched file paths byte-identical, touched
  // paths replaced). This is the idempotent-backfill primitive at
  // 100 TB: a re-run of day N's pipeline rewrites day N only, and the
  // per-partition commit is all-or-nothing file swapping — static mode
  // would truncate the whole table first. Output = final per-day
  // rollup; the oracle recomputes the expected post-overwrite state.
  val x23_partition_overwrite: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_dpo")
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        to_date(col("ts")).as("day"))
    ev.write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
    val upd = ev
      .filter(pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(5)) === 0)
      .withColumn("value", col("value") + 1.0)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
    try upd.write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
    finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val out = s.read.parquet(s"$dir/t")
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        sum("user_id").as("sum_user"))
      .orderBy("day")
    materializeThenCleanup(s, out, dir)
  }

  /** x24's engine, returning the bloom-filtered fact row count next to
    * the corpus count so the spec can pin the shuffle-volume cut.
    */
  def bloomJoinRun(s: SparkSession, d: String): (DataFrame, (Long, Long)) = {
    import s.implicits._
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_orderdate"))
    val nKeys = dim.count()
    // distributed bloom aggregate over the join keys, ONE compact bitset
    // to the driver, broadcast as bytes (d14's membership discipline) —
    // never the key set itself
    val bloom = dim.stat.bloomFilter("o_orderkey", math.max(nKeys, 1), 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val nFact = fact.count()
    val pre = fact.as[(Long, Double, Double)]
      .mapPartitions { it => val f = bc.value; it.filter(r => f.mightContain(r._1)) }
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
    val nPre = pre.persist().count()
    // revenue in EXACT 1e-4-dollar integers (2dp price × 2dp discount),
    // half-up to cents in pure integer math — a double product-sum +
    // round(·,2) flips engines when the exact sum lands on x.xx5
    // (caught on the planted-effect gate)
    val out = pre.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(month(col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_items"),
        (expr("((sum(cast(round(l_extendedprice * 100) as bigint) * " +
          "(100 - cast(round(l_discount * 100) as bigint))) + 50) div 100)")
          / lit(100.0)).as("revenue"))
      .orderBy("order_month")
    (out, (nPre, nFact))
  }

  // x24: BLOOM-FILTER JOIN PUSHDOWN — Spark's runtime row-level
  // filtering (spark.sql.optimizer.runtime.bloomFilter) made an explicit
  // operator: the selective dim side's join keys fold into a distributed
  // bloom aggregate (one compact bitset through the driver — never the
  // key set), the fact side drops non-members BEFORE the shuffle, the
  // real equi-join then eliminates the bloom's false positives — so the
  // result is provably identical to the plain join (the oracle) while
  // the shuffle carries ~selectivity·|fact| rows instead of all of them.
  // At 100 TB this is the difference between shuffling 3% and 100% of
  // the fact table; fpp 0.01 bounds the waste. Spec pins the volume cut.
  val x24_bloom_join: Q = (s, d) => bloomJoinRun(s, d)._1

  // x25: WRITE-AUDIT-PUBLISH (the Iceberg/Netflix WAP commit workflow —
  // the data-quality gate between landing and visibility): a candidate
  // fileset stages OUTSIDE the manifest, an audit job reads ONLY the
  // staged files (null keys / emptiness), and only a passing audit
  // appends the fileset to the versioned manifest (x16's time-travel
  // store) — readers never see unaudited rows, a failing batch leaves
  // the published version untouched (no cleanup races: rejected files
  // simply never enter the manifest). Commit 2 (clean 1997 surcharge
  // batch) publishes; commit 3 (10% null keys injected) is refused.
  // Output: one row per commit attempt — audit counts, the publish
  // decision, and the reader-visible row count AFTER the attempt; the
  // oracle recomputes all three from the raw table.
  val x25_write_audit_publish: Q = (s, d) => {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_wap")
    val orders = Tables.orders(s, d)
    orders.write.mode("overwrite").parquet(s"$dir/A")
    var manifest = Seq((1, "A"))
    def visibleCount(): Long =
      s.read.parquet(manifest.map { case (_, f) => s"$dir/$f" }.distinct: _*).count()
    def attempt(commit: Int, fileset: String, df: DataFrame): (Int, Long, Long, Boolean, Long) = {
      df.write.mode("overwrite").parquet(s"$dir/$fileset") // staged, unpublished
      val staged = s.read.parquet(s"$dir/$fileset")
      val audit = staged.agg(count(lit(1)).as("n"),
        count(when(col("o_orderkey").isNull, 1)).as("nulls")).head()
      val (n, nulls) = (audit.getLong(0), audit.getLong(1))
      val pass = n > 0 && nulls == 0
      if (pass) manifest = manifest :+ ((commit, fileset))
      (commit, n, nulls, pass, visibleCount())
    }
    val clean = orders.filter(year(col("o_orderdate")) === 1997)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    val dirty = orders.filter(year(col("o_orderdate")) === 1998)
      .withColumn("o_orderkey",
        when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey")))
    val rows = Seq(
      (1, orders.count(), 0L, true, visibleCount()),
      attempt(2, "B", clean),
      attempt(3, "C", dirty))
    val out = rows.toDF("commit", "audited_rows", "null_keys", "published",
      "visible_rows")
      .orderBy("commit")
    materializeThenCleanup(s, out, dir)
  }

  // x26: DELETION VECTORS (merge-on-read position deletes — Delta DVs /
  // Iceberg positional delete files): a delete "commits" as a tiny
  // (file, pos) sidecar instead of rewriting data files. The base
  // orders table lands as two filesets whose rows carry their physical
  // ordinal (the writer records positions as it writes; the fixture's
  // global row_number is construction-time only); the DV is DERIVED BY
  // READING THE COMMITTED LAYOUT (predicate → positions — the
  // DELETE-statement path), and the read is base ⟕anti⟕ DV on
  // (file, pos) — at scale a per-file hash anti-join against a sidecar
  // thousands of times smaller than the data. The oracle recomputes the
  // same predicate-delete directly on orders, so a hash match proves
  // position addressing reconstructs row-predicate semantics exactly.
  val x26_deletion_vectors: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_dv")
    val orders = Tables.orders(s, d)
    Seq(("f0", 0), ("f1", 1)).foreach { case (name, parity) =>
      orders.filter(pmod(col("o_orderkey"), lit(2)) === parity)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("o_orderkey"))
          .cast("long") - 1)
        .withColumn("file", lit(name))
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
    val base = s.read.parquet(s"$dir/f0", s"$dir/f1")
    // the DELETE: status F rows on a key stripe → positions only
    base.filter(col("o_orderstatus") === "F" &&
        pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("file"), col("pos"))
      .write.mode("overwrite").parquet(s"$dir/dv")
    val dv = s.read.parquet(s"$dir/dv")
    val out = base.join(dv, Seq("file", "pos"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        // exact integer cents — the x16 sf5 half-cent lesson
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
          .as("sum_price"),
        sum((pmod(col("o_orderkey"), lit(7)) === 0).cast("long")).as("n_stripe"))
      .orderBy("o_orderstatus")
    materializeThenCleanup(s, out, dir)
  }

  // x27 (rows-only; spec: coverage, global min/max, and the sorted
  // NON-OVERLAP invariant): ROW-GROUP STATISTICS — the parquet footer
  // min/max/count metadata a scan planner prunes row groups with (the
  // sub-file half of x07's partition pruning; x13's sorted layout is
  // exactly what makes these ranges disjoint and therefore prunable).
  // Orders lands sorted by key under an 8 KB parquet.block.size (the
  // writer flushes a group roughly every ~100 rows at that budget, so
  // even the sf0.001 fixture splits); the lane then reads ONLY footers
  // (ParquetFileReader — metadata bytes, x16's discipline: no data
  // pages touched) and exposes each row group's stats as a table. At
  // cluster scale the footer reads distribute per file; driver-side
  // here the whole read is a few KB of metadata.
  val x27_rowgroup_stats: Q = (s, d) => {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_rgstats")
    Tables.orders(s, d)
      .repartition(2, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", 8 * 1024)
      .parquet(dir.toString)
    val conf = s.sparkContext.hadoopConfiguration
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val rows = files.zipWithIndex.flatMap { case (f, ord) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.zipWithIndex.map { case (b, rg) =>
          val keyCol = b.getColumns.asScala
            .find(_.getPath.toDotString == "o_orderkey").get
          val st = keyCol.getStatistics
          (ord, rg, b.getRowCount,
            st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        }.toSeq
      } finally reader.close()
    }
    import s.implicits._
    val out = rows.toDF("file_ord", "rg_idx", "n_rows", "min_key", "max_key")
      .orderBy("file_ord", "rg_idx")
    materializeThenCleanup(s, out, dir)
  }

  /** x28's audit predicate — a 10-day range crossing a month boundary,
    * so day-scheme pruning and month-scheme pruning select different
    * directory sets but identical rows (shared with the oracle).
    */
  val EvoLo = "2024-01-25"
  val EvoHi = "2024-02-04"

  // x28: PARTITION-SPEC EVOLUTION (Iceberg's evolve-partitioning: a
  // table re-partitions day → month WITHOUT rewriting history's
  // guarantees — each manifest version records its own scheme and the
  // reader prunes by whichever scheme its snapshot used). v1 lands
  // day-partitioned, v2 rewrites month-partitioned under a NEW fileset
  // with its own manifest version; the same day-range predicate reads
  // both versions and must agree row-for-row — day pruning selects the
  // 11 range days, month pruning 2 coarser dirs (the spec pins both
  // partition-filter pushdowns via inputFiles). Note the fixture's
  // events span ONE month, so the boundary-crossing range is planted
  // by shifting a key stripe's dates +7 days at land time — both
  // schemes and the oracle see the same shifted frame.
  val x28_partition_evolution: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_pevo")
    // planted frame: shift every 3rd event's ts by +7 days so the data
    // crosses the 2024-01/2024-02 month boundary
    val ev = Tables.events(s, d)
      .withColumn("ts", when(pmod(col("event_id"), lit(3)) === 0,
        col("ts") + expr("INTERVAL 7 DAYS")).otherwise(col("ts")))
      .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .withColumn("month", date_format(to_date(col("ts")), "yyyy-MM"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$dir/v1")
    ev.write.mode("overwrite").partitionBy("month").parquet(s"$dir/v2")
    def audit(version: Int, scheme: String, read: DataFrame): DataFrame = {
      val pruned =
        if (scheme == "day")
          read.filter(col("day") >= EvoLo && col("day") <= EvoHi)
        else
          read.filter(col("month") >= EvoLo.substring(0, 7) &&
            col("month") <= EvoHi.substring(0, 7))
            .filter(date_format(to_date(col("ts")), "yyyy-MM-dd")
              .between(EvoLo, EvoHi))
      pruned.agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
        .select(lit(version).as("version"), lit(scheme).as("scheme"),
          col("n_events"), col("sum_value"))
    }
    val out = audit(1, "day", s.read.parquet(s"$dir/v1"))
      .unionAll(audit(2, "month", s.read.parquet(s"$dir/v2")))
      .orderBy("version")
    materializeThenCleanup(s, out, dir)
  }

  // x29: DECLARATIVE DATA-QUALITY CONSTRAINTS (the Deequ/expectations
  // pattern — the validation gate between ingest and publish, x25's
  // audit step generalized): completeness, uniqueness, range,
  // accepted-values and referential-integrity checks evaluated as
  // AGGREGATES — per table ONE pass computes every row-local metric
  // (conditional sums over a single scan), uniqueness rides a
  // count-vs-distinct pair in the same agg, and the FK check is the
  // lone extra join (an anti-join count). Output = the long-format
  // report a quality dashboard lands: metric value + pass flag per
  // constraint. At 100 TB this is the same one-scan-per-table cost as
  // x22's ANALYZE.
  val x29_quality_constraints: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
      sum((col("l_discount") < 0 || col("l_discount") > 0.1).cast("long"))
        .as("bad_discount"),
      sum((!col("l_returnflag").isin("A", "N", "R")).cast("long"))
        .as("bad_flag"),
      sum((col("l_extendedprice") <= 0).cast("long")).as("bad_price")).head()
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("ndv_pk"),
      sum(col("o_custkey").isNull.cast("long")).as("null_cust")).head()
    val nOrders = oAgg.getAs[Long]("n").toDouble
    val orphans = li.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count()
    import s.implicits._
    val nLi = liAgg.getAs[Long]("n").toDouble
    val report = Seq(
      ("lineitem", "completeness(l_quantity)",
        1.0 - liAgg.getAs[Long]("null_qty") / nLi, 1.0),
      ("lineitem", "range(l_discount in [0, 0.1])",
        1.0 - liAgg.getAs[Long]("bad_discount") / nLi, 1.0),
      ("lineitem", "accepted(l_returnflag in A/N/R)",
        1.0 - liAgg.getAs[Long]("bad_flag") / nLi, 1.0),
      ("lineitem", "positive(l_extendedprice)",
        1.0 - liAgg.getAs[Long]("bad_price") / nLi, 1.0),
      ("lineitem", "referential(l_orderkey -> orders)",
        1.0 - orphans / nLi, 1.0),
      ("orders", "uniqueness(o_orderkey)",
        oAgg.getAs[Long]("ndv_pk") / nOrders, 1.0),
      ("orders", "completeness(o_custkey)",
        1.0 - oAgg.getAs[Long]("null_cust") / nOrders, 1.0))
    report.map { case (t, c, v, thr) =>
      (t, c, java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
        if (v >= thr) 1 else 0) }
      .toDF("table_name", "constraint_name", "metric", "passed")
      .orderBy("table_name", "constraint_name")
  }

  // x30: SNAPSHOT ROLLBACK — the table-format undo: after commit 2
  // rewrote fileset B copy-on-write (+25.00 surcharge on odd keys),
  // commit 3 re-binds the table to commit 1's fileset list. Rollback
  // is METADATA-ONLY — version 3 adds two manifest rows and ZERO data
  // files (at 100 TB it costs one manifest write, which is the whole
  // point of snapshot isolation); commit 2's files stay on disk for
  // time travel until x18-style expiry reclaims them. The read-back
  // proves v3 ≡ v1 content exactly while v2 still serves the rewritten
  // rows.
  val x30_snapshot_rollback: Q = (s, d) => {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_rollback")
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/B")
    s.read.parquet(s"$dir/B")
      .withColumn("o_totalprice", col("o_totalprice") + 25.0)
      .write.mode("overwrite").parquet(s"$dir/C")
    // commit log: v1 = {A,B}; v2 = {A,C}; v3 = ROLLBACK → {A,B} again
    Seq((1, "A"), (1, "B"), (2, "A"), (2, "C"), (3, "A"), (3, "B"))
      .toDF("version", "fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    val manifest = s.read.parquet(s"$dir/manifest")
      .collect().map(r => (r.getInt(0), r.getString(1))) // bounded metadata
    val out = Seq(1, 2, 3).map { v =>
      val filesets = manifest.filter(_._1 == v).map(_._2).sorted
      s.read.parquet(filesets.map(f => s"$dir/$f"): _*)
        .agg(count(lit(1)).as("n_rows"),
          (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
            .as("sum_price"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
          lit(filesets.length.toLong).as("n_filesets"),
          // rollback ⇔ this version's fileset list already appeared at
          // an earlier version (metadata-only commit, no new files)
          lit(manifest.filter(m => m._1 < v).map(_._2).toSet
            .intersect(filesets.toSet).size == filesets.length && v > 1)
            .cast("int").as("is_rollback"))
    }.reduce(_ union _).orderBy("version")
    materializeThenCleanup(s, out, dir)
  }

  // x31: ORPHAN-FILE GC — the missing half of x18's vacuum: x18
  // expires SNAPSHOTS the manifest knows about; orphan GC reclaims
  // filesets the manifest never referenced (a failed commit's leftover
  // write — the write-audit-publish failure mode x25 guards against).
  // Listing is manifest-vs-directory set arithmetic (bounded metadata,
  // one filesystem listing — at 100 TB this is the object-store LIST +
  // anti-join against the manifest, never a data read); the lane
  // deletes the orphan, then PROVES the referenced filesets survived
  // intact by re-reading them, and that the orphan is gone.
  val x31_orphan_gc: Q = (s, d) => {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_orphan")
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/B")
    // the failed commit's leftover: written, never published
    orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .write.mode("overwrite").parquet(s"$dir/C")
    Seq("A", "B").toDF("fileset")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/manifest")
    val referenced = s.read.parquet(s"$dir/manifest")
      .collect().map(_.getString(0)).toSet // bounded metadata
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_ != "manifest").toSeq.sorted
    val preCounts = onDisk.map(f =>
      f -> s.read.parquet(s"$dir/$f").count()).toMap
    val orphans = onDisk.filterNot(referenced)
    orphans.foreach(f => deleteDir(dir.resolve(f)))
    // post-GC proof: referenced filesets re-read intact, orphans gone
    val report = onDisk.map { f =>
      val ref = referenced(f)
      val alive = java.nio.file.Files.exists(dir.resolve(f))
      if (ref) {
        require(alive && s.read.parquet(s"$dir/$f").count() == preCounts(f),
          s"GC touched referenced fileset $f")
      } else require(!alive, s"orphan $f not reclaimed")
      (f, preCounts(f), if (ref) 1 else 0, if (ref) 0 else 1)
    }
    val out = report.toDF("fileset", "n_rows", "referenced", "deleted")
      .orderBy("fileset")
    materializeThenCleanup(s, out, dir)
  }

  // x32: ZERO-COPY SHALLOW CLONE — the table-format branching
  // primitive (Delta SHALLOW CLONE / Iceberg snapshot ref): the clone's
  // manifest POINTS AT the source's data files — creating it moves
  // zero data bytes (at 100 TB: one manifest write, like x30's
  // rollback). The clone then DIVERGES copy-on-write: an append lands
  // a fileset the clone alone owns, the source keeps serving its
  // original content untouched, and ownership (who GCs what — x31's
  // concern) stays explicit in each manifest. Reads resolve manifests
  // to absolute paths; the lane proves isolation in both directions.
  val x32_shallow_clone: Q = (s, d) => {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_clone")
    val orders = Tables.orders(s, d)
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .write.mode("overwrite").parquet(s"$dir/src/A")
    orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .write.mode("overwrite").parquet(s"$dir/src/B")
    Seq(("A", s"$dir/src/A"), ("B", s"$dir/src/B")).toDF("fileset", "path")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/src/manifest")
    // the CLONE: manifest rows reference the SOURCE's files verbatim
    s.read.parquet(s"$dir/src/manifest")
      .write.mode("overwrite").parquet(s"$dir/clone/manifest")
    // copy-on-write divergence: the appended fileset belongs to the clone
    orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .write.mode("overwrite").parquet(s"$dir/clone/C")
    Seq(("C", s"$dir/clone/C")).toDF("fileset", "path")
      .repartition(1).write.mode("append").parquet(s"$dir/clone/manifest")
    def readVia(tbl: String): DataFrame = {
      val paths = s.read.parquet(s"$dir/$tbl/manifest")
        .select("path").collect().map(_.getString(0)).sorted // bounded
      s.read.parquet(paths: _*)
    }
    import scala.jdk.CollectionConverters._
    def owned(tbl: String): Long = {
      val ls = Files.list(java.nio.file.Paths.get(s"$dir/$tbl"))
      try ls.iterator().asScala.count(_.getFileName.toString != "manifest").toLong
      finally ls.close()
    }
    val out = Seq("clone", "source").map { t =>
      val tbl = if (t == "source") "src" else "clone"
      readVia(tbl).agg(count(lit(1)).as("n_rows"),
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
          .as("sum_price"))
        .select(lit(t).as("tbl"), col("n_rows"), col("sum_price"),
          lit(owned(tbl)).as("n_files_owned"))
    }.reduce(_ unionAll _).orderBy("tbl")
    materializeThenCleanup(s, out, dir)
  }

  /** x33's per-file zone-map manifest over a date-clustered layout:
    * one row per data file with its o_orderdate min/max — built with
    * ONE keyed aggregation (not a per-file footer pass), exactly what
    * an Iceberg/Delta writer records at commit time.
    */
  private[graft] def zoneMapLayout(s: SparkSession, d: String, dir: Path)
      : Seq[(String, Int)] = {
    val orders = Tables.orders(s, d)
      .withColumn("yr", year(to_date(col("o_orderdate"))))
    val years = orders.groupBy("yr").agg(count(lit(1)).as("n"))
      .orderBy("yr").collect().map(_.getInt(0)).toSeq // bounded: ≤|years|
    years.foreach { y =>
      landSingleParquet(orders.filter(col("yr") === y).drop("yr"),
        dir.resolve(f"y$y%04d.parquet"))
    }
    years.map(y => (dir.resolve(f"y$y%04d.parquet").toString, y))
  }

  // x33: ZONE-MAP FILE SKIPPING — the manifest-pruned scan (the FILE
  // half of the pruning story: x07 prunes partition DIRECTORIES by
  // path, x27 exposes row-group stats INSIDE a file; this lane prunes
  // whole files from a min/max manifest the way an Iceberg/Delta
  // planner does). Orders land clustered by year; the manifest is one
  // bounded keyed agg recorded at write time (never a post-hoc footer
  // crawl); the query's date range consults ONLY the manifest, and the
  // scan constructor receives just the overlapping files — at 100 TB
  // the cluster never even lists the skipped ones. The spec pins that
  // the executed plan read strictly fewer files than the layout holds
  // and that the answer equals the full-scan filter.
  val x33_zonemap_scan: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_zm")
    val layout = zoneMapLayout(s, d, dir)
    val (fromD, untilD) = ("1995-06-01", "1997-03-01")
    val (fromY, untilY) = (1995, 1997)
    val hit = layout.filter { case (_, y) => y >= fromY && y <= untilY }
      .map(_._1)
    val out = s.read.parquet(hit: _*)
      .filter(col("o_orderdate") >= lit(fromD) && col("o_orderdate") < lit(untilD))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("o_orderstatus")
    materializeThenCleanup(s, out, dir)
  }

  // x34: COPY-ON-WRITE DELETE — the rewrite-based twin of x26's
  // merge-on-read deletion vectors (the two strategies every table
  // format offers; MoR favors write latency, CoW favors read speed).
  // The delete predicate is key-range-shaped; candidate files come
  // from the SAME zone-map manifest x33 scans (min/max overlap — at
  // 100 TB the rewrite set is the manifest hit set, not the table),
  // only those files rewrite (anti-filter), every other byte on disk
  // is untouched, and readers see old-or-new atomically via the
  // x19-style rename. Oracle = the anti-predicate aggregate.
  val x34_cow_delete: Q = (s, d) => {
    val dir = Files.createTempDirectory("graft_cow")
    val layout = zoneMapLayout(s, d, dir)
    // half a year: the candidate file rewrites but keeps its H2 rows —
    // a genuine partial rewrite, not a file drop
    val (delFrom, delUntil) = ("1996-01-01", "1996-07-01")
    val candidates = layout.filter { case (_, y) => y == 1996 }
    candidates.foreach { case (path, _) =>
      val p = java.nio.file.Paths.get(path)
      val tmp = p.resolveSibling(p.getFileName.toString + ".rewrite")
      landSingleParquet(
        s.read.parquet(path).filter(
          !(col("o_orderdate") >= lit(delFrom) &&
            col("o_orderdate") < lit(delUntil))), tmp)
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val out = s.read.parquet(layout.map(_._1): _*)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
        sum((col("o_orderdate") >= lit(delFrom) &&
          col("o_orderdate") < lit(delUntil)).cast("long")).as("n_in_range"))
      .orderBy("o_orderstatus")
    materializeThenCleanup(s, out, dir)
  }

  // x35 (rows-only; spec: every data column present, compressed ≤
  // uncompressed, dictionary on the low-cardinality column): COLUMNAR
  // ENCODING AUDIT — the storage-introspection report an ops team
  // reads before re-laying-out a 100 TB table (x27 exposes row-group
  // STATS for pruning; this exposes per-column ENCODINGS and byte
  // footprints for cost): orders lands as parquet, then ONLY footers
  // are read (metadata bytes, x16's discipline) and each column
  // reports its encodings, dictionary usage, compressed/uncompressed
  // bytes, and compression ratio. At cluster scale footer reads
  // distribute per file; here the whole audit is a few KB of metadata.
  val x35_encoding_audit: Q = (s, d) => {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_encaudit")
    Tables.orders(s, d).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    val conf = s.sparkContext.hadoopConfiguration
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val rows = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala.map { c =>
            (c.getPath.toDotString,
              c.getEncodings.asScala.map(_.name).toSeq.sorted.mkString("+"),
              c.getEncodings.asScala.exists(_.usesDictionary),
              c.getTotalSize, c.getTotalUncompressedSize)
          }
        }.toSeq
      } finally reader.close()
    }
    import s.implicits._
    val out = rows.toDF("column", "encodings", "uses_dictionary",
        "compressed", "uncompressed")
      .groupBy(col("column"))
      .agg(first("encodings").as("encodings"),
        max("uses_dictionary").as("uses_dictionary"),
        sum("compressed").as("compressed_bytes"),
        sum("uncompressed").as("uncompressed_bytes"))
      .withColumn("ratio",
        round(col("compressed_bytes") / col("uncompressed_bytes")
          .cast("double"), 4))
      .orderBy("column")
    materializeThenCleanup(s, out, dir)
  }

  // x36: CLUSTERING ADVISOR — the metadata-only "how well would this
  // layout cluster on the query column?" report (the Iceberg/Delta
  // overlap-depth metric) BEFORE any rewrite: per candidate layout the
  // per-file zone map [min,max] over o_orderdate is one keyed agg (a
  // real planner reads it from the manifest x33 records), and the
  // overlap profile is a +1/−1 sweep over the bounded ≤2F-endpoint
  // axis — max depth = files a point query must open at worst; the
  // span-weighted avg depth prices the average scan. by_year clusters
  // (depth 1), custkey-hash interleaves (depth = F): exactly the
  // contrast x33's skipping exploits and x13/x15 re-layouts fix. At
  // 100 TB this never touches data — only the file-count-bounded
  // manifest.
  val x36_clustering_advisor: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val epoch = lit("1970-01-01").cast("date")
    val base = Tables.orders(s, d)
      .select(datediff(to_date(col("o_orderdate")), epoch).as("day"),
        year(to_date(col("o_orderdate"))).as("yr"), col("o_custkey"))
    def profile(manifest: DataFrame, layout: String): DataFrame = {
      val events = manifest
        .select(col("mn").as("pos"), lit(1L).as("delta"))
        .unionAll(manifest.select((col("mx") + 1).as("pos"),
          lit(-1L).as("delta")))
        .groupBy("pos").agg(sum("delta").as("delta"))
      val w = Window.orderBy("pos")
      val nf = manifest.agg(count(lit(1)).as("n_files"))
      events
        .withColumn("depth", sum("delta").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("span",
          (coalesce(lead("pos", 1).over(w), col("pos")) - col("pos"))
            .cast("long"))
        .agg(max("depth").as("max_depth"),
          round(sum(col("depth") * col("span")) /
            sum("span").cast("double"), 4).as("avg_depth"))
        .crossJoin(broadcast(nf))
        .select(lit(layout).as("layout"), col("n_files"),
          col("max_depth"), col("avg_depth"))
    }
    val byYear = base.groupBy("yr")
      .agg(min("day").as("mn"), max("day").as("mx"))
    val byHash = base.groupBy(pmod(col("o_custkey"), lit(8)).as("h"))
      .agg(min("day").as("mn"), max("day").as("mx"))
    profile(byYear, "by_year")
      .unionAll(profile(byHash, "by_custkey_hash"))
      .orderBy("layout")
  }

  // x37: COMPACTION PLANNER — the metadata-only bin-packing pass an
  // Iceberg/Delta maintenance job runs over small files (x11 EXECUTES
  // a compaction; this PLANS one from manifest stats alone): monthly
  // landed files (size proxy = rows × fixed row width) pack greedily
  // in sort order into ~128 KiB groups via pure cumulative arithmetic
  // — bin = bytes-before div target, so the plan is deterministic and
  // needs NO sequential fold; one row out per planned group. The
  // cumulative window rides the bounded month axis; at 100 TB the
  // input is the file manifest, never the data.
  val x37_compaction_planner: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val files = Tables.orders(s, d)
      .groupBy((year(to_date(col("o_orderdate"))) * 12 +
        month(to_date(col("o_orderdate"))) - 1).as("mon"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bytes", col("n_rows") * 64L)
    val w = Window.orderBy("mon")
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cumb", coalesce(sum("bytes").over(w), lit(0L)))
      .withColumn("bin", expr("cumb div 131072"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
        min("mon").as("first_mon"), max("mon").as("last_mon"))
      .orderBy("bin")
  }

  // x38: FILE-SKIPPING EFFECTIVENESS — x36 scores a layout's overlap
  // depth in the abstract; this prices it against an actual QUERY
  // WORKLOAD: for each candidate predicate range (a month, a quarter,
  // a two-year span) and each layout, the fraction of files a
  // zone-map planner would skip. Pure manifest arithmetic on the
  // bounded file×predicate axis — the report that justifies an x13/
  // x15 re-layout before paying for it. Never touches data.
  val x38_skip_effectiveness: Q = (s, d) => {
    val epoch = lit("1970-01-01").cast("date")
    val base = Tables.orders(s, d)
      .select(datediff(to_date(col("o_orderdate")), epoch).as("day"),
        year(to_date(col("o_orderdate"))).as("yr"), col("o_custkey"))
    def manifest(g: DataFrame, layout: String): DataFrame =
      g.withColumn("layout", lit(layout))
    val my = manifest(base.groupBy("yr")
      .agg(min("day").as("mn"), max("day").as("mx")).drop("yr"), "by_year")
    val mh = manifest(base.groupBy(pmod(col("o_custkey"), lit(8)).as("h"))
      .agg(min("day").as("mn"), max("day").as("mx")).drop("h"),
      "by_custkey_hash")
    val preds = Seq(
      ("month_1996_06", "1996-06-01", "1996-07-01"),
      ("quarter_1997_q1", "1997-01-01", "1997-04-01"),
      ("years_1998_1999", "1998-01-01", "2000-01-01"))
      .map { case (nm, f, u) =>
        struct(lit(nm).as("pred"),
          datediff(lit(f).cast("date"), epoch).as("lo"),
          datediff(lit(u).cast("date"), epoch).as("hi")) }
    my.unionAll(mh)
      .withColumn("p", explode(array(preds: _*)))
      .groupBy(col("layout"), col("p.pred").as("pred"))
      .agg(count(lit(1)).as("n_files"),
        sum((col("mx") >= col("p.lo") && col("mn") < col("p.hi"))
          .cast("long")).as("files_hit"))
      .withColumn("skip_rate",
        round((col("n_files") - col("files_hit")) /
          col("n_files").cast("double"), 4))
      .orderBy("layout", "pred")
  }

  val queries: Map[String, Q] = Map(
    "x38_skip_effectiveness" -> x38_skip_effectiveness,
    "x37_compaction_planner" -> x37_compaction_planner,
    "x36_clustering_advisor" -> x36_clustering_advisor,
    "x35_encoding_audit" -> x35_encoding_audit,
    "x34_cow_delete" -> x34_cow_delete,
    "x33_zonemap_scan" -> x33_zonemap_scan,
    "x32_shallow_clone" -> x32_shallow_clone,
    "x31_orphan_gc" -> x31_orphan_gc,
    "x30_snapshot_rollback" -> x30_snapshot_rollback,
    "x29_quality_constraints" -> x29_quality_constraints,
    "x28_partition_evolution" -> x28_partition_evolution,
    "x27_rowgroup_stats" -> x27_rowgroup_stats,
    "x26_deletion_vectors" -> x26_deletion_vectors,
    "x25_write_audit_publish" -> x25_write_audit_publish,
    "x24_bloom_join" -> x24_bloom_join,
    "x23_partition_overwrite" -> x23_partition_overwrite,
    "x22_table_stats" -> x22_table_stats,
    "x21_incremental_scan" -> x21_incremental_scan,
    "x19_cdc_table_sink" -> x19_cdc_table_sink,
    "x18_snapshot_expire" -> x18_snapshot_expire,
    "x16_time_travel" -> x16_time_travel,
    "x17_merge_upsert" -> x17_merge_upsert,
    "x01_orc_roundtrip" -> x01_orc_roundtrip,
    "x10_avro_roundtrip" -> x10_avro_roundtrip,
    "x11_compaction" -> x11_compaction,
    "x12_schema_merge" -> x12_schema_merge,
    "x13_sorted_layout" -> x13_sorted_layout,
    "x15_zorder_layout" -> x15_zorder_layout,
    "x02_json_roundtrip" -> x02_json_roundtrip,
    "x03_csv_roundtrip" -> x03_csv_roundtrip,
    "x04_stream_parquet_sink" -> x04_stream_parquet_sink,
    "x05_bucketed_join" -> x05_bucketed_join,
    "x07_partition_pruning" -> x07_partition_pruning,
    "x08_aqe_skew_join" -> x08_aqe_skew_join,
  )

  /** One oracle body for all three: recompute from the parquet original. */
  private val sqlStats: String =
    s"""WITH ${graft.cdc.Envelope.sqlEnv}, ${graft.cdc.Envelope.sqlFlat}
       |SELECT op, count(*)::BIGINT AS n,
       |  max(lsn_long) AS max_lsn,
       |  epoch_us(max(tx_at)) AS max_tx_at_us,
       |  round(sum(value), 2) AS sum_value,
       |  sum(pk_before)::BIGINT AS sum_pk_before,
       |  sum(pk_after)::BIGINT AS sum_pk_after,
       |  count(after_value)::BIGINT AS n_after
       |FROM flat GROUP BY op ORDER BY op""".stripMargin

  /** x22's oracle, generated from the SAME column list as the Spark lane. */
  private val x22Oracle: String = statsColumns.map { c =>
    val expr = if (c == "l_shipdate") s"epoch_us($c::TIMESTAMP)" else c
    s"""SELECT '$c' AS column_name,
       |  count(*) - count($c) AS n_nulls,
       |  count(DISTINCT $c) AS n_distinct,
       |  min($expr)::DOUBLE AS min_v, max($expr)::DOUBLE AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY 1")

  val oracle: Map[String, String] = Map(
    "x38_skip_effectiveness" ->
      """WITH base AS (
        |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
        |      ::INT AS day,
        |    year(o_orderdate)::INT AS yr, o_custkey
        |  FROM orders),
        |m AS (
        |  SELECT 'by_year' AS layout, min(day) AS mn, max(day) AS mx
        |  FROM base GROUP BY yr
        |  UNION ALL
        |  SELECT 'by_custkey_hash', min(day), max(day)
        |  FROM base GROUP BY o_custkey % 8),
        |preds AS (
        |  SELECT * FROM (VALUES
        |    ('month_1996_06',
        |     date_diff('day', DATE '1970-01-01', DATE '1996-06-01')::INT,
        |     date_diff('day', DATE '1970-01-01', DATE '1996-07-01')::INT),
        |    ('quarter_1997_q1',
        |     date_diff('day', DATE '1970-01-01', DATE '1997-01-01')::INT,
        |     date_diff('day', DATE '1970-01-01', DATE '1997-04-01')::INT),
        |    ('years_1998_1999',
        |     date_diff('day', DATE '1970-01-01', DATE '1998-01-01')::INT,
        |     date_diff('day', DATE '1970-01-01', DATE '2000-01-01')::INT))
        |    t(pred, lo, hi))
        |SELECT layout, pred, count(*)::BIGINT AS n_files,
        |  sum(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END)::BIGINT
        |    AS files_hit,
        |  round((count(*) - sum(CASE WHEN mx >= lo AND mn < hi THEN 1
        |    ELSE 0 END)) / count(*)::DOUBLE, 4) AS skip_rate
        |FROM m, preds GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x37_compaction_planner" ->
      """WITH files AS (
        |  SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)::INT
        |      AS mon,
        |    count(*)::BIGINT AS n_rows, count(*)::BIGINT * 64 AS bytes
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT mon, bytes,
        |    coalesce(sum(bytes) OVER (ORDER BY mon
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumb
        |  FROM files)
        |SELECT (cumb // 131072)::BIGINT AS bin, count(*)::BIGINT AS n_files,
        |  sum(bytes)::BIGINT AS total_bytes,
        |  min(mon) AS first_mon, max(mon) AS last_mon
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "x36_clustering_advisor" ->
      """WITH base AS (
        |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
        |      ::INT AS day,
        |    year(o_orderdate)::INT AS yr, o_custkey
        |  FROM orders),
        |my AS (SELECT yr, min(day) AS mn, max(day) AS mx
        |       FROM base GROUP BY 1),
        |mh AS (SELECT o_custkey % 8 AS h, min(day) AS mn, max(day) AS mx
        |       FROM base GROUP BY 1),
        |ey AS (
        |  SELECT pos, sum(delta)::BIGINT AS delta FROM (
        |    SELECT mn AS pos, 1 AS delta FROM my
        |    UNION ALL SELECT mx + 1, -1 FROM my) GROUP BY 1),
        |sy AS (
        |  SELECT (sum(delta) OVER (ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS depth,
        |    coalesce(lead(pos) OVER (ORDER BY pos), pos) - pos AS span
        |  FROM ey),
        |py AS (
        |  SELECT 'by_year' AS layout,
        |    (SELECT count(*) FROM my)::BIGINT AS n_files,
        |    max(depth)::BIGINT AS max_depth,
        |    round(sum(depth * span) / sum(span)::DOUBLE, 4) AS avg_depth
        |  FROM sy),
        |eh AS (
        |  SELECT pos, sum(delta)::BIGINT AS delta FROM (
        |    SELECT mn AS pos, 1 AS delta FROM mh
        |    UNION ALL SELECT mx + 1, -1 FROM mh) GROUP BY 1),
        |sh AS (
        |  SELECT (sum(delta) OVER (ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS depth,
        |    coalesce(lead(pos) OVER (ORDER BY pos), pos) - pos AS span
        |  FROM eh),
        |ph AS (
        |  SELECT 'by_custkey_hash' AS layout,
        |    (SELECT count(*) FROM mh)::BIGINT AS n_files,
        |    max(depth)::BIGINT AS max_depth,
        |    round(sum(depth * span) / sum(span)::DOUBLE, 4) AS avg_depth
        |  FROM sh)
        |SELECT * FROM py UNION ALL SELECT * FROM ph
        |ORDER BY layout""".stripMargin,
    "x33_zonemap_scan" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        |  AND o_orderdate < TIMESTAMP '1997-03-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x34_cow_delete" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents,
        |  sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-07-01' THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_in_range
        |FROM orders
        |WHERE NOT (o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x32_shallow_clone" ->
      """WITH s0 AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sp
        |  FROM orders),
        |c0 AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sp
        |  FROM (SELECT o_totalprice FROM orders
        |        UNION ALL
        |        SELECT o_totalprice FROM orders WHERE o_orderkey % 3 = 0))
        |SELECT 'clone' AS tbl, n AS n_rows, sp AS sum_price,
        |  1::BIGINT AS n_files_owned FROM c0
        |UNION ALL SELECT 'source', n, sp, 2::BIGINT FROM s0
        |ORDER BY tbl""".stripMargin,
    "x31_orphan_gc" ->
      """SELECT 'A' AS fileset,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)::BIGINT
        |    AS n_rows, 1 AS referenced, 0 AS deleted
        |UNION ALL SELECT 'B',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)::BIGINT, 1, 0
        |UNION ALL SELECT 'C',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0)::BIGINT, 0, 1
        |ORDER BY fileset""".stripMargin,
    "x30_snapshot_rollback" ->
      """WITH v1 AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sp
        |  FROM orders),
        |v2 AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CAST(round((o_totalprice +
        |      CASE WHEN o_orderkey % 2 = 1 THEN 25.0 ELSE 0 END) * 100)
        |      AS BIGINT)) / 100.0 AS sp
        |  FROM orders)
        |SELECT 1 AS version, n AS n_rows, sp AS sum_price,
        |  2::BIGINT AS n_filesets, 0 AS is_rollback FROM v1
        |UNION ALL SELECT 2, n, sp, 2::BIGINT, 0 FROM v2
        |UNION ALL SELECT 3, n, sp, 2::BIGINT, 1 FROM v1
        |ORDER BY version""".stripMargin,
    "x29_quality_constraints" ->
      """WITH li AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum((l_quantity IS NULL)::INT)::DOUBLE AS null_qty,
        |    sum((l_discount < 0 OR l_discount > 0.1)::INT)::DOUBLE AS bad_disc,
        |    sum((l_returnflag NOT IN ('A','N','R'))::INT)::DOUBLE AS bad_flag,
        |    sum((l_extendedprice <= 0)::INT)::DOUBLE AS bad_price
        |  FROM lineitem),
        |o AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    count(DISTINCT o_orderkey)::DOUBLE AS ndv,
        |    sum((o_custkey IS NULL)::INT)::DOUBLE AS null_cust
        |  FROM orders),
        |orph AS (
        |  SELECT count(*)::DOUBLE AS n FROM lineitem l
        |  LEFT JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
        |  WHERE o2.o_orderkey IS NULL),
        |r AS (
        |  SELECT 'lineitem' AS t, 'completeness(l_quantity)' AS c,
        |    1.0 - null_qty / n AS v FROM li
        |  UNION ALL SELECT 'lineitem', 'range(l_discount in [0, 0.1])',
        |    1.0 - bad_disc / n FROM li
        |  UNION ALL SELECT 'lineitem', 'accepted(l_returnflag in A/N/R)',
        |    1.0 - bad_flag / n FROM li
        |  UNION ALL SELECT 'lineitem', 'positive(l_extendedprice)',
        |    1.0 - bad_price / n FROM li
        |  UNION ALL SELECT 'lineitem', 'referential(l_orderkey -> orders)',
        |    1.0 - orph.n / li.n FROM li, orph
        |  UNION ALL SELECT 'orders', 'uniqueness(o_orderkey)', ndv / n FROM o
        |  UNION ALL SELECT 'orders', 'completeness(o_custkey)',
        |    1.0 - null_cust / n FROM o)
        |SELECT t AS table_name, c AS constraint_name, round(v, 6) AS metric,
        |  (v >= 1.0)::INT AS passed
        |FROM r ORDER BY 1, 2""".stripMargin,
    "x28_partition_evolution" ->
      s"""WITH ev AS (
        |  SELECT CASE WHEN event_id % 3 = 0
        |      THEN ts::TIMESTAMP + INTERVAL 7 DAY ELSE ts::TIMESTAMP
        |    END AS ts2, value
        |  FROM events),
        |cut AS (
        |  SELECT value FROM ev
        |  WHERE strftime(ts2::DATE, '%Y-%m-%d') BETWEEN '$EvoLo' AND '$EvoHi')
        |SELECT 1 AS version, 'day' AS scheme, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value FROM cut
        |UNION ALL
        |SELECT 2, 'month', count(*)::BIGINT, round(sum(value), 2) FROM cut
        |ORDER BY version""".stripMargin,
    "x26_deletion_vectors" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price,
        |  sum((o_orderkey % 7 = 0)::BIGINT)::BIGINT AS n_stripe
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x22_table_stats" -> x22Oracle,
    "x25_write_audit_publish" ->
      """WITH base AS (SELECT count(*)::BIGINT AS n FROM orders),
        |c97 AS (SELECT count(*)::BIGINT AS n FROM orders
        |        WHERE year(o_orderdate) = 1997),
        |c98 AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS nulls
        |  FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT 1 AS commit, base.n AS audited_rows, 0::BIGINT AS null_keys,
        |  true AS published, base.n AS visible_rows FROM base
        |UNION ALL
        |SELECT 2, c97.n, 0::BIGINT, true, base.n + c97.n FROM base, c97
        |UNION ALL
        |SELECT 3, c98.n, c98.nulls, false, base.n + c97.n FROM base, c97, c98
        |ORDER BY commit""".stripMargin,
    "x24_bloom_join" ->
      """SELECT month(o_orderdate)::INT AS order_month,
        |  count(*)::BIGINT AS n_items,
        |  ((sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100)
        |    / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x23_partition_overwrite" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, ts::DATE AS day FROM events),
        |fin AS (
        |  SELECT day, user_id,
        |    CASE WHEN date_diff('day', DATE '1970-01-01', day) % 5 = 0
        |         THEN value + 1.0 ELSE value END AS value
        |  FROM e)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value, sum(user_id)::BIGINT AS sum_user
        |FROM fin GROUP BY day ORDER BY day""".stripMargin,
    // x19's two-commit merge must reproduce the full-replay replica —
    // c04's ground truth verifies the WHOLE composition end-to-end.
    "x19_cdc_table_sink" -> graft.cdc.CdcQueries.applyLatestOracle,
    "x21_incremental_scan" ->
      """WITH odd AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderkey, 'update_preimage' AS change_type,
        |  round(o_totalprice, 2) AS o_totalprice
        |FROM odd WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update_postimage', round(o_totalprice + 10.0, 2)
        |FROM odd WHERE o_orderkey % 3 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'delete', round(o_totalprice, 2)
        |FROM odd WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 1000000000, 'insert', round(o_totalprice, 2)
        |FROM odd WHERE o_orderkey % 5 = 0
        |ORDER BY o_orderkey, change_type""".stripMargin,
    "x16_time_travel" ->
      """SELECT 1 AS version, count(*)::BIGINT AS n_rows,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price,
        |  sum((o_orderstatus = 'O')::INT)::BIGINT AS n_open FROM orders
        |UNION ALL
        |SELECT 2, count(*)::BIGINT,
        |  sum(CAST(round((CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice + 10.0
        |                 ELSE o_totalprice END) * 100) AS BIGINT)) / 100.0,
        |  sum((o_orderstatus = 'O')::INT)::BIGINT FROM orders
        |ORDER BY version""".stripMargin,
    "x18_snapshot_expire" ->
      """SELECT 2 AS version, count(*)::BIGINT AS n_rows,
        |  sum(CAST(round((CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice + 10.0
        |                 ELSE o_totalprice END) * 100) AS BIGINT)) / 100.0
        |    AS sum_price,
        |  sum((o_orderstatus = 'O')::INT)::BIGINT AS n_open FROM orders""".stripMargin,
    "x17_merge_upsert" ->
      """WITH src0 AS (
        |  SELECT o_custkey,
        |    (sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100) / 100.0 AS amt
        |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
        |src AS (
        |  SELECT o_custkey AS key, amt FROM src0
        |  UNION ALL
        |  SELECT o_custkey + 1000000, amt FROM src0 WHERE o_custkey % 7 = 0)
        |SELECT coalesce(c_custkey, key) AS c_custkey,
        |  coalesce(c_name, 'Customer#new#' || (key - 1000000)) AS c_name,
        |  coalesce(c_mktsegment, 'NEW') AS c_mktsegment,
        |  round(coalesce(c_acctbal, 0) + coalesce(amt, 0), 2) AS c_acctbal
        |FROM customer FULL JOIN src ON c_custkey = key
        |ORDER BY c_custkey""".stripMargin,
    "x01_orc_roundtrip" -> sqlStats,
    "x10_avro_roundtrip" -> sqlStats,
    "x11_compaction" -> sqlStats,
    "x12_schema_merge" ->
      s"""WITH ${graft.cdc.Envelope.sqlEnv}, ${graft.cdc.Envelope.sqlFlat}
         |SELECT op,
         |  CASE WHEN lsn_long % 2 <> 0 AND pk_after IS NOT NULL
         |       THEN 'r' || (pk_after % 4)::VARCHAR END AS region,
         |  count(*)::BIGINT AS n,
         |  max(lsn_long) AS max_lsn,
         |  round(sum(value), 2) AS sum_value
         |FROM flat GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x02_json_roundtrip" -> sqlStats,
    "x03_csv_roundtrip" -> sqlStats,
    "x04_stream_parquet_sink" -> sqlStats,
    "x05_bucketed_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
        |  ((2 * sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |        AS BIGINT)) + 100) // 200) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x08_aqe_skew_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN event_id % 10 < 6 THEN 0 ELSE user_id END AS k, value
        |  FROM events),
        |dim AS (SELECT DISTINCT k, 'g' || (k % 7)::VARCHAR AS tag FROM f)
        |SELECT tag, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM f JOIN dim USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x07_partition_pruning" ->
      s"""WITH ${graft.cdc.Envelope.sqlEnv}, ${graft.cdc.Envelope.sqlFlat},
         |byday AS (
         |  SELECT tx_at::DATE AS day, count(*)::BIGINT AS n_events,
         |    round(sum(value), 2) AS sum_value, max(lsn_long) AS max_lsn
         |  FROM flat GROUP BY 1),
         |tdays AS (SELECT DISTINCT tx_at::DATE AS day FROM flat
         |          WHERE tx_at < TIMESTAMP '2024-01-06')
         |SELECT day, n_events, sum_value, max_lsn
         |FROM byday WHERE day IN (SELECT day FROM tdays)
         |ORDER BY day""".stripMargin,
  )
}
