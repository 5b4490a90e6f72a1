package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Streaming / event-time surface (SURVEY.md §2, s01–s05). s01–s04 are
  * event-time operators expressed as batch plans (identical semantics at
  * any scale — one shuffle each); s05 runs the same tumbling aggregation
  * through a real Structured Streaming query with a watermark and is
  * spec-checked equal to s01 plus oracle-checked against s01's SQL
  * (minus the batch-only exact count-distinct column).
  */
object StreamingQueries {
  private type Q = (SparkSession, String) => DataFrame

  private val SixHoursUs = 6L * 3600 * 1000000

  /** Tumbling-window aggregate plan shared by s01 (batch) and s05
    * (streaming): 6-hour event-time windows, epoch-aligned like Spark's
    * `window()` with origin 1970-01-01 UTC.
    */
  def tumblingAgg(events: DataFrame, distinctUsers: Boolean = true): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value")) ++
        // exact count-distinct is batch-only (unsupported on streams)
        (if (distinctUsers) Seq(countDistinct(col("user_id")).as("n_users")) else Nil)
    val outCols =
      Seq(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value")) ++
        (if (distinctUsers) Seq(col("n_users")) else Nil)
    events
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(outCols: _*)
  }

  // s01: event-time tumbling window aggregation.
  val s01_tumbling_window: Q = (s, d) =>
    tumblingAgg(Tables.events(s, d)).orderBy("window_start_us", "event_type")

  // s02: sessionization with a 30-minute inactivity gap — lag to flag
  // session starts, running sum to number sessions, one aggregate per
  // (user, session). Two shuffles total (both on user_id; the second
  // reuses the first's partitioning).
  val s02_sessionize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("new_sess").over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        round(sum("value"), 2).as("sum_value"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "session_idx")
  }

  // s03: keep-first dedup by (user_id, event_type) — deterministic
  // min_by instead of dropDuplicates (whose survivor is partition-order
  // dependent), single shuffle with map-side partials.
  val s03_stream_dedup: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min("event_id").as("first_event_id"),
        min_by(col("value"), col("event_id")).as("first_value"),
        count(lit(1)).as("n_dups"))
      .orderBy("user_id", "event_type")

  // s04: event_type × hour-of-day activity matrix (long form).
  val s04_hourly_rollup: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type", "hour_of_day")

  // s05 (rows-only): the s01 aggregation through an actual streaming
  // query with a 1-hour watermark; update-mode memory sink. Spec asserts
  // equality with s01.
  val s05_watermark_agg: Q = (s, d) => {
    val raw = Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
    val name = s"graft_watermark_agg_${System.nanoTime()}"
    val q = tumblingAgg(stream.withWatermark("ts", "1 hour"), distinctUsers = false)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(max_by(col("n"), col("n")).as("n"),
        max_by(col("sum_value"), col("n")).as("sum_value"))
      .orderBy("window_start_us", "event_type")
  }

  // s06: sessionization via Spark's NATIVE session_window operator —
  // same 30-minute gap semantics as s02's lag+cumsum formulation, so the
  // oracle reuses that CTE; proves the built-in merging-window path
  // (which also runs incrementally under Structured Streaming).
  val s06_session_window: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Attribution join shared by s07 (batch) and s08 (streaming): clicks
    * within the 30 minutes strictly before each purchase, same user.
    * Equi-join on user_id + a time-interval predicate — exactly the shape
    * Structured Streaming's stream-stream join supports with watermarks.
    */
  def attributionPairs(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("value").as("c_value"))
    val p = purchases.select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    p.join(c, col("user_id") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
      col("c_ts") < col("p_ts"))
  }

  private def attributionAgg(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_clicks_30m"),
        round(sum("c_value"), 2).as("click_value"))
      .orderBy("event_id")

  // s07: interval-join attribution (batch twin of s08) — purchases with
  // the clicks in their trailing 30-minute window. One shuffle on
  // user_id; the interval predicate filters inside the sort-merge join.
  val s07_interval_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    attributionAgg(attributionPairs(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase")))
  }

  // s08 (oracle: s07's verbatim; spec: == s07): the same join as a real
  // stream-stream inner join. Both sides carry 1-hour watermarks; the
  // time-interval condition lets Spark bound join state eviction on both
  // sides — exactly how a 100 TB/day CDC attribution pipeline stays
  // finite-state.
  val s08_stream_stream_join: Q = (s, d) => {
    val raw = Tables.load(s, d, "events")
    def stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
      .withWatermark("ts", "1 hour")
    val name = s"graft_ssj_${System.nanoTime()}"
    val q = attributionPairs(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    attributionAgg(s.table(name))
  }

  // s09 (oracle: the batch groupBy SQL; spec: == batch groupBy):
  // per-user lifetime stats via
  // mapGroupsWithState — the exactly-one-output-per-group stateful API
  // (complementing flatMapGroupsWithState in graft.cdc.StreamApply).
  // State per user is one constant-size record regardless of stream
  // length; NoTimeout because the aggregate is lifetime-scoped.
  val s09_stateful_counter: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val raw = Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      .as[(Long, Double, Long)]
    val fn: (Long, Iterator[(Long, Double, Long)], GroupState[(Long, Double, Long)]) => (Long, Long, Double, Long) =
      (uid, events, state) => {
        var (n, sum, lastUs) = state.getOption.getOrElse((0L, 0.0, Long.MinValue))
        events.foreach { case (_, v, us) =>
          n += 1; sum += v; if (us > lastUs) lastUs = us
        }
        state.update((n, sum, lastUs))
        (uid, n, sum, lastUs)
      }
    val name = s"graft_sc_${System.nanoTime()}"
    val q = stream.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "n_events", "sum_value", "last_us")
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .groupBy(col("user_id"))
      .agg(max("n_events").as("n_events"),
        round(max_by(col("sum_value"), col("n_events")), 2).as("sum_value"),
        max("last_us").as("last_us"))
      .orderBy("user_id")
  }

  // s10: streaming WAL CONSUMPTION through the wire codec — the NATS-
  // consumer shape: a stream of change events is lifted to the envelope,
  // every micro-batch pushed through the full publish_message Avro codec
  // (encode → single-object frame → decode, c20's path), and the decoded
  // stream aggregated per op in complete mode. The oracle recomputes the
  // same per-op stats from the batch table, so a hash match proves the
  // codec is transparent under streaming execution too (mapPartitions
  // runs per micro-batch exactly as it would per NATS delivery).
  val s10_stream_envelope_decode: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val raw = Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
    val decoded = graft.cdc.AvroEnvelope.roundtrip(graft.cdc.Envelope.flat(stream))
    val name = s"graft_stream_envelope_${System.nanoTime()}"
    val q = decoded.toDF()
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"),
        max("lsn_long").as("max_lsn"),
        sum((col("fp_ok") && col("magic_ok")).cast("long")).as("n_ok"),
        round(sum("after_value"), 2).as("sum_after"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // materialize, then drop the memory-sink view so repeated runs don't
    // accumulate catalog entries + driver-held result rows
    val out = s.table(name)
      .select(col("op"), col("n"), col("max_lsn"), col("n_ok"), col("sum_after"))
      .orderBy("op")
    val rows = out.collect().toSeq
    s.catalog.dropTempView(name)
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
  }

  /** s11 engine: run the tumbling aggregation over a two-batch arrival —
    * batch 1 = everything after the first calendar day, batch 2 = the
    * first day's events arriving LATE, days beyond the 30-minute
    * watermark. Returns (final result, rows dropped by the watermark) so
    * the spec can pin the drop accounting; the query returns the result
    * alone, whose oracle is simply the on-time aggregation.
    */
  def lateDataRun(s: SparkSession, d: String): (DataFrame, Long) = {
    val evs = Tables.events(s, d)
      .select(col("ts"), col("event_type"), col("value"))
    val cutoff = evs
      .agg((date_trunc("DAY", min(col("ts"))) + expr("INTERVAL 1 DAY")).as("c"))
      .head().getTimestamp(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_s11_")
    try {
      // arrival is made explicit: the on-time file is drained to a
      // completed batch BEFORE the late file even exists, so the second
      // batch runs against the advanced watermark regardless of any
      // file-listing order
      def land(pred: org.apache.spark.sql.Column, name: String): Unit =
        graft.sources.SourceSinks.landSingleParquet(evs.filter(pred), dir.resolve(name))
      val stream = s.readStream.schema(evs.schema).parquet(dir.toString)
      val name = s"graft_s11_${System.nanoTime()}"
      land(col("ts") >= lit(cutoff), "ontime.parquet")
      val q = tumblingAgg(stream.withWatermark("ts", "30 minutes"),
          distinctUsers = false)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try {
        q.processAllAvailable() // batch 1: on-time only; watermark advances
        land(col("ts") < lit(cutoff), "late.parquet")
        q.processAllAvailable() // batch 2: the stragglers, now late
      } finally q.stop()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      val out = s.table(name)
        .groupBy(col("window_start_us"), col("event_type"))
        .agg(max_by(col("n"), col("n")).as("n"),
          max_by(col("sum_value"), col("n")).as("sum_value"))
        .orderBy("window_start_us", "event_type")
      // materialize before the temp dir disappears; drop the sink view
      // even if the collect throws (it holds the update-mode rows)
      try {
        val rows = out.collect().toSeq
        (s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema), dropped)
      } finally s.catalog.dropTempView(name)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  // s11 (oracle = the on-time aggregation): WATERMARK LATE-DATA DROP —
  // the correctness contract streaming pipelines actually rely on: rows
  // arriving after the watermark has passed their window are DROPPED, not
  // silently merged into closed windows. Deterministic arrival plan (two
  // mtime-ordered files) makes the drop set exact: the first calendar
  // day's events arrive in batch 2, days late against a 30-minute
  // watermark, so the final state equals the batch aggregation over the
  // on-time subset alone — which is exactly what the DuckDB oracle
  // computes. The spec additionally pins numRowsDroppedByWatermark, which
  // counts the state store's dropped INPUTS — the map-side partial
  // aggregates of the late rows — between the distinct late (window,
  // event_type) group count and the raw late-row count.
  val s11_late_data: Q = (s, d) => lateDataRun(s, d)._1

  // s12: STREAM-STATIC enrichment join — the dimension-lookup every
  // streaming pipeline runs (events enriched against a slowly-changing
  // reference table): the event stream joins a STATIC 25-row dimension,
  // stateless and broadcast per micro-batch (no watermark, no state
  // store — the static side is not incremental), then aggregates in
  // complete mode. The oracle recomputes the same enrichment as a batch
  // join, so a hash match proves stream-side semantics add nothing.
  val s12_stream_static_join: Q = (s, d) => {
    val raw = Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    val dim = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val name = s"graft_s12_${System.nanoTime()}"
    val q = stream
      // sign-preserving % (not pmod) — the oracle's `user_id % 25`; they
      // agree on the non-negative testdata ids but must also agree by law
      .withColumn("n_nationkey", col("user_id") % 25)
      .join(broadcast(dim), "n_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val out = s.table(name).orderBy("n_name")
    try {
      val rows = out.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally s.catalog.dropTempView(name)
  }

  /** s13 engine: run the per-type aggregation as TWO query incarnations
    * sharing one checkpoint — land half the data, stop, restart, land
    * the rest. Returns (final complete-mode result, per-incarnation
    * input-row counts) so the spec can pin exactly-once: incarnation 2
    * reads ONLY the new file while its output covers ALL rows (state
    * restored from the checkpoint, files never reprocessed).
    */
  def checkpointResumeRun(s: SparkSession, d: String): (DataFrame, Seq[Long]) = {
    val evs = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s13_")
    val data = dir.resolve("data"); val cp = dir.resolve("checkpoint")
    java.nio.file.Files.createDirectories(data)
    def land(b: Int): Unit = graft.sources.SourceSinks.landSingleParquet(
      evs.filter(col("event_id") % 2 === b), data.resolve(f"batch_$b%02d.parquet"))
    def incarnation(name: String): org.apache.spark.sql.streaming.StreamingQuery =
      s.readStream.schema(evs.schema).parquet(data.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", cp.toString)
        .queryName(name).start()
    try {
      val n1 = s"graft_s13a_${System.nanoTime()}"
      val q1 = incarnation(n1)
      try { land(0); q1.processAllAvailable() } finally q1.stop()
      val in1 = q1.recentProgress.map(_.numInputRows).sum
      s.catalog.dropTempView(n1)
      val n2 = s"graft_s13b_${System.nanoTime()}"
      val q2 = incarnation(n2) // SAME checkpoint: state restores, offsets resume
      try { land(1); q2.processAllAvailable() } finally q2.stop()
      val in2 = q2.recentProgress.map(_.numInputRows).sum
      val out = s.table(n2).orderBy("event_type")
      try {
        val rows = out.collect().toSeq
        (s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema),
          Seq(in1, in2))
      } finally s.catalog.dropTempView(n2)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  // s13 (oracle = the full batch aggregation): CHECKPOINT RECOVERY —
  // exactly-once across query RESTARTS: two incarnations share one
  // checkpoint; the second restores aggregation state and resumes file
  // offsets, so it reads only the new arrivals yet its complete-mode
  // output covers everything. If the restart reprocessed the first file,
  // every count would double and the oracle hash would catch it.
  val s13_checkpoint_resume: Q = (s, d) => checkpointResumeRun(s, d)._1

  // s18: streaming anomaly detection — the monitoring shape every
  // production pipeline runs: an offline-trained baseline profile (per
  // event_type mean/σ of per-window counts — a tiny model, computed
  // batch-side exactly like a real system trains on history) BROADCAST
  // against a live windowed aggregation, z-scored per closing window.
  // The stream is s05's real Structured-Streaming tumbling aggregation
  // (1-hour watermark, update-mode memory sink, final-update per window);
  // the baseline join is stream-static-broadcast (s12's shape), so state
  // stays bounded by open windows and the model never shuffles. The
  // anomaly predicate fires on the ROUNDED z (both engines agree on the
  // rounded value; an unrounded threshold could disagree in the last
  // ulp). Fully SQL-expressible → full oracle.
  val s18_stream_anomaly: Q = (s, d) => {
    val baseline = tumblingAgg(Tables.events(s, d), distinctUsers = false)
      .groupBy(col("event_type"))
      .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sigma"))
    val raw = Tables.load(s, d, "events")
    val stream = s.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(graft.Tables.normalizeEventsTs)
    val name = s"graft_anomaly_${System.nanoTime()}"
    val q = tumblingAgg(stream.withWatermark("ts", "1 hour"), distinctUsers = false)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(max_by(col("n"), col("n")).as("n"))
      .join(broadcast(baseline), Seq("event_type"))
      .withColumn("z", round((col("n") - col("mu")) / col("sigma"), 4))
      .withColumn("is_anomaly", (abs(col("z")) > 2.0).cast("int"))
      .select(col("window_start_us"), col("event_type"), col("n"),
        col("z"), col("is_anomaly"))
      .orderBy("window_start_us", "event_type")
  }

  // s21: stream-stream LEFT OUTER interval join — s08's outer upgrade
  // and the semantically hard corner of streaming joins: an unmatched
  // purchase can only emit its null-extended row once the watermark
  // PROVES no qualifying click can still arrive, so the engine must
  // hold left rows in state and time them out (batch left-join outputs
  // the same rows instantly; streaming has to earn them). Both sides
  // carry 1-hour watermarks and the interval condition bounds state in
  // both directions (exactly the 100 TB/day finite-state shape). The
  // fixture is the two-batch landing discipline (s11/d11): land the
  // corpus, drain, then land one click+purchase sentinel pair 3 h past
  // max(ts) so the join watermark passes every real purchase and ALL
  // outer rows flush before the snapshot; the sentinels (user −1) are
  // excluded from the rollup. Oracle = the batch LEFT JOIN — the hash
  // match proves streaming eviction added and lost nothing.
  val s21_stream_outer_join: Q = (s, d) => {
    val evs = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s21_")
    val data = dir.resolve("data")
    java.nio.file.Files.createDirectories(data)
    val stream = s.readStream.schema(evs.schema).parquet(data.toString)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"), "left_outer")
    val name = s"graft_s21_${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      graft.sources.SourceSinks.landSingleParquet(evs, data.resolve("b0.parquet"))
      q.processAllAvailable()
      val sentinel = evs.agg(max("ts").as("mts")).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("click").as("event_type"),
        (col("mts") + expr("INTERVAL 3 HOURS")).as("ts"), lit(0.0).as("value"))
        .union(evs.agg(max("ts").as("mts")).select(
          lit(-2L).as("event_id"), lit(-1L).as("user_id"),
          lit("purchase").as("event_type"),
          (col("mts") + expr("INTERVAL 3 HOURS")).as("ts"), lit(0.0).as("value")))
      graft.sources.SourceSinks.landSingleParquet(sentinel, data.resolve("b1.parquet"))
      q.processAllAvailable()
      val out = s.table(name)
        .filter(col("user_id") =!= -1L)
        .groupBy(col("event_id"))
        .agg(count(col("c_user")).as("n_clicks_30m"),
          round(sum("c_value"), 2).as("click_value"))
        .orderBy("event_id")
      val rows = out.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    } finally {
      q.stop()
      s.catalog.dropTempView(name)
      graft.sources.SourceSinks.deleteDir(dir)
    }
  }

  // s22: STREAMING CUSUM change-point — q55's streaming twin (the 9th
  // batch↔streaming pair: apply/c13, keep-list/d11, view/s14, JDBC
  // tail/s15, index/s16, corpus/s17, spans/s19, top-k/s20, CUSUM/s22):
  // per-micro-batch per-day counts SUM into the bounded day-axis state
  // (s20's fold — state is ≤ corpus-days rows regardless of stream
  // length); the snapshot closes over the FINAL drained panel because
  // the corpus mean — and so every CUSUM value and the argmax flag —
  // is mutable while data arrives. Cusum math runs once, on the ~30-row
  // final panel; hash-matching q55's batch oracle verbatim proves the
  // accumulated counts compose seam-free.
  val s22_stream_cusum: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .select(col("event_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
    snapshotTwin(s, feed, col("event_id"), Seq("day"), Nil) { panel =>
      val daily = panel.select(col("day"), col("n").cast("double").as("n"))
      val mu = daily.agg(avg("n").as("mu"))
      val wc = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(mu))
        .withColumn("cusum", sum(col("n") - col("mu")).over(wc))
        .withColumn("max_abs", max(abs(col("cusum"))).over(Window.partitionBy()))
        .select(col("day"), col("n").cast("long").as("n_events"),
          round(col("cusum"), 4).as("cusum"),
          (abs(col("cusum")) === col("max_abs")).cast("int").as("is_changepoint"))
        .orderBy("day")
    }
  }

  // s23: STREAMING equi-width histogram — q51's streaming twin (the
  // 10th batch↔streaming pair): the bucket BOUNDS are an offline
  // 1-row model (batch min/max — s18's broadcast-baseline discipline;
  // a streaming histogram cannot learn its own bounds without two
  // passes), the stream folds per-bucket counts into ≤20 rows of
  // state (each bucket's latest running total), and the snapshot
  // emits q51's exact output shape. The hash match against q51's
  // oracle proves the streamed fold lands every row in the same
  // bucket the batch scan does.
  val s23_stream_histogram: Q = (s, d) => {
    import s.implicits._
    val b = graft.ops.Relational.HistogramBuckets
    val li = Tables.lineitem(s, d)
    val bounds = li
      .agg(min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"))
      .head()
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val w = (mx - mn) / b
    val feed = li.select(col("l_orderkey"),
      least(floor((col("l_extendedprice") - lit(mn)) / lit(w)),
        lit(b - 1L)).cast("int").as("bucket"))
    snapshotTwin(s, feed, col("l_orderkey"), Seq("bucket"), Nil) { panel =>
      // edges in pure integer half-up cents (q51's r15 form): the exact
      // rational mn_c + b·K/20 CAN land on a half-cent, where a double
      // round flips between engines — (2p+q) div 2q is the one rounding
      // both sides compute identically
      val mnc = math.round(mn * 100)
      val kc = math.round(mx * 100) - mnc
      def edge(i: Long): Double =
        ((2 * (b * mnc + i * kc) + b) / (2L * b)) / 100.0
      panel.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted // ≤ b rows
        .map { case (bucket, n) =>
          (bucket, edge(bucket.toLong), edge(bucket + 1L), n)
        }
        .toDF("bucket", "lo", "hi", "n")
        .orderBy("bucket")
    }
  }

  // s24: STREAMING FUNNEL — q44's batch↔streaming twin (the 11th
  // pair). Events land as 4 deterministic files streamed one per
  // micro-batch (genuinely multi-batch: state must survive across
  // triggers), keyed by user. State = (min view time, click candidates,
  // purchase candidates): min(view) is monotone under any arrival
  // order, but the candidate LISTS must persist — a view arriving in a
  // later batch can re-qualify OR disqualify clicks already seen (the
  // funnel window moves), so depth is NOT monotone and each emission
  // carries a sequence number; the panel keeps the LAST depth per
  // user (latest by seq). State is bounded by per-user click/purchase
  // activity. The ≤4-row depth rollup hash-matches q44's batch oracle
  // verbatim.
  /** Schema pin for the fixed-schema funnel engines: the
    * streamFunnel/streamTimeToConvert folds decode
    * (user_id LONG, event_type STRING, us LONG); if the generator's
    * physical types ever drift (the events ts column has,
    * historically), the stream fails loudly here instead of
    * misreading its rows.
    */
  private def requireFunnelSchema(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = Seq[(String, DataType)](("user_id", LongType),
      ("event_type", StringType), ("us", LongType))
    require(got == want,
      s"landed funnel schema drifted to ${df.schema.simpleString}; " +
        "streamFunnel/streamTimeToConvert read (user_id LONG, " +
        "event_type STRING, us LONG)")
    df
  }

  /** s24's stateful fold over a (user_id, event_type, us) stream:
    * bounded (tv, k-min clicks, k-min purchases) state per user,
    * emitting (user_id, depth, seq, n_evicted), where n_evicted counts
    * candidate timestamps the k-min bound dropped — the bound's
    * exactness trade made OBSERVABLE: a user's final depth is exact
    * whenever their final n_evicted is 0 (nothing was ever discarded),
    * and the production k is sized so the corpus never evicts.
    */
  private def funnelFold(k: Int, winUs: Long)(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val fn: (Long, Iterator[(Long, String, Long)],
        GroupState[(Long, Seq[Long], Seq[Long], Long, Long)]) =>
        (Long, Int, Long, Long) = (uid, events, state) => {
      var (tv, clicks, purchases, seq, nev) = state.getOption.getOrElse(
        (Long.MaxValue, Seq.empty[Long], Seq.empty[Long], 0L, 0L))
      events.foreach { case (_, t, us) =>
        t match {
          case "view" => if (us < tv) tv = us
          case "click" =>
            clicks = (us +: clicks).sorted
            if (clicks.size > k) { clicks = clicks.take(k); nev += 1 }
          case "purchase" =>
            purchases = (us +: purchases).sorted
            if (purchases.size > k) { purchases = purchases.take(k); nev += 1 }
          case _ => ()
        }
      }
      seq += 1
      state.update((tv, clicks, purchases, seq, nev))
      val depth =
        if (tv == Long.MaxValue) 0
        else {
          val inW = clicks.filter(c => c > tv && c <= tv + winUs)
          if (inW.isEmpty) 1
          else {
            val tc = inW.min
            if (purchases.exists(p => p > tc && p <= tc + winUs)) 3 else 2
          }
        }
      (uid, depth, seq, nev)
    }
    requireFunnelSchema(events).as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "depth", "seq", "n_evicted")
  }

  /** s24's engine over `parts` (frames of (user_id, event_type, us),
    * one per trigger): the full emission log (user_id, seq, depth,
    * n_evicted), one row per user per trigger. Public so the spec can
    * drive it with a small k, plant a >k-crowded user, and pin the
    * counter > 0.
    */
  def streamFunnel(s: SparkSession, parts: Seq[DataFrame], k: Int,
      winUs: Long): DataFrame =
    streamTwin(s, parts, Seq("user_id", "seq"), "seq")(funnelFold(k, winUs))(identity)

  val s24_stream_funnel: Q = (s, d) => {
    val W = 6L * 3600 * 1000000
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // state bound (round-9 caveat closed the s31 way): the funnel
    // needs the min click after tv and the min purchase after that
    // click, and since a late view can only move tv EARLIER, both
    // answers live in the k smallest timestamps — exact unless >k
    // clicks (resp. purchases) precede the user's final anchor.
    // K=64 clears the generator's per-user activity cap (≤32 events
    // of any type per user at EVERY sf — verified sf1/sf5/sf10);
    // the full-surface sf1 gate caught K=8 evicting qualifying
    // clicks for 8 tail users (depth 2/3 demoted to 1), which is
    // exactly the failure the bound trades for state, now sized
    // with 2× margin — and the emission's n_evicted counter makes
    // any violation observable (the spec pins it).
    streamTwin(s, shards(ev, col("event_id")).map(_.drop("event_id")),
      Seq("user_id"), "seq")(funnelFold(64, W)) { panel =>
      panel.groupBy(col("depth").cast("int").as("depth"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("depth")
    }
  }

  // s25: STREAMING TRANSITION MATRIX — q49's twin (12th pair), with
  // WATERMARK-BOUNDED state (round-9 verdict): per-user state is NOT
  // the full event history but (finalized transition counts, boundary
  // event, in-horizon tail). Events older than `horizonUs` behind the
  // max event time seen FINALIZE: their transitions fold into an
  // accumulated ≤|types|²-entry count map and the events themselves
  // evict; only the splice horizon — plus the single boundary event
  // linking the finalized prefix to the live tail — stays in state. A
  // late event inside the horizon still splices exactly (it lands in
  // the tail, whose transitions are recomputed every trigger); a late
  // event BEYOND the horizon is dropped, standard watermark semantics,
  // and surfaced in the emission (`n_dropped`) so the spec can observe
  // it. At 100 TB a power user's state is their in-horizon activity,
  // not their lifetime history. The lane lands batches in TIME ORDER
  // (quartile files) with a deterministic 1-in-7 subset deferred one
  // batch, so max lateness is two quartile widths by construction, the
  // horizon covers it, nothing drops, and the snapshot hash-matches
  // q49's batch oracle verbatim.

  /** s25's stateful fold over an (event_id, user_id, event_type, us)
    * stream: bounded splice state per user, emitting (user_id, seq,
    * counts [(a,b,n)], n_state, n_dropped).
    */
  private def transitionsFold(horizonUs: Long)(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    // state: (finalized counts, boundary event [≤1], in-horizon tail,
    //         max event time seen, dropped-late count, seq)
    val fn: (Long, Iterator[(Long, Long, String, Long)],
        GroupState[(Seq[(String, String, Long)], Seq[(Long, Long, String)],
          Seq[(Long, Long, String)], Long, Long, Long)]) =>
        (Long, Long, Seq[(String, String, Long)], Int, Long) = (uid, events, state) => {
      var (prefixSeq, boundary, tail, maxUs, dropped, seq) =
        state.getOption.getOrElse(
          (Seq.empty[(String, String, Long)], Seq.empty[(Long, Long, String)],
            Seq.empty[(Long, Long, String)], Long.MinValue, 0L, 0L))
      var prefix = prefixSeq.iterator.map { case (a, b, n) => (a, b) -> n }.toMap
      val bKey = boundary.headOption.map(e => (e._1, e._2))
      var add = List.empty[(Long, Long, String)]
      events.foreach { case (eid, _, t, us) =>
        if (us > maxUs) maxUs = us
        // a splice at-or-before the boundary would rewrite transitions
        // already finalized — beyond the horizon by construction: drop
        if (bKey.exists { case (bu, be) => us < bu || (us == bu && eid <= be) })
          dropped += 1
        else add ::= ((us, eid, t))
      }
      val ordered = (tail ++ add).sortBy(e => (e._1, e._2))
      val cut = maxUs - horizonUs
      val (fin, keep) = ordered.partition(_._1 <= cut)
      if (fin.nonEmpty) {
        (boundary.take(1) ++ fin).iterator.sliding(2).withPartial(false)
          .foreach { p =>
            val k = (p.head._3, p(1)._3)
            prefix += k -> (prefix.getOrElse(k, 0L) + 1L)
          }
        boundary = Seq(fin.last)
      }
      seq += 1
      state.update((prefix.iterator.map { case ((a, b), n) => (a, b, n) }.toSeq,
        boundary, keep, maxUs, dropped, seq))
      // emission = finalized counts + live transitions over boundary∥tail
      var total = prefix
      (boundary ++ keep).iterator.sliding(2).withPartial(false).foreach { p =>
        val k = (p.head._3, p(1)._3)
        total += k -> (total.getOrElse(k, 0L) + 1L)
      }
      (uid, seq,
        total.iterator.map { case ((a, b), n) => (a, b, n) }.toSeq.sorted,
        keep.size, dropped)
    }
    events.as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "seq", "counts", "n_state", "n_dropped")
  }

  /** s25's engine over `parts` (frames of (event_id, user_id,
    * event_type, us), one per trigger): the full emission log, one
    * row per user per trigger. Public so the spec can drive it with a
    * beyond-horizon late batch and pin both the bounded state size
    * and the drop.
    */
  def streamTransitions(s: SparkSession, parts: Seq[DataFrame],
      horizonUs: Long): DataFrame =
    streamTwin(s, parts, Seq("user_id", "seq"), "seq")(
      transitionsFold(horizonUs))(identity)

  val s25_stream_transitions: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val r = ev.agg(min("us"), max("us")).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val qw = (hi - lo) / 4 + 1
    val batched = ev
      .withColumn("b0", least(floor((col("us") - lit(lo)) / lit(qw)), lit(3L)))
      .withColumn("batch",
        least(when(pmod(col("event_id"), lit(7)) === 0, col("b0") + 1)
          .otherwise(col("b0")), lit(3L)).cast("int"))
    val parts = (0 until 4).map(i => batched.filter(col("batch") === i)
      .select("event_id", "user_id", "event_type", "us"))
    // deferred events arrive ≤ 2 quartile widths late; horizon covers it
    streamTwin(s, parts, Seq("user_id"), "seq")(transitionsFold(2 * qw + 1)) { panel =>
      val tr = panel
        .select(explode(col("counts")).as("c"))
        .groupBy(col("c._1").as("a"), col("c._2").as("b"))
        .agg(sum(col("c._3")).as("n"))
      val tot = tr.groupBy(col("a")).agg(sum("n").cast("double").as("na"))
      tr.join(broadcast(tot), Seq("a"))
        .select(col("a"), col("b"), col("n"),
          round(col("n") / col("na"), 4).as("p"))
        .orderBy("a", "b")
    }
  }

  // s26: STREAMING EWMA — q65's twin (13th pair), the NUMERIC-recursion
  // splice case: EWMA is order-sensitive, so a late batch contributing
  // to an EARLY day re-weights every smoothed value after it. State is
  // the per-day count map (bounded by the day axis, NOT the data);
  // every trigger folds the recursion over the sorted days and emits
  // the full series under a seq; the panel keeps the last. Single
  // logical group (the day axis is one series).
  val s26_stream_ewma: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val a = graft.ops.Relational.EwmaAlpha
    val ev = Tables.events(s, d)
      .select(col("event_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
    // NOTE: a streaming groupBy BEFORE a stateful op is unsupported
    // (two chained stateful operators) — raw day rows fold directly
    // into the state map instead; the map stays day-axis-bounded.
    streamTwin(s, shards(ev, col("event_id")).map(_.drop("event_id")), Nil, "seq") {
      _.select(col("day")).as[String]
        .groupByKey(_ => 0)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: Int, batch: Iterator[String], state: GroupState[(Map[String, Long], Long)]) =>
            var (counts, seq) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
            batch.foreach { day =>
              counts += day -> (counts.getOrElse(day, 0L) + 1L)
            }
            seq += 1
            state.update((counts, seq))
            var sPrev = -1.0
            val series = counts.toSeq.sortBy(_._1).map { case (day, n) =>
              sPrev = if (sPrev < 0) n.toDouble else a * n + (1 - a) * sPrev
              (day, n, sPrev)
            }
            Iterator.single((seq, series))
        }
        .toDF("seq", "series")
    } { panel =>
      panel.select(explode(col("series")).as("e"))
        .select(col("e._1").as("day"), col("e._2").as("n_events"),
          round(col("e._3"), 4).as("ewma"))
        .orderBy("day")
    }
  }

  // s27: STREAMING SKYLINE — q59's twin (14th pair), the SET-VALUED
  // splice case: frontier membership is non-monotone (a cheaper part
  // arriving later evicts previously-reported frontier points at its
  // size AND every dominated size), so each trigger re-derives the
  // frontier from state and emits it whole under a seq. State is the
  // per-size minimum axis — ≤50 entries regardless of data volume, the
  // bounded-state property that makes this twin production-shaped
  // (q59's axis-collapse argument, incrementalized).
  val s27_stream_skyline: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
    // state: per size → (min price, ties at that price as (key, name))
    streamTwin(s, shards(p, col("p_partkey")), Nil, "seq") {
      _.as[(Long, String, Int, Double)]
        .groupByKey(_ => 0)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: Int, batch: Iterator[(Long, String, Int, Double)],
              state: GroupState[(Map[Int, (Double, Seq[(Long, String)])], Long)]) =>
            var (axis, seq) = state.getOption.getOrElse(
              (Map.empty[Int, (Double, Seq[(Long, String)])], 0L))
            batch.foreach { case (k, n, sz, pr) =>
              axis.get(sz) match {
                case Some((mp, _)) if pr > mp => ()
                case Some((mp, ties)) if pr == mp => axis += sz -> (mp, ties :+ (k, n))
                case _ => axis += sz -> (pr, Seq((k, n)))
              }
            }
            seq += 1
            state.update((axis, seq))
            // frontier: min price at size, and all strictly larger sizes cost more
            val bySizeDesc = axis.toSeq.sortBy(-_._1)
            var rmin = Double.MaxValue
            val frontier = bySizeDesc.flatMap { case (sz, (mp, ties)) =>
              val keep = mp < rmin
              rmin = math.min(rmin, mp)
              if (keep) ties.map { case (k, n) => (k, n, sz, mp) } else Nil
            }
            Iterator.single((seq, frontier.sortBy(_._1)))
        }
        .toDF("seq", "frontier")
    } { panel =>
      panel.select(explode(col("frontier")).as("f"))
        .select(col("f._1").as("p_partkey"), col("f._2").as("p_name"),
          col("f._3").as("p_size"), col("f._4").as("p_retailprice"))
        .orderBy("p_partkey")
    }
  }

  // s28: STREAMING DATA-QUALITY CONSTRAINTS — x29's twin (15th pair,
  // and the first x↔s one): the validation gate run CONTINUOUSLY at
  // the ingest edge instead of before publish. Every lineitem
  // constraint is a conditional counter, so the whole check is ONE
  // global streaming aggregation over the stream left-joined to the
  // static orders key set (stream-static left join = the standing FK
  // probe); each trigger emits the running totals and the final
  // ratios hash-match x29's lineitem report rows verbatim.
  val s28_stream_constraints: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val okeys = Tables.orders(s, d).select(col("o_orderkey"))
    streamTwin(s, shards(li, col("l_orderkey") + col("l_linenumber")), Nil, "n") {
      _.join(okeys, col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
          sum((col("l_discount") < 0 || col("l_discount") > 0.1).cast("long"))
            .as("bad_disc"),
          sum((!col("l_returnflag").isin("A", "N", "R")).cast("long"))
            .as("bad_flag"),
          sum((col("l_extendedprice") <= 0).cast("long")).as("bad_price"),
          sum(col("o_orderkey").isNull.cast("long")).as("orphans"))
    } { panel =>
      val t = panel.head()
      val n = t.getAs[Long]("n").toDouble
      def r6(v: Double): Double = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val report = Seq(
        ("lineitem", "completeness(l_quantity)", 1.0 - t.getAs[Long]("null_qty") / n),
        ("lineitem", "range(l_discount in [0, 0.1])", 1.0 - t.getAs[Long]("bad_disc") / n),
        ("lineitem", "accepted(l_returnflag in A/N/R)", 1.0 - t.getAs[Long]("bad_flag") / n),
        ("lineitem", "positive(l_extendedprice)", 1.0 - t.getAs[Long]("bad_price") / n),
        ("lineitem", "referential(l_orderkey -> orders)", 1.0 - t.getAs[Long]("orphans") / n))
      report.map { case (tb, c, v) => (tb, c, r6(v), if (v >= 1.0) 1 else 0) }
        .toDF("table_name", "constraint_name", "metric", "passed")
        .orderBy("table_name", "constraint_name")
    }
  }

  // s29: STREAMING GAP FILL — q60's twin (15th batch↔streaming pair):
  // state is the per-day observation-count map (bounded by the day
  // axis, NOT the data — s26's discipline); every trigger folds the
  // batch into the map, rebuilds the calendar spine over the observed
  // bounds, forward-fills, and emits the full report under a seq; the
  // panel keeps the last emission. A late batch can EXTEND the spine
  // backward (a new minimum day) or turn a previously-forward-filled
  // hole into an observation — both simply rewrite the next ≤|days|-row
  // snapshot. Hash-matches q60's batch oracle verbatim.
  val s29_stream_gap_fill: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") > graft.ops.Relational.GapFillMinQty)
      .select(col("l_orderkey"),
        date_format(to_date(col("l_shipdate")), "yyyy-MM-dd").as("day"))
    streamTwin(s, shards(li, col("l_orderkey")).map(_.select("day")), Nil, "seq") {
      _.as[String]
        .groupByKey(_ => 0)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: Int, batch: Iterator[String], state: GroupState[(Map[String, Long], Long)]) =>
            var (counts, seq) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
            batch.foreach(day => counts += day -> (counts.getOrElse(day, 0L) + 1L))
            seq += 1
            state.update((counts, seq))
            val days = counts.keys.toSeq.sorted
            val (lo, hi) = (java.time.LocalDate.parse(days.head),
              java.time.LocalDate.parse(days.last))
            var lastN = 0L
            val series = Iterator.iterate(lo)(_.plusDays(1))
              .takeWhile(!_.isAfter(hi)).map { d0 =>
                val key = d0.toString
                val filled = !counts.contains(key)
                if (!filled) lastN = counts(key)
                (key, lastN, if (filled) 1 else 0)
              }.toSeq
            Iterator.single((seq, series))
        }
        .toDF("seq", "series")
    } { panel =>
      panel.select(explode(col("series")).as("e"))
        .select(col("e._1").as("day"), col("e._2").as("n"),
          col("e._3").as("was_filled"))
        .orderBy("day")
    }
  }

  // s30: STREAMING BENFORD AUDIT — q76's twin (17th pair): the
  // first-digit profile run continuously at the ingest edge (catch a
  // corrupted or synthetic feed the moment it lands, not at the nightly
  // batch). Digits extract in the same exact integer domain; state is
  // the 9-entry digit-count map (s23's bounded fold); every trigger
  // emits the full ≤9-row profile under a seq and the snapshot
  // recomputes share/χ² from the final counts, hash-matching q76's
  // batch oracle verbatim.
  val s30_stream_benford: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"),
        substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
    streamTwin(s, shards(src, col("o_orderkey")).map(_.select("digit")), Nil, "seq") {
      _.as[Int]
        .groupByKey(_ => 0)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: Int, batch: Iterator[Int], state: GroupState[(Map[Int, Long], Long)]) =>
            var (counts, seq) = state.getOption.getOrElse((Map.empty[Int, Long], 0L))
            batch.foreach(dg => counts += dg -> (counts.getOrElse(dg, 0L) + 1L))
            seq += 1
            state.update((counts, seq))
            Iterator.single((seq, counts.toSeq.sortBy(_._1)))
        }
        .toDF("seq", "counts")
    } { panel =>
      val digits = panel
        .select(explode(col("counts")).as("c"))
        .select(col("c._1").as("digit"), col("c._2").as("n"))
      val tot = digits.agg(sum("n").cast("double").as("total"))
      digits.crossJoin(broadcast(tot))
        .withColumn("bp", log10(lit(1.0) + lit(1.0) / col("digit")))
        .select(col("digit"), col("n"),
          round(col("n") / col("total"), 4).as("share"),
          round(col("bp"), 4).as("benford_p"),
          round(pow(col("n") - col("total") * col("bp"), 2) /
            (col("total") * col("bp")), 4).as("chi2_term"))
        .orderBy("digit")
    }
  }

  // s31: STREAMING TIME-TO-CONVERT — q84's twin (18th pair): the
  // funnel-latency profile maintained continuously. Per-user state is
  // (min view us, k smallest purchase us) with k=8 — BOUNDED scalars,
  // not event history. Why a purchase LIST: a late-arriving earlier
  // view moves the first-view mark backward, and the answer "first
  // purchase AFTER first view" must then re-resolve against purchases
  // already seen — keeping the k smallest purchase times makes the
  // fold arrival-order-insensitive (exact unless more than k purchases
  // precede the user's final first view; the spec pins equality to the
  // batch answer, and k=8 covers this corpus with slack). The final
  // snapshot recomputes q84's profile from the per-user states and
  // hash-matches q84's oracle verbatim.
  /** s31's stateful fold over a (user_id, event_type, us) stream:
    * bounded (min view, k-min purchases) state per user, emitting
    * (user_id, seq, fv, fp, n_evicted) — n_evicted counts purchase
    * timestamps the k-min bound dropped, making the bound's exactness
    * trade observable (s24's discipline): a user's final (fv, fp) is
    * exact whenever their final n_evicted is 0.
    */
  private def timeToConvertFold(k: Int)(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val fn: (Long, Iterator[(Long, String, Long)],
        GroupState[(Long, Seq[Long], Long, Long)]) =>
        (Long, Long, Long, Long, Long) = (uid, events, state) => {
      var (fv, ps, seq, nev) = state.getOption.getOrElse(
        (Long.MaxValue, Seq.empty[Long], 0L, 0L))
      events.foreach { case (_, t, us) =>
        if (t == "view") { if (us < fv) fv = us }
        else {
          ps = (us +: ps).sorted
          if (ps.size > k) { ps = ps.take(k); nev += 1 }
        }
      }
      seq += 1
      state.update((fv, ps, seq, nev))
      val fp = ps.find(_ > fv).getOrElse(Long.MinValue)
      (uid, seq, fv, fp, nev)
    }
    requireFunnelSchema(events).as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF("user_id", "seq", "fv", "fp", "n_evicted")
  }

  /** s31's engine over `parts` (frames of (user_id, event_type, us),
    * one per trigger): the full emission log, one row per user per
    * trigger. Public so the spec can drive it with a small k, plant a
    * >k-crowded user, and pin the counter > 0.
    */
  def streamTimeToConvert(s: SparkSession, parts: Seq[DataFrame],
      k: Int): DataFrame =
    streamTwin(s, parts, Seq("user_id", "seq"), "seq")(timeToConvertFold(k))(identity)

  val s31_stream_time_to_convert: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // state: (min view us or MaxValue, SORTED purchase us list — the
    // k smallest purchases; K=64 clears the generator's ≤32-per-type
    // per-user cap at every sf — the full-surface sf1 gate caught
    // K=8 evicting the qualifying purchase for tail users; the
    // emission's n_evicted counter makes any violation observable)
    streamTwin(s, shards(ev, col("event_id")).map(_.drop("event_id")),
      Seq("user_id"), "seq")(timeToConvertFold(64)) { panel =>
      val conv = panel
        .filter(col("fv") =!= Long.MaxValue) // users with a view
        .select(when(col("fp") =!= Long.MinValue,
          (col("fp") - col("fv")) / lit(3600000000.0)).as("delay_h"))
      // delay quantiles via the bounded rank machinery (r16: q84's
      // exactQuantiles twin — one pass, no Percentile buffer)
      val qtl = graft.ops.Relational.exactQuantiles(
        conv, "delay_h", Seq(0.25, 0.5, 0.75, 0.9))
      conv.agg(count(lit(1)).as("n_viewers"),
        count(col("delay_h")).as("n_converted"),
        round(count(col("delay_h")) / count(lit(1)).cast("double"), 4).as("cvr"))
        .crossJoin(broadcast(qtl))
        .select(col("n_viewers"), col("n_converted"), col("cvr"),
          round(col("qs").getItem(0), 2).as("p25_h"),
          round(col("qs").getItem(1), 2).as("p50_h"),
          round(col("qs").getItem(2), 2).as("p75_h"),
          round(col("qs").getItem(3), 2).as("p90_h"))
    }
  }

  // s32: STREAMING MARKET CONCENTRATION — q87's twin (19th pair): the
  // HHI/CR4 profile maintained continuously over the enriched
  // (market, supplier, revenue) feed. Per-market state is the
  // supplier → revenue-sum map: bounded by the SUPPLIER DIMENSION, not
  // the stream (a 100 TB lineitem feed folds into the same ≤|suppliers|
  // entries per market). Each trigger emits the full map under a seq;
  // the panel holds the latest per market and the snapshot runs q87's
  // OWN concentration math (hhiProfile — twin equality is structural,
  // not re-derived), hash-matching q87's batch oracle verbatim.
  val s32_stream_hhi: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val feed = graft.ops.Relational.marketSupplierRevenue(s, d)
    streamTwin(s, shards(feed, col("l_suppkey")), Seq("n_name"), "seq") {
      _.as[(String, Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (mkt: String, batch: Iterator[(String, Long, Double)],
              state: GroupState[(Map[Long, Double], Long)]) =>
            var (revs, seq) = state.getOption.getOrElse((Map.empty[Long, Double], 0L))
            batch.foreach { case (_, sk, r) =>
              revs += sk -> (revs.getOrElse(sk, 0.0) + r)
            }
            seq += 1
            state.update((revs, seq))
            (mkt, seq, revs.toSeq.sortBy(_._1))
        }
        .toDF("n_name", "seq", "sups")
    } { panel =>
      graft.ops.Relational.hhiProfile(panel
        .select(col("n_name"), explode(col("sups")).as("sv"))
        .select(col("n_name"), col("sv._1").as("l_suppkey"), col("sv._2").as("rev")))
    }
  }

  // s33: STREAMING INTER-PURCHASE CYCLE — q82's twin (20th pair): the
  // replenishment-cadence histogram maintained at the ingest edge. The
  // delivery contract is IN-ORDER PER KEY (what a customer-keyed Kafka
  // topic or a CDC stream provides): the harness lands four files
  // covering disjoint CHRONOLOGICAL date ranges and each trigger sorts
  // its in-batch orders per customer, so per-customer state is exactly
  // (last order day+key, gap-week count map) — O(1) plus the bounded
  // gap-week axis, NEVER lifetime order history (the s25 lesson,
  // applied from the start). The panel holds each customer's latest
  // map and the snapshot rolls the corpus histogram — hash-matching
  // q82's batch oracle verbatim.
  val s33_stream_interpurchase: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val ord = Tables.orders(s, d)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("days"),
        col("o_orderkey"))
    streamTwin(s, chronological(ord, "days"), Seq("cust"), "seq") {
      _.as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (cust: Long, batch: Iterator[(Long, Long, Long)],
              state: GroupState[(Long, Long, Map[Long, Long], Long)]) =>
            var (lastD, lastK, hist, seq) = state.getOption.getOrElse(
              (Long.MinValue, Long.MinValue, Map.empty[Long, Long], 0L))
            batch.toSeq.sortBy(o => (o._2, o._3)).foreach { case (_, days, okey) =>
              if (lastD != Long.MinValue) {
                val gw = (days - lastD) / 7
                hist += gw -> (hist.getOrElse(gw, 0L) + 1L)
              }
              lastD = days; lastK = okey
            }
            seq += 1
            state.update((lastD, lastK, hist, seq))
            (cust, seq, hist)
        }
        .toDF("cust", "seq", "hist")
    } { panel =>
      val gaps = panel.select(explode(col("hist")).as(Seq("gap_weeks", "n")))
      val tot = gaps.agg(sum("n").cast("double").as("total"))
      gaps.groupBy("gap_weeks").agg(sum("n").as("n_gaps"))
        .crossJoin(broadcast(tot))
        .select(col("gap_weeks"), col("n_gaps"),
          round(col("n_gaps") / col("total"), 4).as("pct"))
        .orderBy("gap_weeks")
    }
  }

  // s34: STREAMING DAU/WAU STICKINESS — q93's twin (21st pair), and the
  // fully ORDER-TOLERANT state design: every trigger emits the batch's
  // (user, day) pairs outright; per-user state keeps only a ≤7-day
  // recency set used to SUPPRESS re-emission of recently-seen days (an
  // optimization, never a correctness dependency — an evicted day that
  // reappears re-emits, and the panel, keyed by (user, day), holds it
  // once, so at-least-once delivery and any arrival order are both
  // exact). State is O(7) per user regardless of lifetime; the
  // snapshot runs q93's own explode-to-window-ends math, hash-matching
  // its oracle.
  val s34_stream_stickiness: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("days"))
    streamTwin(s, shards(ev, col("event_id")).map(_.drop("event_id")),
      Seq("user_id", "days"), "seq") {
      _.as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, batch: Iterator[(Long, Long)], state: GroupState[(Seq[Long], Long)]) =>
            val (recent, seq) = state.getOption.getOrElse((Seq.empty[Long], 0L))
            val fresh = batch.map(_._2).toSeq.distinct.filterNot(recent.contains)
            val horizon = (recent ++ fresh).max - 6
            state.update(((recent ++ fresh).distinct.filter(_ >= horizon), seq + 1))
            (uid, seq + 1, fresh)
        }
        .toDF("user_id", "seq", "fresh")
        .select(col("user_id"), explode(col("fresh")).as("days"), col("seq"))
    } { panel =>
      val ud = panel.select(col("user_id"),
        date_add(lit("1970-01-01").cast("date"), col("days").cast("int")).as("day"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          round(col("dau") / col("wau").cast("double"), 4).as("stickiness"))
        .orderBy("day")
    }
  }

  // s35: STREAMING CLAMPED BALANCE — q95's twin (22nd pair), and the
  // recurrence q95 needed the reflection identity for is NATIVE here:
  // fold B = max(0, B + δ) as deltas arrive. Per-brand state is THREE
  // scalars (last week, balance, seq) — O(1) per brand forever, the
  // smallest state of any twin. In-order per-key delivery (chronological
  // week-range files, s33's contract); in-trigger weeks fold sorted.
  // Each trigger emits the weeks it closed, one row each; the panel
  // keeps the latest row per (brand, week) and hash-matches q95's
  // batch oracle.
  val s35_stream_balance: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val epoch = lit("1970-01-01").cast("date")
    val feed = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (datediff(to_date(col("l_shipdate")), epoch) / 7)
          .cast("long").as("week"),
        when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(-col("l_quantity")).as("q"))
    streamTwin(s, chronological(feed, "week"), Seq("p_brand", "week"), "seq") {
      _.as[(String, Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (brand: String, batch: Iterator[(String, Long, Double)],
              state: GroupState[(Long, Double, Long)]) =>
            val st = state.getOption.getOrElse((Long.MinValue, 0.0, 0L))
            var bal = st._2
            val emitted = batch.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
              .map { case (week, rows) =>
                val delta = rows.map(_._3).sum
                bal = math.max(0.0, bal + delta)
                (week, delta, bal)
              }
            state.update((emitted.lastOption.map(_._1).getOrElse(st._1), bal, st._3 + 1))
            (brand, st._3 + 1, emitted)
        }
        .toDF("p_brand", "seq", "rows")
        .select(col("p_brand"), col("seq"), explode(col("rows")).as("r"))
        .select(col("p_brand"), col("r._1").as("week"), col("r._2").as("delta"),
          col("r._3").as("balance"), col("seq"))
    } { panel =>
      panel.select("p_brand", "week", "delta", "balance")
        .orderBy("p_brand", "week")
    }
  }

  // s36: STREAMING WEIGHTED SAMPLE — t28's twin (23rd pair): the
  // Efraimidis-Spirakis reservoir maintained continuously. Because the
  // E-S keys are hash-derived (deterministic per doc), the fold is a
  // pure top-3-by-key merge per source — COMMUTATIVE, so delivery
  // order is irrelevant (doc-id-sharded files, no chronological
  // contract needed) and state is exactly 3 rows per source. Scores
  // and keys come from t28's OWN weightedSampleScores frame (twin
  // equality structural); ordering matches topk_by's contract (highest
  // k, ties to the LOWEST doc_id).
  val s36_stream_weighted_sample: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val feed = graft.ops.TextAnalysis.weightedSampleScores(s, d)
      .select(col("source"), col("doc_id"), col("score"), col("k"))
    streamTwin(s, shards(feed, col("doc_id")), Seq("source"), "seq") {
      _.as[(String, Long, Double, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (src: String, batch: Iterator[(String, Long, Double, Double)],
              state: GroupState[(Seq[(Long, Double, Double)], Long)]) =>
            val st = state.getOption.getOrElse(
              (Seq.empty[(Long, Double, Double)], 0L))
            val merged = (st._1 ++ batch.map(b => (b._2, b._3, b._4)))
              .sortBy(e => (-e._3, e._1)).take(3)
            state.update((merged, st._2 + 1))
            (src, st._2 + 1, merged.map(e => (e._1, e._2)))
        }
        .toDF("source", "seq", "top")
    } { panel =>
      panel.select(col("source"), posexplode(col("top")).as(Seq("pos", "r")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
          col("r._1").as("doc_id"), col("r._2").as("score"))
        .orderBy("source", "rn")
    }
  }

  // s37: STREAMING DATA-QUALITY SCORECARD — q100's twin (24th pair),
  // restricted to its COMMUTATIVE checks: FK integrity rides a
  // stream-static broadcast join and the domain checks are pure
  // conditional sums, so ANY shard delivery order merges to the batch
  // answer (the harness lands four orderkey-sharded files —
  // deliberately not chronological). PK uniqueness needs keyed dedup
  // state (s03's discipline) and stays batch-side; SURVEY documents
  // the split. State is ONE global row of four counters — the
  // smallest possible streaming-audit footprint; the panel holds the
  // latest (max-n) row, unpivoted to q100's per-check shape with
  // stack().
  val s37_stream_scorecard: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey")
    val feed = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    streamTwin(s, shards(feed, col("o_orderkey")), Nil, "n") {
      _.join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
        .select(col("c_custkey").isNull.cast("long").as("fk"),
          (col("o_totalprice").isNull || col("o_totalprice") <= 0)
            .cast("long").as("pr"),
          (col("o_orderdate") < lit("1995-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("2002-01-01").cast("timestamp"))
            .cast("long").as("dt"),
          (col("o_totalprice") > 450000.0).cast("long").as("hi"))
        .agg(sum("fk").as("fk"), sum("pr").as("pr"), sum("dt").as("dt"),
          sum("hi").as("hi"), count(lit(1)).as("n"))
    } { panel =>
      panel
        .select(expr("stack(4, 'fk_orders_customer', fk, " +
          "'orders_date_domain', dt, 'orders_price_domain', pr, " +
          "'orders_suspicious_high', hi) as (check, n_violations)"),
          col("n").as("n_total"))
        .withColumn("ok", col("n_violations") === 0)
        .orderBy("check")
    }
  }

  // s38: STREAMING BOOTSTRAP CI — q101's twin (25th pair): the
  // Poisson-bootstrap replicate sums (Σw·cents, Σw per priority ×
  // replicate) are plain COMMUTATIVE sums of hash-derived weights, so
  // even the bootstrap is a streaming-mergeable statistic: a keyed
  // update-mode aggregation over orderkey-sharded (non-chronological)
  // delivery, state = the bounded 5×100 replicate grid of two
  // counters. The panel holds each key's latest partial (max rows
  // seen) and the snapshot runs q101's OWN readout — twin equality is
  // structural (shared poissonWeight + bootstrapReadout), and the
  // oracle is q101's verbatim.
  val s38_stream_bootstrap: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    streamTwin(s, shards(feed, col("o_orderkey")), Seq("prio", "b"), "n") {
      _.withColumn("b", explode(expr("sequence(1, 100)")))
        .withColumn("w",
          graft.ops.Relational.poissonWeight(col("o_orderkey"), col("b")))
        .groupBy(col("prio"), col("b"))
        .agg(sum(col("w") * col("cents")).as("swc"), sum("w").as("sw"),
          count(lit(1)).as("n"))
    } { panel =>
      graft.ops.Relational.bootstrapReadout(
        panel.select(col("prio"), col("swc"), col("sw")))
    }
  }

  /** Committed compacted-state versions under a harness state dir,
    * ascending. A version counts as committed iff its parquet
    * `_SUCCESS` marker exists — the marker is the commit record, and
    * retirement deletes it FIRST, so a crash mid-delete can never leave
    * a half-deleted dir that still looks committed.
    */
  private def committedStates(
      snapDir: java.nio.file.Path): Seq[(Long, java.nio.file.Path)] = {
    val st = java.nio.file.Files.list(snapDir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("state_v") &&
          java.nio.file.Files.exists(p.resolve("_SUCCESS")))
        .map(p => (p.getFileName.toString.stripPrefix("state_v").toLong, p))
        .sortBy(_._1)
    } finally st.close()
  }

  /** Default hash-bucket count for a harness state dir. Each key
    * lives in bucket `pmod(hash(keys), B)`; a micro-batch rewrites ONLY
    * the buckets its keys hash into, so per-trigger write volume is
    * O(keys in touched buckets), never O(key space). 16 fits the small
    * bounded test axes; sf-proportional lanes size B from their key
    * cardinality via `sizedSnapshotBuckets` (round-14 verdict residual).
    */
  val snapshotBuckets = 16

  /** Production sizing rule for a harness bucket count:
    * B ≈ key_space / targetKeysPerBucket, exactly like table bucketing,
    * clamped to [snapshotBuckets, 4096] — the floor keeps small test
    * axes on a meaningful multi-bucket layout, the cap bounds the
    * state-dir fan-out (4096 dirs × target keys each covers a 2M-key
    * axis at the default; raise the target, not the cap, beyond that).
    * With B sized this way a touched bucket rewrites
    * O(targetKeysPerBucket) rows REGARDLESS of key-space scale, so a
    * 1-key micro-batch costs ⌈keys/B⌉ + batch rows, never O(key space)
    * — the contract the single-key-batch spec pins.
    */
  def sizedSnapshotBuckets(keySpace: Long,
      targetKeysPerBucket: Long = 512): Int = {
    require(targetKeysPerBucket > 0, "targetKeysPerBucket must be positive")
    val b = (keySpace + targetKeysPerBucket - 1) / targetKeysPerBucket
    math.max(snapshotBuckets.toLong, math.min(4096L, b)).toInt
  }

  /** A row's bucket: `pmod(hash(keys), B)`, or bucket 0 for a key-less
    * (global) panel, whose one row always lands in the same bucket.
    */
  private def bucketOf(keys: Seq[String], buckets: Int): Column =
    if (keys.isEmpty) lit(0) else pmod(hash(keys.map(col): _*), lit(buckets))

  /** Latest committed state version per bucket under a bucketed
    * harness state dir, strictly below `below` (batchId-keyed
    * replay base). Buckets never touched by any batch have no dir and
    * are simply absent — an absent bucket holds no keys.
    */
  private[graft] def latestBucketStates(
      snapDir: java.nio.file.Path, below: Long = Long.MaxValue,
      buckets: Int = snapshotBuckets)
      : Seq[(Int, Long, java.nio.file.Path)] =
    (0 until buckets).flatMap { b =>
      val bd = snapDir.resolve(f"bkt_$b%02d")
      if (!java.nio.file.Files.isDirectory(bd)) Nil
      else committedStates(bd).filter(_._1 < below).lastOption
        .map { case (v, p) => (b, v, p) }
    }

  /** The current compacted panel: the union of each bucket's latest
    * committed state (one row per touched key). Used by the harness
    * readout and by the scratch-bound / prefix-consistency specs.
    */
  private[graft] def snapshotPanel(ss: SparkSession,
      snapDir: java.nio.file.Path,
      buckets: Int = snapshotBuckets): DataFrame =
    ss.read.parquet(
      latestBucketStates(snapDir, buckets = buckets).map(_._3.toString): _*)

  /** One micro-batch of the INCREMENTAL snapshot compaction: merge the
    * batch's rows into the previous committed state of ONLY the hash
    * buckets the batch touches (the latest row per `keys` wins by
    * `ord`, which strictly increases across a key's successive
    * emissions — an update-mode aggregate's `n = count(*)` or a
    * stateful fold's `seq`), land all touched buckets in ONE
    * partitioned write, and commit each bucket by moving its partition
    * dir to a batchId-versioned state dir and creating its `_SUCCESS`
    * marker (the move-then-mark is the per-bucket commit point).
    * Untouched buckets are never listed, read, or written — their
    * files stay byte-identical across the trigger (spec-pinned), which
    * is what makes a small batch cost O(batch + touched-bucket keys)
    * instead of a key-space-sized rewrite (round-13 verdict item 1).
    *
    * Replay discipline is per bucket: the merge base is that bucket's
    * highest COMMITTED version strictly below the current batchId, so a
    * replayed micro-batch re-merges against the true pre-batch state
    * and overwrite-rewrites its own version — batchId-keyed
    * idempotency under at-least-once foreachBatch semantics. A crash
    * between bucket commits leaves some buckets committed at this
    * batchId and some not; the replay rebuilds both identically
    * (committed ones are excluded from their own base by the `<
    * batchId` filter). Retirement keeps the bucket's MERGE BASE
    * alongside the new version (≤2 committed versions per bucket) and
    * deletes only versions older than the base, `_SUCCESS` first —
    * deleting the base itself would strand a replay of this batchId
    * with no pre-batch state and silently drop every key the batch
    * did not touch (caught by the replay-idempotency spec; the
    * engine never replays batch k once k+1 has started, so the
    * immediate predecessor is exactly the retention replay needs).
    */
  private[graft] def mergeSnapshotBatch(snapDir: java.nio.file.Path,
      keys: Seq[String], batchId: Long, df: DataFrame,
      buckets: Int = snapshotBuckets, ord: String = "n"): Unit = {
    val ss = df.sparkSession
    val valNames = df.columns.filterNot(keys.contains).toSeq
    val bdf = df
      .withColumn("_bkt", bucketOf(keys, buckets))
      .persist() // reused for the touched-bucket probe and the merge
    try {
      val touched = bdf.select("_bkt").distinct()
        .collect().map(_.getInt(0)).sorted // bounded by `buckets`
      val baseStates = latestBucketStates(snapDir, below = batchId, buckets)
        .filter { case (b, _, _) => touched.contains(b) }
      val baseVersion = baseStates
        .map { case (b, v, _) => b -> v }.toMap
      // ONE multi-path read of every touched bucket's base: a per-path
      // union would hand Catalyst a B-ary left-deep plan whose analysis
      // is superlinear in B — with sized bucket counts (≤4096) the
      // driver spun for minutes in the analyzer (caught by the r15 sf5
      // multi-JVM gate). _bkt recomputes from the keys — the same
      // deterministic bucketOf that routed the rows at write time.
      val base =
        if (baseStates.isEmpty) None
        else Some(ss.read.parquet(baseStates.map(_._3.toString): _*)
          .withColumn("_bkt", bucketOf(keys, buckets)))
      val merged = base.fold(bdf: DataFrame)(bdf.unionByName(_))
        .groupBy(("_bkt" +: keys).map(col): _*)
        .agg(max_by(struct(valNames.map(col): _*), col(ord)).as("st"))
        .select(col("_bkt") +: (keys.map(col) ++
          valNames.map(v => col("st." + v).as(v))): _*)
      val tmp = snapDir.resolve(f"inflight_v$batchId%05d")
      if (java.nio.file.Files.exists(tmp)) // crashed prior attempt
        graft.sources.SourceSinks.deleteDir(tmp)
      merged.write.partitionBy("_bkt").mode("overwrite")
        .parquet(tmp.toString)
      touched.foreach { b =>
        val bd = snapDir.resolve(f"bkt_$b%02d")
        java.nio.file.Files.createDirectories(bd)
        val dst = bd.resolve(f"state_v$batchId%05d")
        if (java.nio.file.Files.exists(dst)) // uncommitted leftover
          graft.sources.SourceSinks.deleteDir(dst)
        java.nio.file.Files.move(tmp.resolve(s"_bkt=$b"), dst)
        java.nio.file.Files.createFile(dst.resolve("_SUCCESS")) // commit
        // keep the merge base (replay of THIS batchId re-merges against
        // it); retire everything older
        committedStates(bd)
          .filter(_._1 < baseVersion.getOrElse(b, batchId))
          .foreach { case (_, p) =>
            java.nio.file.Files.deleteIfExists(p.resolve("_SUCCESS"))
            graft.sources.SourceSinks.deleteDir(p)
          }
      }
      graft.sources.SourceSinks.deleteDir(tmp)
    } finally bdf.unpersist()
  }

  /** `feed` cut into `n` parts by `pmod(shard, n)`: adversarial,
    * non-chronological delivery for a commutative fold.
    */
  def shards(feed: DataFrame, shard: Column, n: Int = 4): Seq[DataFrame] =
    (0 until n).map(i => feed.filter(pmod(shard, lit(n)) === i))

  /** `feed` cut into four parts over disjoint, ascending ranges of the
    * integral column `by`: in-order per-key delivery (s33, s35).
    */
  private def chronological(feed: DataFrame, by: String): Seq[DataFrame] = {
    val b = feed.agg(min(by), max(by)).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    (0 until 4).map { i =>
      val until = if (i == 3) hi + 1 else lo + (i + 1) * span / 4
      feed.filter(col(by) >= lo + i * span / 4 && col(by) < until)
    }
  }

  /** The streaming-twin harness: every batch↔streaming twin lands,
    * streams and compacts through it.
    *
    *  1. lands each of `parts` as one parquet file;
    *  2. streams them back one file per trigger through the lane's
    *     stateful `build` (an update-mode aggregation, or a
    *     `[flat]MapGroupsWithState` fold and whatever stateless
    *     projection follows it);
    *  3. merges each micro-batch's emissions into a hash-bucketed,
    *     batchId-versioned parquet store with `mergeSnapshotBatch`,
    *     keeping the latest row per `keys` by `ord`;
    *  4. materializes `readout(panel)` — the panel is the store's
    *     current rows — eagerly (`localCheckpoint`) before it deletes
    *     its scratch dirs; `readout` must return a BOUNDED frame.
    *
    * Store contract. `ord` must strictly increase across the
    * successive emissions of one key: an aggregate's `n = count(*)`, a
    * fold's `seq`. `keys = Nil` keeps one global row (a whole-series
    * fold); keying by (key, `seq`) keeps every emission (the engines'
    * full logs). The panel then holds at most one row per key, so
    * scratch is bounded by the KEY SPACE, not by the trigger count
    * (round-12 item), and a trigger rewrites only the buckets its rows
    * hash into (round-13 item). A micro-batch replayed under
    * at-least-once delivery re-merges against the bucket's pre-batch
    * version, so the store is exactly-once per batchId — the
    * `foreachBatch` + committed-store sink of Structured Streaming.
    *
    * There is no memory sink. It appends every trigger's emission to
    * driver heap and keeps it under a temp view for the life of the
    * session: a dimension-sized panel × triggers is what OOMed the sf5
    * run in round 10, and a twin that forgot to drop its view leaked
    * it for good.
    *
    * The state scratch is a SIBLING temp dir, never inside the
    * monitored source dir (which is read with recursiveFileLookup
    * precisely so that nesting scratch back inside it would fail the
    * gates loudly instead of depending on non-recursive listing
    * semantics). `probe`, when given, runs after the stream stops with
    * (session, state ROOT dir, number of committed batches) — read the
    * panel with `snapshotPanel` — the scratch-bound spec uses it to
    * assert rows ≤ key space after ≥8 triggers.
    */
  def streamTwin(s: SparkSession, parts: Seq[DataFrame], keys: Seq[String],
      ord: String, probe: (SparkSession, java.nio.file.Path, Long) => Unit = null,
      buckets: Int = snapshotBuckets)(build: DataFrame => DataFrame)(
      readout: DataFrame => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_twin")
    val snapDir = java.nio.file.Files.createTempDirectory("graft_twin_state")
    try {
      parts.zipWithIndex.foreach { case (p, i) =>
        graft.sources.SourceSinks.landSingleParquet(p, dir.resolve(f"b$i%02d.parquet"))
      }
      val q = build(s.readStream
          .schema(org.apache.spark.sql.types.StructType(parts.head.schema.fields))
          .option("recursiveFileLookup", "true") // pins sibling scratch
          .option("maxFilesPerTrigger", "1").parquet(dir.toString))
        .writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          // runs on the driver, sequentially per batch
          mergeSnapshotBatch(snapDir, keys, batchId, df, buckets, ord)
        }.start()
      try q.processAllAvailable() finally q.stop()
      val states = latestBucketStates(snapDir, buckets = buckets)
      // an empty feed commits no bucket: fail loudly rather than let
      // max-of-empty / a zero-path parquet read surface as an
      // unrelated schema-inference error (ADVICE r14)
      require(states.nonEmpty,
        s"streamTwin: no committed snapshot state under $snapDir — " +
          "the feed produced no micro-batch")
      if (probe != null) probe(s, snapDir, states.map(_._2).max + 1)
      readout(snapshotPanel(s, snapDir, buckets)).localCheckpoint(true)
    } finally {
      graft.sources.SourceSinks.deleteDir(dir)
      graft.sources.SourceSinks.deleteDir(snapDir)
    }
  }

  /** The aggregate case of `streamTwin`: an update-mode keyed
    * aggregation (`keys` × `aggs`, plus an always-appended
    * `n = count(*)` freshness counter, the store's `ord`) over `feed`
    * landed as `nShards` parts by `pmod(shard, nShards)`. `readout`
    * receives the compacted panel (keys ++ agg columns ++ `n`).
    */
  def snapshotTwin(s: SparkSession, feed: DataFrame, shard: Column,
      keys: Seq[String], aggs: Seq[Column], nShards: Int = 4,
      probe: (SparkSession, java.nio.file.Path, Long) => Unit = null,
      buckets: Int = snapshotBuckets)(
      readout: DataFrame => DataFrame): DataFrame = {
    val all = aggs :+ count(lit(1)).as("n")
    streamTwin(s, shards(feed, shard, nShards), keys, "n", probe, buckets)(
      _.groupBy(keys.map(col): _*).agg(all.head, all.tail: _*))(readout)
  }

  // s39: STREAMING PRICE INDEX — q105's twin (26th pair): the
  // (part, year) panel of integer-cent revenue and quantity sums is a
  // pure commutative fold, so the whole index pipeline streams — a
  // keyed update-mode aggregation over orderkey-sharded delivery,
  // state bounded by the part×year DIMENSION panel (never the fact
  // count); the compacted snapshot holds each cell's latest partial
  // and q105's OWN readout (shared priceIndexReadout) runs over it,
  // oracle verbatim.
  val s39_stream_price_index: Q = (s, d) => {
    val feed = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        year(to_date(col("l_shipdate"))).as("yr"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        col("l_quantity"))
    // key space = part dimension × ~7 ship years: size B by cardinality
    // (the dimension count is a parquet-metadata read, not a feed scan)
    snapshotTwin(s, feed, col("l_orderkey"), Seq("l_partkey", "yr"),
      Seq(sum("cents").as("c"), sum("l_quantity").as("q")),
      buckets = sizedSnapshotBuckets(Tables.part(s, d).count() * 7)) { panel =>
      graft.ops.Relational.priceIndexReadout(
        panel.select(col("l_partkey"), col("yr"), col("c"), col("q")))
    }
  }

  // s40: STREAMING WAL RETENTION AUDIT — c46's twin (27th pair): every
  // per-segment statistic (op counters, min/max LSN, checkpointed-LSN
  // high-water) is a commutative fold, so the prune planner runs at
  // the ingest edge — update-mode keyed agg over lsn-sharded
  // (non-chronological) delivery, state bounded by the SEGMENT axis
  // (log-length/1000, never the op count). The retention horizon
  // derives in the snapshot as the global max of per-segment
  // conditional maxes — no second pass over the stream. Oracle is
  // c46's verbatim.
  val s40_stream_retention: Q = (s, d) => {
    val feed = graft.cdc.Envelope.flat(Tables.events(s, d))
      .select(col("lsn_long"), col("tx_at"), col("op"))
    streamTwin(s, shards(feed, col("lsn_long")), Seq("seg_id"), "n_ops") {
      _.withColumn("seg_id", expr("lsn_long div 1000"))
        .groupBy("seg_id")
        .agg(count(lit(1)).as("n_ops"),
          sum((col("op") === "c").cast("long")).as("n_insert"),
          sum(col("op").isin("u", "u_pk").cast("long")).as("n_update"),
          sum((col("op") === "d").cast("long")).as("n_delete"),
          min("lsn_long").as("min_lsn"), max("lsn_long").as("max_lsn"),
          max(when(col("tx_at") < lit("2024-01-15").cast("timestamp"),
            col("lsn_long"))).as("ckpt_lsn"))
    } { panel =>
      val hor = panel.agg(coalesce(max("ckpt_lsn"), lit(-1L)).as("horizon"))
      panel.crossJoin(broadcast(hor))
        .withColumn("prunable", col("max_lsn") <= col("horizon"))
        .select(col("seg_id"), col("n_ops"), col("n_insert"),
          col("n_update"), col("n_delete"), col("min_lsn"),
          col("max_lsn"), col("prunable"))
        .orderBy("seg_id")
    }
  }

  // s41: STREAMING COHORT LTV — q106's twin (28th pair): the
  // (customer, quarter) cent panel is a commutative fold and the
  // cohort assignment (min quarter per customer) DERIVES from that
  // panel in the snapshot, so no ordering contract is needed at all —
  // orderkey-sharded delivery, update-mode keyed agg, state = the
  // customer×quarter panel (the c04 apply-table pattern: bounded by
  // the replicated KEY SPACE, never the op count). Snapshot runs
  // q106's OWN readout (shared cohortLtvReadout); oracle verbatim.
  val s41_stream_ltv: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(to_date(col("o_orderdate"))) * 4 +
          quarter(to_date(col("o_orderdate"))) - 1).as("qtr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    // key space = customer dimension × ~28 order quarters
    snapshotTwin(s, feed, col("o_orderkey"), Seq("o_custkey", "qtr"),
      Seq(sum("cents").as("cents")),
      buckets =
        sizedSnapshotBuckets(Tables.customer(s, d).count() * 28)) { panel =>
      // bounded cohort×age readout over the compacted panel
      graft.ops.Relational.cohortLtvReadout(
        panel.select(col("o_custkey"), col("qtr"), col("cents")))
    }
  }

  // s42: STREAMING CONFLICT AUDIT — c48's twin (29th pair), and a NEW
  // state discipline for the pair inventory: the per-key publisher
  // set folds as a BITMASK OR (bit_or of 1<<pub — commutative,
  // idempotent, 1 long) next to the max-LSN winner, so at-least-once
  // REDELIVERY is also safe, not just reordering. Update-mode keyed
  // agg over lsn-sharded delivery; state = (mask, max_lsn) per key
  // (c04's apply-table bound); the snapshot derives distinct-pub
  // counts via bit_count and runs c48's readout. Oracle verbatim.
  val s42_stream_conflict: Q = (s, d) => {
    val feed = graft.cdc.Envelope.flat(Tables.events(s, d))
      .select(col("lsn_long"), col("user_id"))
    // key space = the events user axis, customer-scale in this star
    // schema — size B from the customer dimension (order-of-magnitude
    // is all bucket sizing needs; no feed scan)
    snapshotTwin(s, feed, col("lsn_long"), Seq("user_id"),
      Seq(expr("bit_or(shiftleft(1L, cast(pmod(lsn_long, 3) as int)))")
        .as("mask"), max("lsn_long").as("max_lsn")),
      buckets =
        sizedSnapshotBuckets(Tables.customer(s, d).count())) { panel =>
      // 3-row readout (c48's) over the compacted per-key panel
      panel
        .select(col("user_id"), bit_count(col("mask")).as("n_pubs"),
          col("max_lsn"))
        .groupBy(pmod(col("max_lsn"), lit(3)).cast("int").as("pub"))
        .agg(count(lit(1)).as("n_keys_won"),
          sum((col("n_pubs") > 1).cast("long")).as("n_contested"),
          round(sum((col("n_pubs") > 1).cast("long")) /
            count(lit(1)).cast("double"), 4).as("contest_rate"))
        .orderBy("pub")
    }
  }

  // s43: STREAMING QUALITY YIELD — t50's twin (30th pair): the per-τ
  // doc and token counters are pure conditional sums over the shared
  // t28/t50 score projection (stateless per row), so the curation
  // budget curve maintains itself at the ingest edge with a 3-row
  // counter grid of state. Doc-id-sharded delivery, update-mode keyed
  // agg, panel = latest (max-n_docs) row per τ with t50's own yield
  // expression; oracle verbatim.
  val s43_stream_quality_yield: Q = (s, d) => {
    val feed = graft.ops.TextAnalysis.weightedSampleScores(s, d)
      .select(col("doc_id"), col("score"),
        col("n_tokens").cast("long").as("nt"))
    streamTwin(s, shards(feed, col("doc_id")), Seq("tau"), "n_docs") {
      _.withColumn("tau", explode(array(lit(0.3), lit(0.5), lit(0.7))))
        .groupBy("tau")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("score") >= col("tau")).cast("long")).as("n_kept"),
          sum("nt").as("total_tokens"),
          sum(when(col("score") >= col("tau"), col("nt")).otherwise(0L))
            .as("tokens_kept"))
    } { panel =>
      panel
        .withColumn("token_yield",
          round(col("tokens_kept") / col("total_tokens").cast("double"), 4))
        .orderBy("tau")
    }
  }

  // s44: STREAMING ABC CLASSIFICATION — q66's twin (31st pair): the
  // per-part integer-cents revenue panel is a pure commutative fold
  // (c04's apply-table bound: state scales with the PART key space,
  // never the lineitem count), so Pareto concentration maintains
  // itself at the ingest edge under orderkey-sharded (unordered)
  // delivery. Compacted file-backed snapshot (snapshotTwin); the
  // snapshot holds each part's latest partial and
  // runs q66's OWN readout (shared abcReadout — cumShareDesc's
  // bucket-partitioned running share, twin equality structural).
  // Oracle is q66's verbatim.
  val s44_stream_abc: Q = (s, d) => {
    val feed = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("cents"))
    // key space = the part dimension
    snapshotTwin(s, feed, col("l_orderkey"), Seq("l_partkey"),
      Seq(sum("cents").as("rc")),
      buckets = sizedSnapshotBuckets(Tables.part(s, d).count())) { panel =>
      // ≤3-row readout; the compacted panel is one small parquet scan,
      // cheap for abcReadout's stats pass + scored plan (no persist)
      graft.ops.Relational.abcReadout(
        panel.select(col("l_partkey"), col("rc")))
    }
  }

  // s45: STREAMING PARETO-SHARE DRIFT — q110's twin (32nd pair): the
  // (year, customer) cent panel folds commutatively under
  // orderkey-sharded delivery (key-space-bounded state), and the
  // per-year top-20% concentration derives ENTIRELY in the snapshot
  // via q110's OWN readout (shared paretoDriftReadout — bucketRank's
  // two-level exact ranks). Compacted file-backed snapshot
  // (snapshotTwin). Oracle is q110's verbatim.
  val s45_stream_pareto_drift: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("yr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    // key space = customer dimension × ~7 order years
    snapshotTwin(s, feed, col("o_orderkey"), Seq("yr", "o_custkey"),
      Seq(sum("cents").as("cents")),
      buckets =
        sizedSnapshotBuckets(Tables.customer(s, d).count() * 7)) { panel =>
      // |years|-row readout; compacted panel = one small scan, so the
      // bucket stats pass + ranked plan re-read it cheaply (no persist)
      graft.ops.Relational.paretoDriftReadout(
        panel.select(col("yr"), col("o_custkey"), col("cents")))
    }
  }

  // s46: STREAMING GINI — q85's twin (33rd pair): the per-customer
  // Σ cents spend panel folds commutatively and EXACTLY (integer
  // fold), so the state panel equals the batch spend frame
  // bit-for-bit — twin equality structural, not ulp-argued. Snapshot
  // runs q85's OWN readout (shared giniReadout — rank·x via the
  // bucket machinery). State is bounded by the CUSTOMER key space,
  // never the order count. Oracle is q85's verbatim.
  val s46_stream_gini: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    // key space = the customer dimension
    snapshotTwin(s, feed, col("o_custkey"), Seq("o_custkey"),
      Seq(sum("cents").as("cents")),
      buckets =
        sizedSnapshotBuckets(Tables.customer(s, d).count())) { panel =>
      graft.ops.Relational.giniReadout(panel.select(col("cents")))
    }
  }

  // s47: STREAMING WEIGHTED MEDIAN — q98's twin (34th pair) and the
  // first VALUE-AXIS state discipline: state keys on the observed
  // (returnflag, unit_price) value itself and folds integer quantity
  // weights — bounded by the price axis, never the line count. Exact
  // percentile with frequency semantics is collapse-invariant, so the
  // snapshot's value-collapsed panel through q98's OWN readout (shared
  // wmedianReadout) equals the batch lane EXACTLY — no ulp argument
  // needed (unit_price is per-row derived, weights are longs). At
  // 100 TB the exact panel swaps for approx_percentile in the same
  // fold (q39's documented trade). Oracle is q98's verbatim.
  val s47_stream_wmedian: Q = (s, d) => {
    val feed = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        col("l_quantity").cast("long").as("q"))
    snapshotTwin(s, feed, col("l_orderkey"), Seq("l_returnflag", "unit_price"),
      Seq(sum("q").as("q"))) { panel =>
      graft.ops.Relational.wmedianReadout(
        panel.select(col("l_returnflag"), col("unit_price"), col("q")))
    }
  }

  // s48: STREAMING THEIL — q86's twin (35th pair): the per-customer
  // spend panel folds commutatively under CUSTOMER-sharded delivery
  // (each key's double partial accumulates in one shard, the s46
  // argument). x·ln x is NOT a fold over orders (ln of a sum) — which
  // is exactly why state keys on the CUSTOMER axis (c04's apply-table
  // bound: state scales with the customer key space, never the order
  // count) and the snapshot derives the log terms from each customer's
  // FINAL Σx via q86's OWN readout (shared theilReadout — nation join
  // + per-group sufficient statistics); within-nation re-sum ulps die
  // in the 6dp round. Oracle is q86's verbatim.
  val s48_stream_theil: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice").as("xp"))
    // key space = the customer dimension
    snapshotTwin(s, feed, col("o_custkey"), Seq("o_custkey"),
      Seq(sum("xp").as("x")),
      buckets =
        sizedSnapshotBuckets(Tables.customer(s, d).count())) { panel =>
      graft.ops.Relational.theilReadout(s, d,
        panel.select(col("o_custkey"), col("x")))
    }
  }

  // s49: STREAMING MUTUAL INFORMATION — q113's twin (36th pair) on the
  // VALUE-AXIS state discipline (s47's): state keys on the observed
  // (segment, priority) cell and folds exact integer counts — bounded
  // by the ≤25-cell contingency axis, never the order count. Counts
  // are longs, so the snapshot's cell panel through q113's OWN readout
  // (shared miReadout) equals the batch lane EXACTLY — no ulp argument
  // needed. Oracle is q113's verbatim.
  val s49_stream_mi: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority").as("pri"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .select(col("o_orderkey"), col("seg"), col("pri"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("seg", "pri"),
      Seq(count(lit(1)).as("n_xy"))) { panel =>
      graft.ops.Relational.miReadout(
        panel.select(col("seg"), col("pri"), col("n_xy")))
    }
  }

  // s50: STREAMING CHI-SQUARED — q63's twin (37th pair), value-axis
  // state like s47/s49: state keys on the observed (event_type,
  // weekday) cell and folds exact integer counts — bounded by the
  // ≤|types|·7-cell contingency axis, never the event count. The
  // snapshot widens counts to double and runs q63's OWN readout
  // (shared chisqReadout); counts ≪ 2^53 make the widening exact, so
  // the only cross-path noise is the 35-cell χ² sum order, absorbed
  // by the 4dp round. Oracle is q63's verbatim.
  val s50_stream_chisq: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).as("wd"))
    snapshotTwin(s, feed, col("event_id"), Seq("event_type", "wd"),
      Seq(count(lit(1)).as("cnt"))) { panel =>
      graft.ops.Relational.chisqReadout(
        panel.select(col("event_type"), col("wd"),
          col("cnt").cast("double").as("o")))
    }
  }

  // s51: STREAMING MANN-KENDALL — q91's twin (38th pair) on the
  // CALENDAR-AXIS state discipline: state keys on the day and folds
  // the revenue in EXACT INTEGER CENTS — bounded by the ≤2400-day
  // calendar, never the order count. The cent fold is a commutative
  // long sum, so the compacted panel is bit-identical to the batch
  // daily panel and q91's OWN readout (shared mkReadout) makes twin
  // equality EXACT — signs, ties, variance and all; no ulp argument.
  // Oracle is q91's verbatim.
  val s51_stream_mann_kendall: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("day"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("day"),
      Seq(sum("cents").as("y"))) { panel =>
      graft.ops.Relational.mkReadout(panel.select(col("day"), col("y")))
    }
  }

  // s52: STREAMING BH-FDR — q114's twin (39th pair): the per-nation
  // sufficient statistics (n, Σx, Σx²) are commutative folds, so the
  // multiple-testing monitor runs at the ingest edge — state bounded
  // by the 25-nation axis, never the customer count. The folds are
  // double sums under customer-sharded delivery, so twin equality
  // rests on q114's own discipline: the z is 4dp-rounded BEFORE the
  // tail polynomial, and everything downstream of that single
  // measure-zero boundary (p, BH step-up, discovery) is
  // bit-deterministic — the s46/s48 argument. Oracle is q114's
  // verbatim.
  val s52_stream_fdr: Q = (s, d) => {
    val feed = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .select(col("c_custkey"), col("n_name"), col("c_acctbal"))
    snapshotTwin(s, feed, col("c_custkey"), Seq("n_name"),
      Seq(count(lit(1)).cast("double").as("ng"),
        sum("c_acctbal").as("s1"),
        sum(col("c_acctbal") * col("c_acctbal")).as("s2"))) { panel =>
      graft.ops.Relational.fdrReadout(
        panel.select(col("n_name"), col("ng"), col("s1"), col("s2")))
    }
  }

  // s53: STREAMING THEIL'S U — q115's twin (40th pair), value-axis
  // state like s49 (same feed, same ≤25-cell contingency axis): exact
  // long count folds, so the snapshot panel through q115's OWN
  // readout (shared theilsUReadout) equals the batch lane with only
  // the readout's own ≤25-term sum order in play — absorbed by the
  // 6dp round exactly as in batch. Oracle is q115's verbatim.
  val s53_stream_theils_u: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority").as("pri"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .select(col("o_orderkey"), col("seg"), col("pri"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("seg", "pri"),
      Seq(count(lit(1)).as("n_xy"))) { panel =>
      graft.ops.Relational.theilsUReadout(
        panel.select(col("seg"), col("pri"), col("n_xy")))
    }
  }

  // s54: STREAMING SPRT — q118's twin (41st pair), and the lane SPRT
  // was invented for (a sequential test exists to monitor evidence AS
  // IT ARRIVES): state keys on the day and folds exact (trials,
  // conversions) counts — calendar-bounded, never the event count.
  // Long folds make the compacted daily panel bit-identical to batch;
  // q118's OWN readout (shared sprtReadout) cumulates the same
  // sequence in day order, so twin equality is EXACT. Oracle is
  // q118's verbatim.
  val s54_stream_sprt: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), to_date(col("ts")).as("day"),
        (col("event_type") === "purchase").cast("long").as("pur"))
    snapshotTwin(s, feed, col("event_id"), Seq("day"),
      Seq(count(lit(1)).as("trials"), sum("pur").as("conversions"))) {
      panel =>
        graft.ops.Relational.sprtReadout(
          panel.select(col("day"), col("trials"), col("conversions")))
    }
  }

  // s55: STREAMING CRAMÉR'S V — q117's twin (42nd pair), value-axis
  // state on the observed (event_type, weekday) cell exactly like s50
  // (they share the contingency axis, different readouts): exact long
  // count folds, snapshot widens to double and runs the shared
  // cramersVReadout — only the ≤35-term χ² sum order separates the
  // paths, absorbed by the rounds. Oracle is q117's verbatim.
  val s55_stream_cramers_v: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).as("wd"))
    snapshotTwin(s, feed, col("event_id"), Seq("event_type", "wd"),
      Seq(count(lit(1)).as("cnt"))) { panel =>
      graft.ops.Relational.cramersVReadout(
        panel.select(col("event_type"), col("wd"),
          col("cnt").cast("double").as("o")))
    }
  }

  // s56: STREAMING ODDS RATIO — q116's twin (43rd pair), the smallest
  // state discipline on the board: FOUR cells of (exposure, outcome)
  // state whatever the corpus size. Exact long count folds through
  // q116's OWN readout (shared oddsRatioReadout) — twin equality
  // EXACT; the lane exists because a 2×2 monitor is the canonical
  // always-on safety readout (exposure × adverse-outcome) and the fold
  // shape proves it never needs more than four counters of state.
  // Oracle is q116's verbatim.
  val s56_stream_odds_ratio: Q = (s, d) => {
    val feed = Tables.lineitem(s, d)
      .select(col("l_orderkey"), (col("l_discount") >= 0.05).as("e"),
        (col("l_returnflag") === "R").as("r"))
    snapshotTwin(s, feed, col("l_orderkey"), Seq("e", "r"),
      Seq(count(lit(1)).as("cnt"))) { panel =>
      graft.ops.Relational.oddsRatioReadout(
        panel.select(col("e"), col("r"), col("cnt")))
    }
  }

  // s57: STREAMING CROSS-CORRELATION — q92's twin (44th pair) on the
  // calendar-axis state discipline: state keys on the day and folds
  // exact (view, purchase) counts — bounded by the ≤366-day axis,
  // never the event count. Long folds make the compacted daily panel
  // bit-identical to batch; q92's OWN readout (shared ccfReadout)
  // does all the demeaned-product arithmetic over that panel either
  // way, so the only cross-run noise is the readout's own ≤30-term
  // sum order, absorbed by the 6dp round. Oracle is q92's verbatim.
  val s57_stream_ccf: Q = (s, d) => {
    val feed = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), to_date(col("ts")).as("day"),
        (col("event_type") === "view").cast("long").as("v"),
        (col("event_type") === "purchase").cast("long").as("p"))
    snapshotTwin(s, feed, col("event_id"), Seq("day"),
      Seq(sum("v").as("x"), sum("p").as("y"))) { panel =>
      graft.ops.Relational.ccfReadout(
        panel.select(col("day"), col("x"), col("y")))
    }
  }

  // s58: STREAMING ACF — q88's twin (45th pair): per-day revenue folds
  // in EXACT INTEGER CENTS (q88 moved to the q91 cent discipline —
  // autocorrelation is a ratio of like-scaled sums, so the unit
  // cancels and the batch values are unchanged); the compacted
  // calendar panel through q88's OWN readout (shared acfReadout)
  // equals batch up to the readout's internal sum order, absorbed by
  // the 6dp/4dp rounds. Oracle is q88's verbatim.
  val s58_stream_acf: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("day"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("day"),
      Seq(sum("cents").as("y"))) { panel =>
      graft.ops.Relational.acfReadout(panel.select(col("day"), col("y")))
    }
  }

  // s59: STREAMING DiD — q119's twin (46th pair): the four (group,
  // period) sufficient-statistic cells are commutative folds, so the
  // quasi-experiment monitors at the ingest edge with FOUR rows of
  // state (s56's discipline with moments instead of counts). Double
  // s1/s2 folds under orderkey-sharded delivery ride q119's own
  // 4dp-rounded-z boundary (the s52 argument); the readout is
  // didReadout verbatim, oracle q119's verbatim.
  val s59_stream_did: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
        "o_custkey")
      .select(col("o_orderkey"), col("treated"),
        (col("o_orderdate") >= "1997-01-01").as("post"),
        col("o_totalprice"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("treated", "post"),
      Seq(count(lit(1)).cast("double").as("ng"),
        sum("o_totalprice").as("s1"),
        sum(col("o_totalprice") * col("o_totalprice")).as("s2"))) {
      panel =>
        graft.ops.Relational.didReadout(panel.select(col("treated"),
          col("post"), col("ng"), col("s1"), col("s2")))
    }
  }

  // s60: STREAMING YoY/MoM GROWTH — q77's twin (47th pair): the
  // monthly revenue panel folds in EXACT INTEGER CENTS (q77 moved to
  // the q91 cent discipline — revenue = rc/100 lands the same 2dp),
  // state bounded by the ≤84-month calendar; the shared yoyReadout
  // derives the growth ratios from the identical panel, twin equality
  // EXACT. Oracle is q77's verbatim.
  val s60_stream_yoy: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("month"),
      Seq(sum("cents").as("rc"), count(lit(1)).as("n_orders"))) { panel =>
      graft.ops.Relational.yoyReadout(
        panel.select(col("month"), col("rc"), col("n_orders")))
    }
  }

  // s61: STREAMING CONTRIBUTION — q67's twin (48th pair): the
  // (segment, month) cent cells of the two-month comparison window
  // fold commutatively (≤10 rows of state); the shared
  // contributionReadout prices the delta decomposition over the
  // identical panel, twin equality EXACT. Oracle is q67's verbatim.
  val s61_stream_contribution: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-03-01").cast("timestamp"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("c_mktsegment", "m"),
      Seq(sum("cents").as("rc"))) { panel =>
      graft.ops.Relational.contributionReadout(
        panel.select(col("c_mktsegment"), col("m"), col("rc")))
    }
  }

  // s62: STREAMING DiD POWER — q121's twin (49th pair): the same four
  // sufficient-stat cells as s59 (s56's four-counter discipline with
  // moments), so the always-on quasi-experiment monitor reads MDE and
  // power from the ingest edge — "we could have seen an effect of X"
  // is a per-trigger readout, not a post-hoc analysis. Shared
  // didPowerReadout over the compacted panel; the Φ chain rides the
  // 4dp-rounded z (s52's argument). Oracle is q121's verbatim.
  val s62_stream_did_power: Q = (s, d) => {
    val feed = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
        "o_custkey")
      .select(col("o_orderkey"), col("treated"),
        (col("o_orderdate") >= "1997-01-01").as("post"),
        col("o_totalprice"))
    snapshotTwin(s, feed, col("o_orderkey"), Seq("treated", "post"),
      Seq(count(lit(1)).cast("double").as("ng"),
        sum("o_totalprice").as("s1"),
        sum(col("o_totalprice") * col("o_totalprice")).as("s2"))) {
      panel =>
        graft.ops.Relational.didPowerReadout(panel.select(col("treated"),
          col("post"), col("ng"), col("s1"), col("s2")))
    }
  }

  val queries: Map[String, Q] = Map(
    "s62_stream_did_power" -> s62_stream_did_power,
    "s61_stream_contribution" -> s61_stream_contribution,
    "s60_stream_yoy" -> s60_stream_yoy,
    "s59_stream_did" -> s59_stream_did,
    "s58_stream_acf" -> s58_stream_acf,
    "s57_stream_ccf" -> s57_stream_ccf,
    "s56_stream_odds_ratio" -> s56_stream_odds_ratio,
    "s55_stream_cramers_v" -> s55_stream_cramers_v,
    "s54_stream_sprt" -> s54_stream_sprt,
    "s53_stream_theils_u" -> s53_stream_theils_u,
    "s52_stream_fdr" -> s52_stream_fdr,
    "s51_stream_mann_kendall" -> s51_stream_mann_kendall,
    "s50_stream_chisq" -> s50_stream_chisq,
    "s48_stream_theil" -> s48_stream_theil,
    "s49_stream_mi" -> s49_stream_mi,
    "s46_stream_gini" -> s46_stream_gini,
    "s47_stream_wmedian" -> s47_stream_wmedian,
    "s45_stream_pareto_drift" -> s45_stream_pareto_drift,
    "s44_stream_abc" -> s44_stream_abc,
    "s43_stream_quality_yield" -> s43_stream_quality_yield,
    "s42_stream_conflict" -> s42_stream_conflict,
    "s41_stream_ltv" -> s41_stream_ltv,
    "s40_stream_retention" -> s40_stream_retention,
    "s39_stream_price_index" -> s39_stream_price_index,
    "s38_stream_bootstrap" -> s38_stream_bootstrap,
    "s37_stream_scorecard" -> s37_stream_scorecard,
    "s36_stream_weighted_sample" -> s36_stream_weighted_sample,
    "s35_stream_balance" -> s35_stream_balance,
    "s34_stream_stickiness" -> s34_stream_stickiness,
    "s33_stream_interpurchase" -> s33_stream_interpurchase,
    "s32_stream_hhi" -> s32_stream_hhi,
    "s31_stream_time_to_convert" -> s31_stream_time_to_convert,
    "s30_stream_benford" -> s30_stream_benford,
    "s29_stream_gap_fill" -> s29_stream_gap_fill,
    "s28_stream_constraints" -> s28_stream_constraints,
    "s27_stream_skyline" -> s27_stream_skyline,
    "s26_stream_ewma" -> s26_stream_ewma,
    "s25_stream_transitions" -> s25_stream_transitions,
    "s24_stream_funnel" -> s24_stream_funnel,
    "s23_stream_histogram" -> s23_stream_histogram,
    "s22_stream_cusum" -> s22_stream_cusum,
    "s21_stream_outer_join" -> s21_stream_outer_join,
    "s18_stream_anomaly" -> s18_stream_anomaly,
    "s13_checkpoint_resume" -> s13_checkpoint_resume,
    "s12_stream_static_join" -> s12_stream_static_join,
    "s11_late_data" -> s11_late_data,
    "s01_tumbling_window" -> s01_tumbling_window,
    "s06_session_window" -> s06_session_window,
    "s02_sessionize" -> s02_sessionize,
    "s03_stream_dedup" -> s03_stream_dedup,
    "s04_hourly_rollup" -> s04_hourly_rollup,
    "s05_watermark_agg" -> s05_watermark_agg,
    "s07_interval_join" -> s07_interval_join,
    "s08_stream_stream_join" -> s08_stream_stream_join,
    "s09_stateful_counter" -> s09_stateful_counter,
    "s10_stream_envelope_decode" -> s10_stream_envelope_decode,
  )

  val oracle: Map[String, String] = Map(
    // q77's batch oracle verbatim — the month-axis cent fold is exact
    "s60_stream_yoy" ->
      graft.ops.Relational.oracle("q77_yoy_growth"),
    // q67's batch oracle verbatim — ≤10 (segment, month) cent cells
    "s61_stream_contribution" ->
      graft.ops.Relational.oracle("q67_contribution"),
    // q119's batch oracle verbatim — four cells of moment state
    // through the shared didReadout, z 4dp-rounded before the tail
    "s59_stream_did" ->
      graft.ops.Relational.oracle("q119_did"),
    // q121's batch oracle verbatim — the same four cells through the
    // shared didPowerReadout; MDE/power derive from the 4dp z/se
    "s62_stream_did_power" ->
      graft.ops.Relational.oracle("q121_did_power"),
    // q92's batch oracle verbatim — the day-axis count fold is exact,
    // so the shared ccfReadout must hash-match the batch CCF
    "s57_stream_ccf" ->
      graft.ops.Relational.oracle("q92_ccf"),
    // q88's batch oracle verbatim — the day-axis cent fold is exact
    // and the autocorrelation ratio is unit-invariant
    "s58_stream_acf" ->
      graft.ops.Relational.oracle("q88_acf"),
    // q118's batch oracle verbatim — the day-axis count fold is exact,
    // so the shared sprtReadout must hash-match the batch LLR path
    "s54_stream_sprt" ->
      graft.ops.Relational.oracle("q118_sprt"),
    // q117's batch oracle verbatim — the cell-count fold is exact, so
    // the shared cramersVReadout must hash-match the batch effect size
    "s55_stream_cramers_v" ->
      graft.ops.Relational.oracle("q117_cramers_v"),
    // q116's batch oracle verbatim — four exact counters of state
    // through the shared oddsRatioReadout
    "s56_stream_odds_ratio" ->
      graft.ops.Relational.oracle("q116_odds_ratio"),
    // q91's batch oracle verbatim — the day-axis cent fold is an exact
    // long sum, so the shared mkReadout must hash-match the batch test
    "s51_stream_mann_kendall" ->
      graft.ops.Relational.oracle("q91_mann_kendall"),
    // q114's batch oracle verbatim — per-nation sufficient-stat folds
    // through the shared fdrReadout land the same 4dp z, and the whole
    // BH chain is deterministic downstream of it
    "s52_stream_fdr" ->
      graft.ops.Relational.oracle("q114_fdr_bh"),
    // q115's batch oracle verbatim — the cell-count fold is exact, so
    // the shared theilsUReadout must hash-match the batch lane
    "s53_stream_theils_u" ->
      graft.ops.Relational.oracle("q115_theils_u"),
    // q63's batch oracle verbatim — the cell-count fold is exact, so
    // the shared chisqReadout must hash-match the batch statistic
    "s50_stream_chisq" ->
      graft.ops.Relational.oracle("q63_chisq"),
    // q86's batch oracle verbatim — the per-customer spend fold plus
    // the shared theilReadout must land the 6dp decomposition exactly
    "s48_stream_theil" ->
      graft.ops.Relational.oracle("q86_theil"),
    // q113's batch oracle verbatim — the cell-count fold is exact, so
    // the shared miReadout must hash-match the batch lane
    "s49_stream_mi" ->
      graft.ops.Relational.oracle("q113_mutual_info"),
    // q85's batch oracle verbatim — the per-customer spend fold plus
    // the shared giniReadout must land the 6dp Gini exactly
    "s46_stream_gini" ->
      graft.ops.Relational.oracle("q85_gini"),
    // q98's batch oracle verbatim — collapse-invariant weighted
    // percentiles over the value-axis state panel are EXACTLY the
    // batch per-line formulation
    "s47_stream_wmedian" ->
      graft.ops.Relational.oracle("q98_weighted_median"),
    // q66's batch oracle verbatim — the commutative per-part cent fold
    // must land every ABC class boundary exactly where batch does
    "s44_stream_abc" ->
      graft.ops.Relational.oracle("q66_abc_analysis"),
    // q110's batch oracle verbatim — the (year, customer) panel fold
    // must reproduce every per-year top-20% share exactly
    "s45_stream_pareto_drift" ->
      graft.ops.Relational.oracle("q110_pareto_drift"),
    // q101's batch oracle verbatim — the commutative replicate-sum fold
    // must land every CI bound exactly where the batch keyed agg does
    "s38_stream_bootstrap" ->
      graft.ops.Relational.oracle("q101_bootstrap_ci"),
    // q105's batch oracle verbatim — the commutative panel fold must
    // land every index exactly where the batch keyed agg does
    "s39_stream_price_index" ->
      graft.ops.Relational.oracle("q105_price_index"),
    // c46's batch oracle verbatim — commutative segment counters must
    // land every prunability verdict where the batch agg does
    "s40_stream_retention" ->
      graft.cdc.CdcQueries.oracle("c46_wal_retention_audit"),
    // q106's batch oracle verbatim — the cohort derives from the panel
    // in the snapshot, so delivery needs no ordering contract at all
    "s41_stream_ltv" ->
      graft.ops.Relational.oracle("q106_cohort_ltv"),
    // c48's batch oracle verbatim — the bitmask-OR publisher fold is
    // commutative AND idempotent, so redelivery is safe too
    "s42_stream_conflict" ->
      graft.cdc.CdcQueries.oracle("c48_conflict_audit"),
    // t50's batch oracle verbatim — per-tau conditional sums commute
    "s43_stream_quality_yield" ->
      graft.ops.TextAnalysis.oracle("t50_quality_yield"),
    "s37_stream_scorecard" ->
      """WITH t AS (
        |  SELECT
        |    (SELECT count(*) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey
        |     WHERE c.c_custkey IS NULL)::BIGINT AS fk,
        |    (SELECT sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |       THEN 1 ELSE 0 END) FROM orders)::BIGINT AS pr,
        |    (SELECT sum(CASE WHEN o_orderdate < '1995-01-01'
        |       OR o_orderdate >= '2002-01-01' THEN 1 ELSE 0 END)
        |     FROM orders)::BIGINT AS dt,
        |    (SELECT sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END)
        |     FROM orders)::BIGINT AS hi,
        |    (SELECT count(*) FROM orders)::BIGINT AS n)
        |SELECT "check", n_violations, n_total, n_violations = 0 AS ok
        |FROM (
        |  SELECT 'fk_orders_customer' AS check, fk AS n_violations,
        |    n AS n_total FROM t
        |  UNION ALL SELECT 'orders_date_domain', dt, n FROM t
        |  UNION ALL SELECT 'orders_price_domain', pr, n FROM t
        |  UNION ALL SELECT 'orders_suspicious_high', hi, n FROM t)
        |ORDER BY "check"""".stripMargin,
    // q87's batch oracle verbatim — the per-market supplier→revenue
    // fold must land every share exactly where the batch keyed agg does
    "s36_stream_weighted_sample" ->
      graft.ops.TextAnalysis.oracle("t28_weighted_sample"),
    "s35_stream_balance" -> graft.ops.Relational.oracle("q95_clamped_balance"),
    "s34_stream_stickiness" -> graft.ops.Relational.oracle("q93_stickiness"),
    "s33_stream_interpurchase" -> graft.ops.Relational.oracle("q82_interpurchase"),
    "s32_stream_hhi" -> graft.ops.Relational.oracle("q87_hhi"),
    // q60's batch oracle verbatim — the streamed day-map fold plus
    // spine rebuild must land exactly where the batch plan does
    "s29_stream_gap_fill" -> graft.ops.Relational.oracle("q60_gap_fill"),
    // q76's batch oracle verbatim — the streamed digit fold must land
    // every order where the batch integer-domain extraction does
    "s30_stream_benford" -> graft.ops.Relational.oracle("q76_benford"),
    // q84's batch oracle verbatim — the bounded per-user (view, k-min
    // purchases) state must resolve every conversion the batch join does
    "s31_stream_time_to_convert" ->
      graft.ops.Relational.oracle("q84_time_to_convert"),
    // q44's batch oracle verbatim — the hash match proves the stateful
    // per-user candidate fold converges to the batch funnel under
    // multi-batch arrival
    "s24_stream_funnel" -> graft.ops.Relational.oracle("q44_funnel"),
    // q49's batch oracle verbatim — late events splice correctly
    "s25_stream_transitions" ->
      graft.ops.Relational.oracle("q49_transition_matrix"),
    // q65's batch oracle verbatim — late batches re-weight the series
    "s26_stream_ewma" -> graft.ops.Relational.oracle("q65_ewma"),
    // q59's batch oracle verbatim — late cheap parts evict frontier points
    "s27_stream_skyline" -> graft.ops.Relational.oracle("q59_skyline"),
    // x29's lineitem report rows verbatim — the continuous validation
    // gate converges to the batch one
    "s28_stream_constraints" ->
      """WITH li AS (
        |  SELECT count(*)::DOUBLE AS n,
        |    sum((l_quantity IS NULL)::INT)::DOUBLE AS null_qty,
        |    sum((l_discount < 0 OR l_discount > 0.1)::INT)::DOUBLE AS bad_disc,
        |    sum((l_returnflag NOT IN ('A','N','R'))::INT)::DOUBLE AS bad_flag,
        |    sum((l_extendedprice <= 0)::INT)::DOUBLE AS bad_price
        |  FROM lineitem),
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
        |    1.0 - orph.n / li.n FROM li, orph)
        |SELECT t AS table_name, c AS constraint_name, round(v, 6) AS metric,
        |  (v >= 1.0)::INT AS passed
        |FROM r ORDER BY 1, 2""".stripMargin,
    // q51's batch oracle verbatim — the hash match proves the streamed
    // per-bucket fold lands every row where the batch scan does
    // q51's batch oracle verbatim (was a drifted copy until r15 — the
    // integer half-up edge fix would have had to land twice)
    "s23_stream_histogram" ->
      graft.ops.Relational.oracle("q51_histogram"),
    // q55's batch oracle verbatim — the hash match proves the streamed
    // per-day counts accumulated to exactly the batch table
    "s22_stream_cusum" ->
      """WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |mu AS (SELECT avg(n) AS mu FROM daily),
        |cus AS (
        |  SELECT day, n, sum(n - mu) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily, mu)
        |SELECT day, n::BIGINT AS n_events, round(cusum, 4) AS cusum,
        |  (abs(cusum) = max(abs(cusum)) OVER ())::INT AS is_changepoint
        |FROM cus ORDER BY day""".stripMargin,
    "s21_stream_outer_join" ->
      """WITH c AS (
        |  SELECT user_id, ts::TIMESTAMP AS c_ts, value FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS p_ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, count(c.user_id)::BIGINT AS n_clicks_30m,
        |  round(sum(c.value), 2) AS click_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts < p.p_ts
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s10_stream_envelope_decode" ->
      s"""WITH ${graft.cdc.Envelope.sqlEnv}, ${graft.cdc.Envelope.sqlFlat}
         |SELECT op, count(*)::BIGINT AS n, max(lsn_long) AS max_lsn,
         |  count(*)::BIGINT AS n_ok,
         |  round(sum(after_value), 2) AS sum_after
         |FROM flat GROUP BY op ORDER BY op""".stripMargin,
    "s18_stream_anomaly" ->
      """WITH w AS (
        |  SELECT (epoch_us(ts::TIMESTAMP) // 21600000000) * 21600000000 AS window_start_us,
        |    event_type, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma FROM w GROUP BY 1)
        |SELECT w.window_start_us, w.event_type, w.n,
        |  round((w.n - b.mu) / b.sigma, 4) AS z,
        |  (abs(round((w.n - b.mu) / b.sigma, 4)) > 2.0)::INT AS is_anomaly
        |FROM w JOIN b USING (event_type)
        |ORDER BY 1, 2""".stripMargin,
    "s01_tumbling_window" ->
      """SELECT (epoch_us(ts::TIMESTAMP) // 21600000000) * 21600000000 AS window_start_us,
        |  event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s01's batch SQL minus the (batch-only) exact n_users column — the
    // watermarked real-streaming run must land every window cell where
    // the batch tumbling agg does (converted from rows-only, r13)
    "s05_watermark_agg" ->
      """SELECT (epoch_us(ts::TIMESTAMP) // 21600000000) * 21600000000 AS window_start_us,
        |  event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s07's batch oracle verbatim — the watermarked stream-stream inner
    // join must emit exactly the batch interval join's attribution rows
    // (converted from rows-only, r13)
    "s08_stream_stream_join" -> intervalJoinOracle,
    // the mapGroupsWithState lifetime counters fold commutatively, so
    // the batch groupBy is the exact contract (converted, r13)
    "s09_stateful_counter" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  max(epoch_us(ts::TIMESTAMP)) AS last_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s12_stream_static_join" ->
      """SELECT n_name, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s13_checkpoint_resume" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s11_late_data" ->
      """WITH c AS (
        |  SELECT date_trunc('day', min(ts::TIMESTAMP)) + INTERVAL 1 DAY AS cut
        |  FROM events)
        |SELECT (epoch_us(ts::TIMESTAMP) // 21600000000) * 21600000000 AS window_start_us,
        |  event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events, c WHERE ts::TIMESTAMP >= cut
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s02_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS us,
        |    lag(epoch_us(ts::TIMESTAMP)) OVER w AS prev_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, event_id, value, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  round(sum(value), 2) AS sum_value,
        |  max(us) - min(us) AS dur_us
        |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s03_stream_dedup" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id,
        |  arg_min(value, event_id) AS first_value, count(*)::BIGINT AS n_dups
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s06_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_us(ts::TIMESTAMP) AS us,
        |    lag(epoch_us(ts::TIMESTAMP)) OVER w AS prev_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, value, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
        |  FROM flagged)
        |SELECT user_id, min(us) AS start_us, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM numbered GROUP BY user_id, session_idx
        |ORDER BY user_id, start_us""".stripMargin,
    "s04_hourly_rollup" ->
      """SELECT event_type, hour(ts::TIMESTAMP)::INT AS hour_of_day,
        |  count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s07_interval_join" -> intervalJoinOracle,
  )

  /** Attribution-join oracle shared verbatim by s07 (batch) and s08
    * (the real watermarked stream-stream join): identical SQL, so s08's
    * oracle pass proves the streaming join's state eviction never
    * dropped a qualifying pair.
    */
  private lazy val intervalJoinOracle: String =
    """SELECT p.event_id, count(*)::BIGINT AS n_clicks_30m,
      |  round(sum(c.value), 2) AS click_value
      |FROM (SELECT event_id, user_id, ts::TIMESTAMP AS p_ts
      |      FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, ts::TIMESTAMP AS c_ts, value
      |      FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
      | AND c.c_ts < p.p_ts
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
