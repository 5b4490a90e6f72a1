package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental materialized-view maintenance over the CDC stream — the
  * downstream workload a creek consumer actually runs: a grouped
  * aggregate view (per key-group row count + sum) kept current from
  * change DELTAS, never recomputed from the full replica. This is the
  * classic IVM contract: per batch, only the touched keys are
  * re-aggregated (old value out, new value in), the view absorbs the
  * group-level deltas, and a truncate — which invalidates everything by
  * definition — triggers the one legitimate rebuild.
  *
  * Each batch is read once (persisted for the advance) and folded once
  * by `Apply.fold`; the state is read only through broadcast joins — for
  * the touched keys' old values, then for its rewrite (left-anti + union
  * + localCheckpoint) — so it is never shuffled, but it is still scanned
  * whole: O(|state|) rows read per batch (ROADMAP open item 1). Sums are
  * maintained in integer CENTS (per-row cents derived once from the same
  * double both engines see), so delta accumulation is order-independent
  * and exact — a floating view maintained by ± deltas would drift from
  * the recompute. The view, at most 19 groups (`pk % 10`), is a local
  * relation.
  */
object ViewMaintenance {
  private type Q = (SparkSession, String) => DataFrame

  private def cents(v: Column): Column = round(v * 100).cast("long")

  /** The view definition over live replica rows (pk, last_value). */
  def viewOf(live: DataFrame): DataFrame =
    live.groupBy((col("pk") % 10).as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(cents(col("last_value"))).as("sum_cents"))

  /** The engine: carries (state, view) across batches — what a
    * production IVM job persists between runs. Shared by c36 (batch poll
    * loop) and s14 (Structured Streaming foreachBatch). Batches MUST
    * arrive in ascending WAL order (the resume contract any CDC consumer
    * already holds); `onBatch` reports (invalidated, touchedKeys) so
    * specs can pin the incremental discipline.
    */
  final class IncrementalView(onBatch: (Boolean, Long) => Unit = (_, _) => ()) {
    private[cdc] var state: DataFrame = null
    private[cdc] var view: DataFrame = null

    def advance(chunk: DataFrame): Unit = {
      val batch = chunk.persist()
      try {
        val s = batch.sparkSession
        import s.implicits._
        // one job over every partition fills the cache and finds the truncates
        val truncates = batch.filter(col("op") === "t").select("lsn_long").as[Long].collect()
        // bootstrap, or truncate: the view is invalidated by definition, and
        // the cut drops every state row (their ords precede the batch)
        val invalidated = view == null || truncates.nonEmpty
        if (invalidated) {
          state = Seq.empty[(Long, Double)].toDF("pk", "last_value")
          view = Seq.empty[(Long, Long, java.lang.Long)].toDF("grp", "n_rows", "sum_cents")
        }
        // every ord after the last truncate follows every state ord, so
        // these events alone fold to a touched key's new row; the state adds
        // old values by broadcast. A lone `op` filter lets the optimizer
        // plan a truncate-free batch's fold without a cut
        val events = truncates.maxOption.fold(batch)(t => batch.filter(col("lsn_long") > t))
          .filter(col("op") =!= "t")
        val old = state
          .join(broadcast(Apply.halfEvents(events).select("pk")), Seq("pk"), "left_semi")
          .select(col("pk"), lit(1L).as("old_n"), cents(col("last_value")).as("old_cents"))
        val changes = Apply.fold(events).join(broadcast(old), Seq("pk"), "left").persist()
        try {
          val isLive = col("last_op") =!= "d"
          val deltas = changes.select((col("pk") % 10).as("grp"),
            (when(isLive, 1L).otherwise(0L) - coalesce(col("old_n"), lit(0L))).as("n_rows"),
            (coalesce(when(isLive, cents(col("last_value"))), lit(0L)) -
              coalesce(col("old_cents"), lit(0L))).as("sum_cents"),
            lit(1L).as("n_keys"))
          val groups = view.withColumn("n_keys", lit(0L)).union(deltas).groupBy("grp")
            .agg(sum("n_rows"), sum("sum_cents"), sum("n_keys")).collect()
          view = groups.filter(_.getLong(1) > 0).sortBy(_.getLong(0)).toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.lang.Long](2)))
            .toDF("grp", "n_rows", "sum_cents")
          // coalesced, or the union would add partitions every batch
          state = state.join(broadcast(changes.select("pk")), Seq("pk"), "left_anti")
            .union(changes.filter(isLive).select("pk", "last_value"))
            .coalesce(s.sparkContext.defaultParallelism).localCheckpoint()
          onBatch(invalidated, if (invalidated) -1L else groups.map(_.getLong(3)).sum)
        } finally changes.unpersist()
      } finally batch.unpersist()
    }

    /** The maintained view, in grp order (groups that netted to zero rows
      * drop out, matching the recompute's GROUP BY).
      */
    def current: DataFrame = view
  }

  private def walFlat(s: SparkSession, d: String): DataFrame =
    Envelope.flat(Tables.events(s, d))
      .select("lsn_long", "op", "pk_before", "pk_after", "after_value")

  /** The (lo, hi] LSN ranges of `nChunks` ascending poll batches. */
  private def lsnRanges(flat: DataFrame, nChunks: Int): Seq[(Long, Long)] = {
    val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
    Polls.ranges(b.getLong(0) - 1, b.getLong(1), nChunks)
  }

  /** Drive the view over the WAL in `nChunks` poll batches. */
  def c36run(s: SparkSession, d: String, nChunks: Int = 4,
      onBatch: (Boolean, Long) => Unit = (_, _) => ()): DataFrame = {
    val flat = walFlat(s, d)
    val engine = new IncrementalView(onBatch)
    lsnRanges(flat, nChunks).foreach { case (lo, hi) =>
      engine.advance(flat.filter(col("lsn_long") > lo && col("lsn_long") <= hi))
    }
    engine.current
  }

  /** c36 (oracle: view ≡ GROUP BY over the fully-replayed replica). */
  val c36_incremental_view: Q = (s, d) => c36run(s, d)

  // s14: the SAME engine as a Structured Streaming job — the WAL lands
  // as per-batch files (ascending LSN ranges, d11's explicit-arrival
  // plan: each file lands only after the previous micro-batch drains,
  // since mtime ordering is not a file-source contract) and foreachBatch
  // advances the (state, view) pair. The final view must
  // hash-match c36's oracle: streaming adds nothing the batch loop
  // didn't already prove.
  def streamingView(s: SparkSession, d: String, nChunks: Int = 4): DataFrame = {
    val flat = walFlat(s, d).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_s14_")
    try {
      def land(i: Int, lo: Long, hi: Long): Unit = graft.sources.SourceSinks.landSingleParquet(
        flat.filter(col("lsn_long") > lo && col("lsn_long") <= hi),
        dir.resolve(f"batch_$i%02d.parquet"))
      val engine = new IncrementalView()
      val stream = s.readStream.schema(flat.schema).parquet(dir.toString)
      val onMicroBatch: (DataFrame, Long) => Unit = (batchDf, _) => engine.advance(batchDf)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch(onMicroBatch)
        .queryName(s"graft_s14_${System.nanoTime()}").start()
      try lsnRanges(flat, nChunks).zipWithIndex.foreach { case ((lo, hi), i) =>
        land(i, lo, hi); q.processAllAvailable()
      } finally q.stop()
      engine.current
    } finally {
      graft.sources.SourceSinks.deleteDir(dir)
      flat.unpersist()
    }
  }

  val s14_streaming_view: Q = (s, d) => streamingView(s, d)
}
