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
  * A delta advance runs at most five Spark jobs and one shuffle: one job
  * fills the batch's cache and finds its truncates; `Apply.fold` folds
  * the batch's events once (the one shuffle, of the batch's half-events
  * only) and the touched keys' new rows are collected; one pk-IN filter
  * reads their old rows from the checkpointed state; and one job
  * checkpoints the rewritten state (old rows of the touched keys out,
  * their live new rows in). The state is never shuffled and never
  * joined, though the two filters still scan it whole. The driver holds
  * at most one delta batch's touched keys, and the view, at most 19
  * groups (`pk % 10`), as a local relation. Sums are maintained in
  * integer CENTS (per-row cents derived once, in Spark, from the same
  * double both engines see), so delta accumulation is order-independent
  * and exact — a floating view maintained by ± deltas would drift from
  * the recompute — and each group counts its non-null values, so a group
  * whose values are all null reports a null sum like SQL's `SUM`.
  */
object ViewMaintenance {
  private type Q = (SparkSession, String) => DataFrame

  private def cents(v: Column): Column = round(v * 100).cast("long")

  private def grp: Column = (col("pk") % 10).as("grp")

  /** The view's groups plus `n_vals`, the non-null values each sums. */
  private def groupsOf(live: DataFrame): DataFrame =
    live.groupBy(grp).agg(count(lit(1)).as("n_rows"),
      sum(cents(col("last_value"))).as("sum_cents"), count(col("last_value")).as("n_vals"))

  /** The view definition over live replica rows (pk, last_value). */
  def viewOf(live: DataFrame): DataFrame = groupsOf(live).drop("n_vals")

  /** One group's row count, non-null value count and cents sum (a null
    * value adds 0 to `cents`).
    */
  private final case class Agg(rows: Long, vals: Long, cents: Long) {
    def +(o: Agg): Agg = Agg(rows + o.rows, vals + o.vals, cents + o.cents)
    def negate: Agg = Agg(-rows, -vals, -cents)
  }
  private object Agg {
    /** one live row of `cents` (null: a null value) */
    def of(cents: java.lang.Long): Agg =
      if (cents == null) Agg(1, 0, 0) else Agg(1, 1, cents)
  }

  /** The engine: carries (state, view) across batches — what a
    * production IVM job persists between runs. Shared by c36 (batch poll
    * loop) and s14 (Structured Streaming foreachBatch). Batches MUST
    * arrive in ascending WAL order (the resume contract any CDC consumer
    * already holds); `onBatch` reports (invalidated, touchedKeys) so
    * specs can pin the incremental discipline.
    */
  final class IncrementalView(onBatch: (Boolean, Long) => Unit = (_, _) => ()) {
    private[cdc] var state: DataFrame = null
    private var groups: Map[Long, Agg] = null
    private var view: DataFrame = null

    // coalesced, or the delta union would add a partition every batch
    private def checkpointed(df: DataFrame): DataFrame =
      df.coalesce(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint()

    def advance(chunk: DataFrame): Unit = {
      val batch = chunk.persist()
      try {
        val s = batch.sparkSession
        import s.implicits._
        // one job over every partition fills the cache and finds the truncates
        val truncates = batch.filter(col("op") === "t").select("lsn_long").as[Long].collect()
        // bootstrap, or truncate: the view is invalidated by definition, and
        // the cut drops every state row (their ords precede the batch)
        val invalidated = groups == null || truncates.nonEmpty
        // every ord after the last truncate follows every state ord, so
        // these events alone fold to a touched key's new row. A lone `op`
        // filter lets the optimizer plan a truncate-free batch's fold
        // without a cut
        val events = truncates.maxOption.fold(batch)(t => batch.filter(col("lsn_long") > t))
          .filter(col("op") =!= "t")
        val folded = Apply.fold(events).select(col("pk"), grp,
          (col("last_op") =!= "d").as("live"), col("last_value"),
          cents(col("last_value")).as("cents"))
        val touchedKeys = if (invalidated) {
          state = checkpointed(folded.filter("live").select("pk", "last_value"))
          groups = groupsOf(state).collect().map(r => r.getLong(0) ->
            Agg(r.getLong(1), r.getLong(3), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
          -1L
        } else {
          // the touched keys' new rows: bounded by the batch, never the state
          val rows = folded.collect()
          if (rows.nonEmpty) {
            val inTouched = col("pk").isin(rows.map(_.getLong(0)).toIndexedSeq: _*)
            val old = state.filter(inTouched).select(grp, cents(col("last_value"))).collect()
            val fresh = rows.filter(_.getBoolean(2))
            val deltas = fresh.map(r => r.getLong(1) -> Agg.of(r.getAs[java.lang.Long](4))) ++
              old.map(r => r.getLong(0) -> Agg.of(r.getAs[java.lang.Long](1)).negate)
            groups = deltas.foldLeft(groups) { case (m, (g, d)) =>
              m.updated(g, m.getOrElse(g, Agg(0, 0, 0)) + d)
            }
            state = checkpointed(state.filter(!inTouched).union(fresh.toSeq
              .map(r => (r.getLong(0), r.getAs[java.lang.Double](3))).toDF("pk", "last_value")))
          }
          rows.length.toLong
        }
        view = groups.toSeq.filter(_._2.rows > 0).sortBy(_._1)
          .map { case (g, a) => (g, a.rows, Option.when(a.vals > 0)(a.cents)) }
          .toDF("grp", "n_rows", "sum_cents")
        onBatch(invalidated, touchedKeys)
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
