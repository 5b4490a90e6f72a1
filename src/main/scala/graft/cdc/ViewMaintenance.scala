package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Cost: each delta batch still scans the WHOLE state to find its
  * touched keys (a join against the touched set) and rewrites it
  * (left-anti + union + localCheckpoint), so a batch costs
  * O(|batch| + |state|), not O(|batch| + |touched keys|) — graftbench
  * measured 51,520 state rows read per applied event. ROADMAP open
  * item 1 moves the state onto a bucketed store so a batch reads only
  * the buckets its keys touch. Sums are maintained in integer
  * CENTS (per-row cents derived once from the same double both engines
  * see), so delta accumulation is order-independent and exact — a
  * floating view maintained by ± deltas would drift from the recompute.
  * localCheckpoint truncates lineage at each batch boundary (the d09
  * discipline): state/view are the tables a production job persists.
  */
object ViewMaintenance {
  private type Q = (SparkSession, String) => DataFrame

  /** The view definition over live replica rows (pk, last_value). */
  def viewOf(live: DataFrame): DataFrame =
    live.groupBy((col("pk") % 10).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("last_value") * 100).cast("long")).as("sum_cents"))

  /** Live rows of a folded state, as the view's state keeps them. */
  private def live(state: DataFrame): DataFrame =
    state.filter(col("last_op") =!= "d")
      .select(col("pk"), col("last_ord"), col("last_value"))

  /** The engine: carries (state, view) across batches as checkpointed
    * tables — what a production IVM job persists between runs. Shared by
    * c36 (batch poll loop) and s14 (Structured Streaming foreachBatch).
    * Batches MUST arrive in ascending WAL order (the resume contract any
    * CDC consumer already holds); `onBatch` reports (invalidated,
    * touchedKeys) so specs can pin the incremental discipline.
    */
  final class IncrementalView(onBatch: (Boolean, Long) => Unit = (_, _) => ()) {
    private[cdc] var state: DataFrame = null
    private[cdc] var view: DataFrame = null

    def advance(chunk: DataFrame): Unit = {
      val tmax = chunk.filter(col("op") === "t")
        .agg(coalesce(max(col("lsn_long") * 2 + 1), lit(-1L))).head().getLong(0)
      if (view == null || tmax >= 0) {
        // bootstrap, or truncate: the view is invalidated by definition,
        // and the cut drops every state row (their ords precede the
        // batch), so the batch alone folds to the new state
        state = live(Apply.fold(chunk)).localCheckpoint()
        view = viewOf(state.select(col("pk"), col("last_value"))).localCheckpoint()
        onBatch(true, -1L)
      } else {
        // DELTA path: only the touched keys are re-aggregated
        val touched = Apply.halfEvents(chunk).select("pk").distinct()
        val oldT = state.join(touched, Seq("pk"))
        // tmax < 0: the batch holds no truncate; dropping `t` rows says
        // so to the optimizer, which then plans the fold without a cut
        val newT = live(Apply.fold(chunk.filter(col("op") =!= "t"),
          Some(oldT.withColumn("last_op", lit("c")))))
        val cents = (v: org.apache.spark.sql.Column) => round(v * 100).cast("long")
        val deltas = oldT
          .select(col("pk"), lit(-1L).as("dn"), (-cents(col("last_value"))).as("dc"))
          .union(newT
            .select(col("pk"), lit(1L).as("dn"), cents(col("last_value")).as("dc")))
          .groupBy((col("pk") % 10).as("grp"))
          .agg(sum("dn").as("n_rows"), sum("dc").as("sum_cents"))
        view = view.union(deltas)
          .groupBy("grp")
          .agg(sum("n_rows").as("n_rows"), sum("sum_cents").as("sum_cents"))
          .localCheckpoint()
        state = state.join(touched, Seq("pk"), "left_anti")
          .union(newT).localCheckpoint()
        onBatch(false, touched.count())
      }
    }

    /** The maintained view (groups that netted to zero rows drop out,
      * matching the recompute's GROUP BY).
      */
    def current: DataFrame = view.filter(col("n_rows") > 0).orderBy("grp")
  }

  private def walFlat(s: SparkSession, d: String): DataFrame =
    Envelope.flat(Tables.events(s, d))
      .select("lsn_long", "op", "pk_before", "pk_after", "after_value")

  /** Drive the view over the WAL in `nChunks` poll batches. */
  def c36run(s: SparkSession, d: String, nChunks: Int = 4,
      onBatch: (Boolean, Long) => Unit = (_, _) => ()): DataFrame = {
    val flat = walFlat(s, d)
    val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val step = math.max(1L, (mx - mn + nChunks) / nChunks)
    val engine = new IncrementalView(onBatch)
    var lo = mn - 1
    while (lo < mx) {
      val hi = math.min(lo + step, mx)
      engine.advance(flat.filter(col("lsn_long") > lo && col("lsn_long") <= hi))
      lo = hi
    }
    engine.current
  }

  /** c36 (oracle: view ≡ GROUP BY over the fully-replayed replica). */
  val c36_incremental_view: Q = (s, d) => c36run(s, d)

  // s14: the SAME engine as a Structured Streaming job — the WAL lands
  // as per-batch files (ascending LSN ranges, d11's explicit-arrival
  // plan: each file lands only after the previous micro-batch drains,
  // since mtime ordering is not a file-source contract) and foreachBatch
  // advances the checkpointed (state, view) pair. The final view must
  // hash-match c36's oracle: streaming adds nothing the batch loop
  // didn't already prove.
  def streamingView(s: SparkSession, d: String, nChunks: Int = 4): DataFrame = {
    val flat = walFlat(s, d).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_s14_")
    try {
      val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val step = math.max(1L, (mx - mn + nChunks) / nChunks)
      def land(i: Int): Unit = {
        val lo = mn - 1 + i * step
        val sub = java.nio.file.Files.createTempDirectory(s"graft_s14_w$i")
        try {
          flat.filter(col("lsn_long") > lo &&
              col("lsn_long") <= math.min(lo + step, mx))
            .coalesce(1).write.mode("overwrite").parquet(sub.toString)
          val listing = java.nio.file.Files.list(sub)
          val parquet = try {
            import scala.jdk.CollectionConverters._
            listing.iterator().asScala.find(_.toString.endsWith(".parquet")).get
          } finally listing.close()
          java.nio.file.Files.move(parquet, dir.resolve(f"batch_$i%02d.parquet"))
        } finally graft.sources.SourceSinks.deleteDir(sub)
      }
      val engine = new IncrementalView()
      val stream = s.readStream.schema(flat.schema).parquet(dir.toString)
      val onMicroBatch: (DataFrame, Long) => Unit =
        (batchDf, _) => if (!batchDf.isEmpty) engine.advance(batchDf)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch(onMicroBatch)
        .queryName(s"graft_s14_${System.nanoTime()}").start()
      try {
        var i = 0
        while (mn - 1 + i * step < mx) { land(i); q.processAllAvailable(); i += 1 }
      } finally q.stop()
      val rows = engine.current.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        engine.current.schema)
    } finally {
      graft.sources.SourceSinks.deleteDir(dir)
      flat.unpersist()
    }
  }

  val s14_streaming_view: Q = (s, d) => streamingView(s, d)
}
