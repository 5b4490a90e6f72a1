package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.{KeyedStore, Tables}

/** Per-key half-event for the streaming apply. */
case class HalfEvent(pk: Long, ord: Long, eff_op: String, value: Option[Double])

/** A key's replica row, as [[Apply.fold]] names it: its last write's ord,
  * op and value. It is both the streaming apply's per-key state and what
  * each micro-batch emits for the keys it touched.
  */
case class KeyUpdate(pk: Long, last_ord: Long, last_op: String, last_value: Option[Double])

/** Structured Streaming CDC apply: the same upsert/delete/pk-change/
  * TRUNCATE semantics as the batch [[Apply]], maintained incrementally
  * with `flatMapGroupsWithState` — per-key state is exactly one row, so
  * state size is bounded by live-key cardinality regardless of stream
  * length (SURVEY.md §4). Truncate is a control-plane event (table-wide,
  * not keyed), so it rides the SAME stream as a sentinel-key half-event
  * whose state folds the max truncate ord.
  *
  * Each micro-batch's updated rows merge into a [[graft.KeyedStore]]
  * (keys `pk`, ord `last_ord`) through `foreachBatch`; the sentinel's row
  * is the truncate horizon, one more key in the store. The replica is
  * the store's `replica` readout: every key whose last write is an upsert
  * after that horizon — exactly the batch `liveEvents` cut
  * (`ord > tmax`), derived without a second source pass. (r13: the
  * c04-oracle conversion caught an earlier truncates-excluded behavior
  * diverging at sf1, where the last truncate lands late enough in the
  * log to wipe most keys.)
  */
object StreamApply {
  /** Sentinel pk carrying the truncate horizon through the keyed stream
    * and the store (real pks are non-negative user-derived keys).
    */
  val TruncPk: Long = Long.MinValue

  private val applyFn: (Long, Iterator[HalfEvent], GroupState[KeyUpdate]) => Iterator[KeyUpdate] =
    (pk, events, state) => {
      var st = state.getOption.getOrElse(KeyUpdate(pk, -1L, "d", None))
      // events within a micro-batch arrive unordered — apply in ord order
      events.toSeq.sortBy(_.ord).foreach { e =>
        if (e.ord > st.last_ord)
          st = KeyUpdate(pk, e.ord, e.eff_op, if (e.eff_op == "d") None else e.value)
      }
      state.update(st)
      Iterator.single(st)
    }

  /** The truncate horizon rows of `flat` (lsn_long, op, …) as replica
    * rows: (`TruncPk`, the truncate's batch-cut ord lsn*2+1, 't', null),
    * one per truncate. The store keeps the latest, so the horizon row is
    * the max truncate ord merged so far.
    */
  def horizonRows(flat: DataFrame): DataFrame =
    flat.filter(col("op") === "t").select(lit(TruncPk).as("pk"),
      (col("lsn_long") * 2 + 1).as("last_ord"), lit("t").as("last_op"),
      lit(null).cast("double").as("last_value"))

  /** The replica held by a store of replica rows (pk, last_ord, last_op,
    * last_value) plus the `TruncPk` horizon row: (pk, value, last_ord) of
    * every key whose last write is an upsert after the horizon, by pk.
    * The horizon row is read when this is called: read the frame before
    * the store merges more batches. Shared by the streaming apply (c13)
    * and the JDBC tail (s15).
    */
  def replica(panel: DataFrame): DataFrame = {
    // the horizon is one row: read once, then a plain filter of one pass
    val tmax = panel.filter(col("pk") === TruncPk).select("last_ord")
      .collect().map(_.getLong(0)).foldLeft(-1L)(math.max)
    panel.filter(col("pk") =!= TruncPk && col("last_op") =!= "d" && col("last_ord") > tmax)
      .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      .orderBy("pk")
  }

  /** Run the streaming apply over the events parquet and return the
    * replica (pk, value, last_ord). The frame reads the apply's store, a
    * temp dir of one row per touched key that is deleted only when the
    * JVM exits: each call keeps O(key space) bytes of disk for the life
    * of the JVM, even when the caller collects the frame at once.
    */
  def run(spark: SparkSession, dir: String, queryName: String = "graft_stream_apply"): DataFrame = {
    import spark.implicits._
    // schema must match the raw file (ts = nanos-as-long)
    val raw = Tables.load(spark, dir, "events")
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .transform(graft.Tables.normalizeEventsTs)
    val flat = Envelope.flat(stream)
    // truncates become sentinel-key half-events; applyFn folds them like
    // any upsert, so the sentinel's state ord IS the truncate horizon
    // after any delivery order
    val truncs = horizonRows(flat).select(col("pk"), col("last_ord").as("ord"),
      col("last_op").as("eff_op"), col("last_value").as("value"))
    val halves = Apply.halfEvents(flat.filter(col("op") =!= "t"))
      .select("pk", "ord", "eff_op", "value").unionByName(truncs)
      .as[HalfEvent]
    val updates = halves
      .groupByKey(_.pk)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(applyFn)
    val store = KeyedStore.open(spark, graft.sources.SourceSinks.cleanupOnExit(
      Files.createTempDirectory("graft_replica")), Seq("pk"), "last_ord")
    val q = store.sink(updates.toDF()).queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    // an empty log commits no bucket, and its replica is empty
    replica(if (store.lastBatch < 0) Seq.empty[KeyUpdate].toDF() else store.panel)
  }
}
