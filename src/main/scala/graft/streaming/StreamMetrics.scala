package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.Tables

/** Per-micro-batch progress row — the streaming counterpart of creek's
  * producer gauges (internal/metrics/metrics.go: creek_producer_pg_reads
  * per-stream row counters, creek_producer_lsn / behind gauges): rows
  * ingested per batch, stateful-operator state size, and rows the batch
  * updated — what an operator watches to see a stream keeping up.
  */
case class BatchProgress(query_name: String, batch_id: Long,
  num_input_rows: Long, state_rows_total: Long, state_rows_updated: Long,
  n_state_operators: Int)

/** [[StreamingQueryListener]] harness: runs a streaming query while
  * recording every QueryProgressEvent for it, waiting for the terminated
  * event so the captured series is complete (the listener bus is async).
  */
object StreamMetrics {

  def watch[T](s: SparkSession, queryName: String)(run: => T): (T, Seq[BatchProgress]) = {
    val buf = new ConcurrentLinkedQueue[BatchProgress]()
    @volatile var watchedId: Option[UUID] = None
    @volatile var terminated = false
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == queryName) watchedId = Some(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == queryName) {
          val so = e.progress.stateOperators
          buf.add(BatchProgress(e.progress.name, e.progress.batchId,
            e.progress.numInputRows, so.map(_.numRowsTotal).sum,
            so.map(_.numRowsUpdated).sum, so.length))
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (watchedId.contains(e.id)) terminated = true
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      val out = run
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!terminated && System.nanoTime() < deadline) Thread.sleep(10)
      require(terminated, s"listener never saw $queryName terminate")
      (out, buf.toArray(Array.empty[BatchProgress]).toSeq.sortBy(_.batch_id))
    } finally s.streams.removeListener(listener)
  }

  /** x09 (rows-only; spec: input-row conservation, state growth, batch
    * monotonicity): per-batch progress gauges for a watermarked streaming
    * aggregation over the events stream. maxFilesPerTrigger pins the
    * batch granularity so every progress row covers one input file.
    */
  def x09_stream_progress(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = Tables.load(s, d, "events")
    val name = s"graft_progress_${System.nanoTime()}"
    val (_, progress) = watch(s, name) {
      val stream = s.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .transform(graft.Tables.normalizeEventsTs)
      // only the progress events matter: the noop sink discards the rows
      val q = StreamingQueries.tumblingAgg(
          stream.withWatermark("ts", "1 hour"), distinctUsers = false)
        .writeStream.outputMode("update").format("noop").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    s.createDataset(progress).toDF()
      .select(lit("stream_progress").as("query_name"), col("batch_id"),
        col("num_input_rows"), col("state_rows_total"),
        col("state_rows_updated"), col("n_state_operators"))
      .orderBy("batch_id")
  }
}
