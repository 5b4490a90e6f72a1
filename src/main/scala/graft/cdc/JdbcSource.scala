package graft.cdc

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{KeyedStore, Tables}

/** JDBC/Postgres ingest edge — the reference daemon's database side lifted
  * to Spark's JDBC source against the session's [[JdbcFixture]] database
  * (embedded Derby inside a single JVM; a forked Thrift-server process
  * over TCP under multi-JVM masters — see [[JdbcNet]]), exercising the
  * exact access pattern creek runs against live Postgres:
  *
  *   - the initial snapshot is a plain `SELECT * FROM schema.table`
  *     (creek internal/dao/snapshots.go:127) — here issued as a
  *     PARTITIONED `spark.read.jdbc` scan (partitionColumn/lowerBound/
  *     upperBound/numPartitions on the WAL position), because at 100 TB a
  *     single-connection snapshot read is the ingest bottleneck: N
  *     executors each pull an LSN stripe through their own connection;
  *   - the tail after the snapshot LSN arrives INCREMENTALLY, as the
  *     lsn-poll micro-batch loop the daemon's replication stream drives
  *     (internal/dao/replication.go Next/Stream; daemon wiring
  *     internal/dao/init.go:91-145): each poll reads only
  *     `lsn > last_applied` and merges into the evolving replica. c33
  *     folds each poll onto the state (state is the base of the next
  *     `Apply.fold`, entering at its own ord, so a truncate inside a
  *     batch still wipes prior state); s15 folds each poll alone and
  *     merges it into the replica [[KeyedStore]], where a truncate is a
  *     horizon row, as in c13's streaming apply.
  *
  * The replayed result is therefore ≡ c04's full-replay apply on the same
  * rows, which is what the DuckDB oracle pins.
  */
object JdbcSource {

  /** Columns of the WAL changelog table as landed in the database.
    * Uppercase on the Derby side (unquoted SQL-92 identifiers) so raw
    * subquery pushdown needs no quoting; renamed back to the envelope's
    * lowercase on read.
    */
  private val walCols = Seq("LSN_LONG", "OP", "PK_BEFORE", "PK_AFTER", "AFTER_VALUE")
  private val flatCols = Seq("lsn_long", "op", "pk_before", "pk_after", "after_value")

  /** Land the flat WAL envelope into the session's WAL fixture
    * ([[JdbcFixture]]: embedded Derby single-JVM, forked Thrift server
    * under multi-JVM masters). Returns (fixture, min lsn, max lsn).
    * The load is fixture setup standing in for the upstream OLTP
    * database, not the operator under test.
    */
  private def loadDb(s: SparkSession, d: String, dir: Path): (WalFixture, Long, Long) = {
    val fx = JdbcFixture(s, dir)
    val flat = Envelope.flat(Tables.events(s, d))
      .select(flatCols.map(col): _*)
      .toDF(walCols: _*)
    fx.landV1(flat)
    val b = flat.agg(min("LSN_LONG"), max("LSN_LONG")).head()
    (fx, b.getLong(0), b.getLong(1))
  }

  private def lower(df: DataFrame): DataFrame = df.toDF(flatCols: _*)

  /** Run the full ingest edge. Returns (materialized replica result,
    * #partitions of the snapshot jdbc scan, #poll batches issued) so the
    * spec can pin the parallel-snapshot and incremental-poll shapes.
    */
  def c33run(s: SparkSession, d: String): (DataFrame, Int, Int) = {
    val dir = Files.createTempDirectory("graft_c33")
    val (fx, minL, maxL) = loadDb(s, d, dir)
    val (url, props) = (fx.url, fx.props)
    try {
      val snapLsn = Polls.snapshotCut(minL, maxL)
      // ---- initial snapshot: ONE logical SELECT *, N physical stripes --
      val snapshot = s.read.jdbc(
        url, s"(SELECT * FROM WAL WHERE LSN_LONG <= $snapLsn) AS SNAP",
        "LSN_LONG", minL, snapLsn, 8, props)
      var state = Apply.state(lower(snapshot))
      // ---- lsn-poll micro-batch loop: WHERE lsn > last_applied ---------
      val polls = Polls.ranges(snapLsn, maxL, 4)
      polls.foreach { case (lo, hi) =>
        val batch = s.read.jdbc(
          url, s"(SELECT * FROM WAL WHERE LSN_LONG > $lo AND LSN_LONG <= $hi) AS W",
          props)
        state = Apply.fold(lower(batch), Some(state))
      }
      val out = state.filter(col("last_op") =!= "d")
        .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      // materialize DISTRIBUTED — executors write the replica to parquet
      // and the returned plan scans it back (at 100 TB the replica never
      // fits on the driver, so a collect() here would be the lane's
      // scale-killer). The parquet dir must outlive this call (the result
      // is lazy), so only the database dir is deleted in the finally.
      val pdir = graft.sources.SourceSinks.cleanupOnExit(
        Files.createTempDirectory("graft_c33_replica"))
      out.write.mode("overwrite").parquet(s"$pdir/replica")
      (s.read.parquet(s"$pdir/replica").orderBy("pk"),
        snapshot.rdd.getNumPartitions, polls.length)
    } finally {
      fx.close()
      graft.sources.SourceSinks.deleteDir(dir)
    }
  }

  /** c33 (oracle: ≡ c04 full-replay apply): partitioned JDBC snapshot ⊕
    * incremental lsn-poll micro-batches, replayed through the apply.
    */
  val c33_jdbc_source: (SparkSession, String) => DataFrame =
    (s, d) => c33run(s, d)._1

  /** One poll command for the s15 stream: pull WAL rows with
    * `lsn ∈ (last_applied, hi]`.
    */
  case class PollCmd(poll_seq: Int, hi: Long)

  /** `flat` folded alone into replica rows (pk, last_ord, last_op,
    * last_value): each key's last write after the batch's own truncate
    * cut, plus its truncates' `StreamApply.horizonRows`, of which the
    * store keeps the latest.
    */
  private def replicaRows(flat: DataFrame): DataFrame =
    Apply.fold(flat).select("pk", "last_ord", "last_op", "last_value")
      .unionByName(StreamApply.horizonRows(flat))

  /** One s15 poll, store batch `batchId`: from the position committed
    * below `batchId` (`Long.MinValue` when none is), pull `(last, hi]` up
    * to the highest `hi` asked, merge its replica rows into the touched
    * buckets and commit `hi` as the position. Returns the position it
    * resumed from. A replayed batchId starts from the same position and
    * rewrites the same versions, so it leaves the replica unchanged.
    */
  private[graft] def poll(store: KeyedStore, batchId: Long, his: Seq[Long],
      pull: (Long, Long) => DataFrame): Long = {
    val last = store.position(below = batchId).fold(Long.MinValue)(_._2)
    val hi = (last +: his).max
    if (hi > last) {
      store.merge(batchId, replicaRows(pull(last, hi)))
      store.commit(batchId, hi)
    }
    last
  }

  /** s15 engine: c33's lsn-poll loop under Structured Streaming.
    * Poll COMMANDS arrive as a file stream; foreachBatch runs each
    * micro-batch's polls as one bounded JDBC pull merged into the replica
    * [[KeyedStore]] (keys `pk`, ord `last_ord`), then commits the last
    * applied LSN through the store as the batch's position: the
    * `foreachBatch` sink into a committed, versioned store. The initial
    * snapshot is store batch 0 and poll micro-batch b is store batch
    * b + 1, so a replayed micro-batch re-merges against its pre-batch
    * state. The query is STOPPED mid-tail and a second incarnation
    * resumes from the shared checkpoint and the store's position: it
    * must pull only `lsn > lastLsn` (no re-pull, no gap), and the final
    * replica must equal the full-replay apply (c04's oracle).
    *
    * Returns (replica, snapshot LSN, incarnation-1 last applied LSN,
    * resume-point LSN seen by incarnation 2, poll batches run).
    */
  def s15run(s: SparkSession, d: String): (DataFrame, Long, Long, Long, Int) = {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_s15")
    // the replica store outlives this call (the result reads it lazily)
    val store = KeyedStore.open(s, graft.sources.SourceSinks.cleanupOnExit(
      Files.createTempDirectory("graft_s15_replica")), Seq("pk"), "last_ord")
    val (fx, minL, maxL) = loadDb(s, d, dir)
    val (url, props) = (fx.url, fx.props)
    try {
      val cmdDir = dir.resolve("polls"); Files.createDirectories(cmdDir)
      val cp = dir.resolve("checkpoint")
      val snapLsn = Polls.snapshotCut(minL, maxL)
      // ---- initial snapshot (c33's striped scan), store batch 0 ----
      poll(store, 0L, Seq(snapLsn), (_, hi) => lower(s.read.jdbc(
        url, s"(SELECT * FROM WAL WHERE LSN_LONG <= $hi) AS SNAP",
        "LSN_LONG", minL, hi, 8, props)))
      val pull = (lo: Long, hi: Long) => lower(s.read.jdbc(
        url, s"(SELECT * FROM WAL WHERE LSN_LONG > $lo AND LSN_LONG <= $hi) AS W",
        props))
      val resumeFrom = new java.util.concurrent.atomic.AtomicLong(-1L)
      // ---- the streaming poll loop --------------------------------------
      val onBatch: (DataFrame, Long) => Unit = (cmdBatch, batchId) => {
        // poll commands are bounded metadata (a few rows), never WAL data
        val his = cmdBatch.select(col("hi")).collect().map(_.getLong(0)).toSeq
        resumeFrom.compareAndSet(-1L, poll(store, batchId + 1, his, pull))
      }
      def incarnation(): org.apache.spark.sql.streaming.StreamingQuery =
        s.readStream.schema(implicitly[org.apache.spark.sql.Encoder[PollCmd]].schema)
          .parquet(cmdDir.toString)
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", cp.toString)
          .start()
      def land(seq: Int, hi: Long): Unit =
        graft.sources.SourceSinks.landSingleParquet(
          Seq(PollCmd(seq, hi)).toDF(), cmdDir.resolve(f"poll_$seq%02d.parquet"))
      val his = Polls.ranges(snapLsn, maxL, 4).map(_._2).padTo(4, maxL)
      // incarnation 1: two polls, then STOP mid-tail
      val q1 = incarnation()
      try { land(0, his(0)); land(1, his(1)); q1.processAllAvailable() }
      finally q1.stop()
      val inc1Last = store.position().get._2
      // incarnation 2: SAME checkpoint + store — resumes, finishes the tail
      resumeFrom.set(-1L)
      val q2 = incarnation()
      try { land(2, his(2)); land(3, his(3)); q2.processAllAvailable() }
      finally q2.stop()
      (StreamApply.replica(store.panel), snapLsn, inc1Last, resumeFrom.get(),
        store.position().get._1.toInt)
    } finally {
      fx.close()
      graft.sources.SourceSinks.deleteDir(dir)
    }
  }

  /** s15 (oracle: ≡ c04 full-replay apply): the streaming-native JDBC
    * tail — checkpointed offsets, kill + restart mid-stream, resume
    * exactly once.
    */
  val s15_jdbc_stream: (SparkSession, String) => DataFrame =
    (s, d) => s15run(s, d)._1
}
