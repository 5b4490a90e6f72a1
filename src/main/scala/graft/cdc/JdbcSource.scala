package graft.cdc

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

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
  *     `lsn > last_applied` and merges into the evolving replica state
  *     exactly like c13's streaming apply — state is the base of the
  *     next `Apply.fold`, entering at its own ord, so a truncate inside
  *     a batch still wipes prior state (Apply's ord discipline).
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

  /** The s15 durable offset: highest foreachBatch batch id committed,
    * last LSN applied, and which state version holds the replica.
    */
  private case class Offset(batchId: Long, lastLsn: Long, version: Long)

  private def readOffset(p: Path): Offset = {
    val Array(b, l, v) = Files.readString(p).trim.split(",")
    Offset(b.toLong, l.toLong, v.toLong)
  }
  private def writeOffset(p: Path, o: Offset): Unit = {
    // write-then-move: the offset commit must be atomic — a torn offset
    // after a crash would desynchronize batchId and state version
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, s"${o.batchId},${o.lastLsn},${o.version}")
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** s15 engine: c33's lsn-poll loop under Structured Streaming.
    * Poll COMMANDS arrive as a file stream; foreachBatch executes each
    * poll as a bounded JDBC pull merged into a VERSIONED parquet replica
    * state, committing (batchId, lastLsn, version) to a durable offset
    * with an idempotent batchId gate — the standard exactly-once
    * foreachBatch sink contract. The query is STOPPED mid-tail and a
    * second incarnation resumes from the shared checkpoint + offset:
    * it must pull only `lsn > lastLsn` (no re-pull, no gap), and the
    * final replica must equal the full-replay apply (c04's oracle).
    *
    * Returns (replica, snapshot LSN, incarnation-1 last applied LSN,
    * resume-point LSN seen by incarnation 2, poll batches run).
    */
  def s15run(s: SparkSession, d: String): (DataFrame, Long, Long, Long, Int) = {
    import s.implicits._
    val dir = Files.createTempDirectory("graft_s15")
    // replica + offset outlive this call (the result reads them lazily)
    val durable = graft.sources.SourceSinks.cleanupOnExit(
      Files.createTempDirectory("graft_s15_replica"))
    val (fx, minL, maxL) = loadDb(s, d, dir)
    val (url, props) = (fx.url, fx.props)
    try {
      val cmdDir = dir.resolve("polls"); Files.createDirectories(cmdDir)
      val cp = dir.resolve("checkpoint")
      val offsetPath = durable.resolve("offset")
      val snapLsn = Polls.snapshotCut(minL, maxL)
      // ---- initial snapshot (c33's striped scan), state version 0 ----
      val snapshot = s.read.jdbc(
        url, s"(SELECT * FROM WAL WHERE LSN_LONG <= $snapLsn) AS SNAP",
        "LSN_LONG", minL, snapLsn, 8, props)
      Apply.state(lower(snapshot))
        .write.mode("overwrite").parquet(s"$durable/state_v0")
      writeOffset(offsetPath, Offset(-1L, snapLsn, 0L))
      val resumeFrom = new java.util.concurrent.atomic.AtomicLong(-1L)
      // ---- the streaming poll loop --------------------------------------
      val onBatch: (DataFrame, Long) => Unit = (cmdBatch, batchId) => {
        // poll commands are bounded metadata (a few rows), never WAL data
        val cmds = cmdBatch.select(col("poll_seq"), col("hi"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val off = readOffset(offsetPath)
        if (batchId > off.batchId && cmds.nonEmpty) { // idempotent gate
          resumeFrom.compareAndSet(-1L, off.lastLsn)
          var last = off.lastLsn
          var state = s.read.parquet(s"$durable/state_v${off.version}")
          cmds.foreach { case (_, hi) =>
            if (hi > last) {
              val batch = s.read.jdbc(
                url, s"(SELECT * FROM WAL WHERE LSN_LONG > $last AND LSN_LONG <= $hi) AS W",
                props)
              state = Apply.fold(lower(batch), Some(state))
              last = hi
            }
          }
          val v = off.version + 1
          state.write.mode("overwrite").parquet(s"$durable/state_v$v")
          writeOffset(offsetPath, Offset(batchId, last, v))
          // a restart re-reads only the version the offset names, so
          // every older version is garbage once v is committed
          (0L until v).map(k => durable.resolve(s"state_v$k")).filter(Files.exists(_))
            .foreach(graft.sources.SourceSinks.deleteDir)
        }
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
      val inc1Last = readOffset(offsetPath).lastLsn
      // incarnation 2: SAME checkpoint + offset — resumes, finishes the tail
      resumeFrom.set(-1L)
      val q2 = incarnation()
      try { land(2, his(2)); land(3, his(3)); q2.processAllAvailable() }
      finally q2.stop()
      val fin = readOffset(offsetPath)
      val replica = s.read.parquet(s"$durable/state_v${fin.version}")
        .filter(col("last_op") =!= "d")
        .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
        .orderBy("pk")
      (replica, snapLsn, inc1Last, resumeFrom.get(), fin.version.toInt)
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
