package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.cdc._

/** Catch-up: bootstrap a replica from a WAL backlog — pgoutput wire
  * decode, Avro envelope codec, snapshot produce/consume at the cut,
  * snapshot ⊕ WAL apply; then the Structured Streaming apply over the
  * same backlog. Both replicas are checked against a last-write-wins
  * fold.
  */
object CdcCatchup {
  /** the warm-up lake: small, so set-up pays for class loading and code
    * generation of every plan rather than for volume
    */
  val WarmEvents = 10000

  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** The inputs of one lake: the WAL, its snapshot cut and the reference. */
  final case class Input(wal: Wal, dir: String, streamDir: String, cutIdx: Int,
      ref: Map[Long, Long], refAtCut: Int)
  private var main: Input = _
  private var warm: Input = _

  def genWal(seed: Long, n: Int, tail: Int = 0): Wal =
    Wal.gen(seed, n + tail, CdcReplica.Keys, CdcReplica.ZipfS,
      Seq((n * 0.15).toInt, (n * 0.40).toInt))

  /** Write `w` as the `events` table under `dir`, in `files` files. */
  def writeEvents(ctx: Ctx, w: Wal, dir: String, files: Int): Unit =
    ctx.writeTable(dir, "events", w, w.n, files, EventsSchema, Seq("ts")) { (w, i) =>
      Row(w.eventId(i), w.tsUs(i), w.userId(i), Wal.Types(w.etype(i)), w.value(i))
    }

  /** The WAL as multi-file parquet, plus the same events as the single
    * `events.parquet` file the streaming apply's file source watches.
    */
  private def input(ctx: Ctx, tag: String, w: Wal): Input = {
    val dir = ctx.lake(s"$tag/wal")
    val streamDir = ctx.lake(s"$tag/stream")
    writeEvents(ctx, w, dir, 2 * ctx.cores)
    writeEvents(ctx, w, s"$streamDir/tmp", 1)
    val part = new java.io.File(s"$streamDir/tmp/events.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(s"$streamDir/events.parquet").toPath)
    val cut = (w.n * 0.6).toInt
    val ref = Reference.fold(w, 0, w.n).toMap
    Input(w, dir, streamDir, cut, ref, Reference.fold(w, 0, cut + 1).size)
  }

  /** the catch-up lake's directory */
  def mainDir: String = main.dir

  def generate(ctx: Ctx, w: Wal): Unit = {
    main = input(ctx, "main", w)
    warm = input(ctx, "warm", genWal(ctx.seed + 1, WarmEvents))
    val ops = (0 until w.n).groupBy(w.op).map { case (k, v) => k.toString -> v.length }
    val hot = (0 until w.n).groupBy(w.userId).values.map(_.length).toSeq.sorted.reverse
    ctx.props ++= Seq(
      "events" -> w.n, "keys" -> CdcReplica.Keys, "zipf_s" -> CdcReplica.ZipfS,
      "hot_1pct_key_event_share" -> hot.take(CdcReplica.Keys / 100).sum.toDouble / w.n,
      "op_mix" -> ops.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "),
      "snapshot_cut_event" -> main.cutIdx,
      "live_keys_end" -> main.ref.size, "live_keys_per_event" -> main.ref.size.toDouble / w.n)
  }

  /** One catch-up; returns the verification of its outputs. */
  def pass(ctx: Ctx, in: Input, queryTag: String): () => Unit = {
    implicit val s: SparkSession = ctx.spark
    val w = in.wal
    val snapLsn = w.lsn(in.cutIdx)
    val atUs = w.tsUs(in.cutIdx)
    val pgo = ctx.op("cdc.pgoutput") {
      val d = PgOutput.roundtrip(Envelope.flat(Tables.events(s, in.dir))).toDF().persist()
      d.count(); d
    }
    val env = ctx.op("cdc.avro_envelope") {
      val d = AvroEnvelope.roundtrip(pgo.select(col("lsn_long"), col("op"),
        timestamp_micros(col("tx_at_us")).as("tx_at"), col("pk_before"), col("pk_after"),
        col("after_value"))).toDF().persist()
      d.count(); pgo.unpersist(); d
    }
    val wal = env.select("lsn_long", "op", "pk_before", "pk_after", "after_value")
    val (header, snapRows) = ctx.op("cdc.snapshot_wire") {
      val state = Apply.latest(wal.filter(col("lsn_long") <= snapLsn))
        .select(col("pk"), col("last_value").as("value"))
      val (h, rows) = SnapshotWire.consume(SnapshotWire.produce(state, snapLsn, snapLsn, atUs))
      val r = rows.persist()
      r.count(); (h, r)
    }
    val replica = ctx.op("cdc.apply") {
      val wireLsn = graft.functions.Lsn.parse(
        org.apache.spark.unsafe.types.UTF8String.fromString(header.lsn))
      val snapFlat = snapRows.select(lit(wireLsn).as("lsn_long"), lit("r").as("op"),
        lit(null).cast("long").as("pk_before"), col("pk").as("pk_after"),
        col("value").as("after_value"))
      Apply.snapshotPlusWal(snapFlat.unionByName(wal.filter(col("lsn_long") > wireLsn)),
          s.range(1).select(lit(wireLsn).as("s")))
        .select("pk", "last_value").collect()
    }
    val qn = s"graftbench_stream_$queryTag"
    val streamed = ctx.op("streaming.stream_apply") {
      try StreamApply.run(s, in.streamDir, queryName = qn).select("pk", "value").collect()
      finally s.catalog.dropTempView(qn)
    }
    () => {
      val nPgo = pgo.count()
      val nEnv = env.count()
      val badFrames = env.filter(!col("magic_ok") || !col("fp_ok")).count()
      val nSnap = snapRows.count()
      env.unpersist(); snapRows.unpersist()
      ctx.check("pgoutput_rows", nPgo == w.n, s"$nPgo decoded of ${w.n}")
      ctx.check("envelope_rows", nEnv == w.n && badFrames == 0, s"$nEnv rows, $badFrames bad frames")
      ctx.check("snapshot_header_lsn", header.lsn == graft.functions.Lsn.format(snapLsn).toString, header.lsn)
      ctx.check("snapshot_rows", nSnap == in.refAtCut, s"$nSnap vs ${in.refAtCut}")
      def same(name: String, rows: Array[Row]): Unit = {
        val got = rows.map(r => (r.getLong(0), math.round(r.getDouble(1) * 100))).sorted
        val want = in.ref.toArray.sorted
        ctx.check(name, got.sameElements(want),
          s"${got.length} rows ${Reference.checksum(got.iterator)} vs ${want.length} ${Reference.checksum(want.iterator)}")
      }
      same("batch_replica", replica)
      same("stream_replica", streamed)
      if (ctx.trace) {
        ctx.layer("cdc.snapshot_rows") = nSnap.toDouble
        ctx.layer("cdc.replica_rows_per_event") = replica.length.toDouble / w.n
        ctx.tracer.drain()
        ctx.layer("streaming.state_rows") = stateRows.toDouble
      }
    }
  }

  /** state rows of the last streaming progress, from a listener */
  @volatile private var stateRows = 0L

  def setup(ctx: Ctx): Unit = {
    if (ctx.trace) ctx.spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        def onQueryStarted(e: QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: QueryProgressEvent): Unit =
          e.progress.stateOperators.headOption.foreach(op => stateRows = op.numRowsTotal)
      })
    // warm-up: one whole pass over the small lake, verified, not timed
    pass(ctx, warm, "warm")()
  }

  def measure(ctx: Ctx): Unit =
    ctx.runPasses(main.wal.n)(i => pass(ctx, main, s"p$i"))

  def events: Int = main.wal.n
}
