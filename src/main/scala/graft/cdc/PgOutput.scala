package graft.cdc

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Lsn

/** One change event to plant into a pgoutput stream (producer side). */
case class PgoRow(lsn_long: Long, op: String, tx_at_us: Long, user_id: Long,
  pk_before: Option[Long], pk_after: Option[Long], after_value: Option[Double])

/** One decoded WAL envelope row (consumer side). `n_before_cols` counts the
  * NON-NULL columns of the before image — 1 for key-only images (u_pk/d old
  * tuples carry nulls in non-key slots; plain u derives before from the new
  * tuple's key columns), null when no before image exists.
  */
case class PgoDecoded(lsn_long: Long, lsn_str: String, op: String,
  tx_id: Long, tx_at_us: Long, schema_name: String, table_name: String,
  pk_before: Option[Long], n_before_cols: Option[Int], pk_after: Option[Long],
  after_value: Option[Double], after_ts_us: Option[Long])

/** One parsed Standby Status Update reply (client→server 'r' message). */
case class StandbyReply(wal_write: Long, wal_flush: Long, wal_apply: Long,
  lsn_str: String, reply_requested: Boolean)

/** pgoutput logical-replication BYTE-STREAM codec — the reference
  * producer's core message loop re-implemented from the public PostgreSQL
  * protocol ("Logical Replication Message Formats" + "Streaming Replication
  * Protocol"), matching the reference's dispatch and envelope semantics
  * branch for branch (creek's internal/dao/replication.go). One producer,
  * `encode`, plants a stream; one consumer loop, `consume`, reads it — its
  * scaladoc states the frame layout and what the loop yields.
  *
  * Scale shape: the WAL is segmented into contiguous LSN ranges, one
  * self-contained stream per segment (what a parallel backfill of archived
  * WAL segments sees); generate + decode run per group after ONE shuffle.
  */
object PgOutput {
  /** 2000-01-01T00:00:00Z in unix microseconds (the pg timestamp epoch). */
  val PgEpochMicros: Long = 946684800000000L

  val OidInt8 = 20
  val OidFloat8 = 701
  val OidTimestamptz = 1184

  /** LSNs per self-contained stream segment. */
  val SegSize = 2048L

  val RelId = 16385 // first user-table oid after the catalog range

  private val TsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSSx").withZone(ZoneOffset.UTC)

  def formatTsTz(us: Long): String =
    TsFmt.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  def parseTsTz(s: String): Long = {
    val i = Instant.from(TsFmt.parse(s))
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  // ------------------------------------------------------------------
  // byte-level writer/reader (network byte order, like the pg protocol)

  final class W {
    private val out = new ByteArrayOutputStream(256)
    def u8(v: Int): W = { out.write(v & 0xFF); this }
    def u16(v: Int): W = { u8(v >>> 8); u8(v) }
    def u32(v: Long): W = { u16((v >>> 16).toInt); u16(v.toInt) }
    def u64(v: Long): W = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
    def cstr(s: String): W = {
      out.write(s.getBytes(StandardCharsets.UTF_8)); u8(0)
    }
    def bytes(b: Array[Byte]): W = { out.write(b, 0, b.length); this }
    def result(): Array[Byte] = out.toByteArray
  }

  /** Reads `buf` in place from `pos` up to `end`. A read that would pass
    * `end` throws an IllegalArgumentException naming the offset the read
    * starts at, so a cut length prefix, a short frame, a cut message and a
    * string without its NUL all fail by the same rule (offsets count from
    * the start of `buf`).
    */
  final class R(buf: Array[Byte], var pos: Int, end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private def need(n: Int): Unit =
      require(n >= 0 && n <= end - pos,
        s"truncated frame: need $n bytes at offset $pos of $end")
    private def get(): Int = { val v = buf(pos) & 0xFF; pos += 1; v }
    def u8(): Int = { need(1); get() }
    def u16(): Int = { need(2); (get() << 8) | get() }
    def u32(): Long = { need(4); (get().toLong << 24) | (get() << 16) | (get() << 8) | get() }
    def u64(): Long = { need(8); (u32() << 32) | u32() }
    def i64(): Long = u64()
    def cstr(): String = {
      val start = pos
      while (pos < end && buf(pos) != 0) pos += 1
      require(pos < end, s"truncated frame: no NUL ends the string at offset $start")
      val s = new String(buf, start, pos - start, StandardCharsets.UTF_8)
      pos += 1
      s
    }
    /** `n` bytes of UTF-8 text, decoded in place. */
    def text(n: Int): String = {
      need(n)
      val s = new String(buf, pos, n, StandardCharsets.UTF_8); pos += n; s
    }
    def bytes(n: Int): Array[Byte] = {
      need(n)
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b
    }
    /** The next `n` bytes as a reader bounded by their end (no copy). */
    def sub(n: Int): R = { need(n); val r = new R(buf, pos, pos + n); pos += n; r }
    def remaining: Int = end - pos
  }

  // ------------------------------------------------------------------
  // producer: pgoutput message encoders

  /** One tuple cell: kind 'n' (null) / 'u' (unchanged toast) / 't' (text). */
  sealed trait Cell
  case object NullCell extends Cell
  case object ToastCell extends Cell
  case class TextCell(text: String) extends Cell

  def writeTuple(w: W, cells: Seq[Cell]): Unit = {
    w.u16(cells.length)
    cells.foreach {
      case NullCell => w.u8('n')
      case ToastCell => w.u8('u')
      case TextCell(t) =>
        val b = t.getBytes(StandardCharsets.UTF_8)
        w.u8('t'); w.u32(b.length.toLong); w.bytes(b)
    }
  }

  def beginMsg(finalLsn: Long, commitUs: Long, xid: Long): Array[Byte] =
    new W().u8('B').u64(finalLsn).u64(commitUs - PgEpochMicros)
      .u32(xid & 0xFFFFFFFFL).result()

  def commitMsg(commitLsn: Long, commitUs: Long): Array[Byte] =
    new W().u8('C').u8(0).u64(commitLsn).u64(commitLsn + 1)
      .u64(commitUs - PgEpochMicros).result()

  /** cols: (keyFlag, name, typeOid). Replica identity 'd' (default). */
  def relationMsg(relId: Int, ns: String, name: String,
      cols: Seq[(Int, String, Int)]): Array[Byte] = {
    val w = new W().u8('R').u32(relId.toLong).cstr(ns).cstr(name).u8('d')
      .u16(cols.length)
    cols.foreach { case (flags, n, oid) =>
      w.u8(flags).cstr(n).u32(oid.toLong).u32(-1L & 0xFFFFFFFFL)
    }
    w.result()
  }

  def insertMsg(relId: Int, newTuple: Seq[Cell]): Array[Byte] = {
    val w = new W().u8('I').u32(relId.toLong).u8('N')
    writeTuple(w, newTuple); w.result()
  }

  def updateMsg(relId: Int, old: Option[(Char, Seq[Cell])],
      newTuple: Seq[Cell]): Array[Byte] = {
    val w = new W().u8('U').u32(relId.toLong)
    old.foreach { case (kind, cells) => w.u8(kind); writeTuple(w, cells) }
    w.u8('N'); writeTuple(w, newTuple); w.result()
  }

  def deleteMsg(relId: Int, kind: Char, oldTuple: Seq[Cell]): Array[Byte] = {
    val w = new W().u8('D').u32(relId.toLong).u8(kind)
    writeTuple(w, oldTuple); w.result()
  }

  def truncateMsg(relIds: Seq[Int]): Array[Byte] = {
    val w = new W().u8('T').u32(relIds.length.toLong).u8(0)
    relIds.foreach(id => w.u32(id.toLong))
    w.result()
  }

  /** XLogData frame 'w': WALStart, ServerWALEnd, ServerTime, body. */
  def xlog(walStart: Long, body: Array[Byte]): Array[Byte] =
    new W().u8('w').u64(walStart).u64(walStart).u64(0L).bytes(body).result()

  /** Primary keepalive frame 'k': ServerWALEnd, ServerTime, ReplyRequested.
    * ServerTime is on the wire as micros since the pg epoch (like Begin/
    * Commit times); the default writes 0 — "time unknown" — for callers
    * that omit serverTimeUs. `encode` passes the commit clock
    * (r.tx_at_us) instead, so its planted keepalives carry a real
    * ServerTime for the x14 lag gauges.
    */
  def keepalive(serverWalEnd: Long, reply: Boolean,
      serverTimeUs: Long = PgEpochMicros): Array[Byte] =
    new W().u8('k').u64(serverWalEnd).u64(serverTimeUs - PgEpochMicros)
      .u8(if (reply) 1 else 0).result()

  /** Standby Status Update 'r' (client→server): WALWrite/Flush/Apply
    * positions, client time, reply-requested — the message the reference
    * sends on keepalive reply requests (replication.go:87-93 posts
    * CurrentLSN; pglogrepl defaults flush/apply to the write position).
    */
  def standbyStatus(walPos: Long, clientTimeUs: Long, reply: Boolean): Array[Byte] =
    new W().u8('r').u64(walPos).u64(walPos).u64(walPos).u64(clientTimeUs)
      .u8(if (reply) 1 else 0).result()

  /** Frame = 4-byte length + payload (the CopyData message boundary the
    * pg wire protocol provides around each replication frame).
    */
  private def frame(out: ByteArrayOutputStream, msg: Array[Byte]): Unit = {
    out.write((msg.length >>> 24) & 0xFF); out.write((msg.length >>> 16) & 0xFF)
    out.write((msg.length >>> 8) & 0xFF); out.write(msg.length & 0xFF)
    out.write(msg, 0, msg.length)
  }

  /** Frame a hand-assembled message sequence (spec helper). */
  def framed(msgs: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    msgs.foreach(frame(out, _))
    out.toByteArray
  }

  val eventsCols: Seq[(Int, String, Int)] = Seq(
    (1, "user_id", OidInt8), (0, "value", OidFloat8), (0, "ts", OidTimestamptz))

  /** Plant one self-contained stream for a sorted LSN segment. Rows route
    * to the relation `tableOf(user_id)`; each relation's Relation message
    * (ids from RelId up, in order of first use) is emitted lazily before
    * its first row — exactly how a pg session registers relations, so
    * with several tables the consumer's relations map is exercised with
    * live dispatch and a truncate cuts only its own relation. Each row is
    * Begin + change + Commit; every 97th row is followed by a keepalive
    * (ServerWALEnd = the row's LSN, ServerTime = its commit time).
    */
  def encode(rows: Seq[PgoRow], tableOf: Long => String = _ => "events",
      keepaliveReply: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream(rows.length * 96 + 256)
    var registered = Map.empty[String, Int]
    var n = 0
    rows.foreach { r =>
      // the planted lift reuses lsn as the Begin Xid, but pgoutput xids
      // are u32 on the wire — fail loudly instead of silently truncating
      // (the decode side would diverge from the lsn-based oracle)
      require(r.lsn_long <= 0xFFFFFFFFL,
        s"planted xid = lsn ${r.lsn_long} exceeds the u32 pgoutput Xid")
      val tname = tableOf(r.user_id)
      val relId = registered.getOrElse(tname, {
        val id = RelId + registered.size
        frame(out, xlog(r.lsn_long, relationMsg(id, "public", tname, eventsCols)))
        registered += tname -> id
        id
      })
      frame(out, xlog(r.lsn_long, beginMsg(r.lsn_long, r.tx_at_us, r.lsn_long)))
      frame(out, xlog(r.lsn_long, bodyFor(r, relId)))
      frame(out, xlog(r.lsn_long, commitMsg(r.lsn_long, r.tx_at_us)))
      n += 1
      if (n % 97 == 0)
        frame(out, keepalive(r.lsn_long, reply = keepaliveReply,
          serverTimeUs = r.tx_at_us))
    }
    out.toByteArray
  }

  /** The pgoutput body for one planted change, against a given relation. */
  private def bodyFor(r: PgoRow, relId: Int): Array[Byte] = {
    val newTuple = r.pk_after.map { pk =>
      Seq[Cell](TextCell(pk.toString),
        r.after_value.map(v => TextCell(v.toString): Cell).getOrElse(NullCell),
        TextCell(formatTsTz(r.tx_at_us)))
    }
    r.op match {
      case "c" => insertMsg(relId, newTuple.get)
      case "u" => updateMsg(relId, None, newTuple.get)
      case "u_pk" =>
        val oldKey = Seq[Cell](TextCell(r.pk_before.get.toString), NullCell, NullCell)
        updateMsg(relId, Some(('K', oldKey)), newTuple.get)
      case "d" =>
        deleteMsg(relId, 'K', Seq(TextCell(r.pk_before.get.toString), NullCell, NullCell))
      case "t" => truncateMsg(Seq(relId))
      case other => throw new IllegalArgumentException(s"not a pgoutput op: $other")
    }
  }

  // ------------------------------------------------------------------
  // consumer: the decode loop (replication.go:205-583)

  private case class Rel(ns: String, name: String, cols: Seq[(Int, String, Int)])

  /** Decode one text cell by column OID (decodeTextColumnData analogue). */
  def decodeText(oid: Int, text: String): Any = oid match {
    case OidInt8 => text.toLong
    case OidFloat8 => text.toDouble
    case OidTimestamptz => parseTsTz(text)
    case _ => text
  }

  /** Tuple → column-name map: 'n' maps the name to null, 'u' leaves the
    * name ABSENT (unchanged toast), 't' decodes by OID — exactly
    * getValues (replication.go:520-538). A tuple with more cells than
    * its relation has columns fails loudly.
    */
  def readTuple(r: R, cols: Seq[(Int, String, Int)]): Map[String, Any] = {
    val at = r.pos
    val n = r.u16()
    require(n <= cols.length,
      s"tuple at offset $at has $n cells for ${cols.length} columns")
    val m = Map.newBuilder[String, Any]
    var i = 0
    while (i < n) {
      val (_, name, oid) = cols(i)
      r.u8().toChar match {
        case 'n' => m += name -> null
        case 'u' => () // unchanged toast: absent from the map
        case 't' => m += name -> decodeText(oid, r.text(r.u32().toInt))
        case k => throw new IllegalArgumentException(
          s"unknown tuple kind $k at offset ${r.pos - 1}")
      }
      i += 1
    }
    m.result()
  }

  /** Key columns of a tuple (flags==1), skipping non-key values — exactly
    * getKeyValues (replication.go:540-558); used to derive a plain
    * update's before image from its NEW tuple.
    */
  def readKeyTuple(tuple: Map[String, Any], cols: Seq[(Int, String, Int)]): Map[String, Any] =
    tuple.filter { case (name, _) => cols.exists(c => c._2 == name && c._1 == 1) }

  /** The one walk over a stream's length prefixes (layout: `consume`):
    * each frame is handed out in order as a reader bounded by its end.
    * Bytes after the last frame that do not form a whole frame fail
    * loudly, like any other read past an end.
    */
  def frames(bytes: Array[Byte]): Iterator[R] = new Iterator[R] {
    private val top = new R(bytes)
    def hasNext: Boolean = top.remaining > 0
    def next(): R = top.sub(top.u32().toInt)
  }

  /** What one pass of `consume` yields (stated there). */
  case class Consumed(rows: Seq[PgoDecoded], replies: Seq[StandbyReply],
      keepalives: Seq[(Long, Long)]) {

    /** The gauge triple at every keepalive, exactly as the keepalive arm
      * of the reference loop feeds metrics (replication.go:219-237):
      * SetWalLSN(ServerWALEnd), SetBehindLSN(head, ServerWALEnd) with the
      * negative diff clamped, SetBehindTime(now − ServerTime) in millis.
      * `headLsn`/`headTimeUs` stand in for GetCurrLSN() / time.Now() —
      * the server's WAL head and the observation clock, which in the
      * planted world are known exactly.
      */
    def lag(headLsn: Long, headTimeUs: Long): Seq[LagGauge] =
      keepalives.map { case (walEnd, timeUs) =>
        LagGauge(wal_lsn = walEnd, wal_lsn_str = Lsn.format(walEnd).toString,
          behind_lsn = math.max(0L, headLsn - walEnd),
          behind_time_ms = math.max(0L, (headTimeUs - timeUs) / 1000))
      }
  }

  /** The consumer loop (replication.go:205-583) over one stream. The
    * stream is a sequence of frames, each a 4-byte big-endian length and
    * a CopyData payload of that many bytes, read in place. The loop
    * yields the decoded envelope rows, the Standby Status Update sent for
    * each keepalive that requests one, and each keepalive's
    * (ServerWALEnd, ServerTime in unix micros).
    *
    * Payloads by frame type:
    *   - 'k' primary keepalive: ServerWALEnd u64, ServerTime i64,
    *     ReplyRequested u8. ServerWALEnd advances CurrentLSN; the
    *     (ServerWALEnd, ServerTime) pair is recorded for the lag gauges;
    *     a requested reply makes the client send a Standby Status Update
    *     carrying CurrentLSN (replication.go:230-233 zeroes the send
    *     deadline, :87-93 posts CurrentLSN), emitted as wire bytes and
    *     re-parsed, so the full 'r' roundtrip is pinned;
    *   - 'w' XLogData: WALStart u64, ServerWALEnd u64, ServerTime i64 and
    *     one pgoutput message. WALStart advances CurrentLSN, which is the
    *     envelope lsn (replication.go:243-245);
    *   - any other frame type is skipped (log-and-continue in the
    *     reference, replication.go:199-203).
    *
    * pgoutput messages:
    *   - Begin 'B' (FinalLSN u64, CommitTime i64 in MICROSECONDS SINCE THE
    *     POSTGRES EPOCH 2000-01-01, Xid u32) sets tx_id/tx_at;
    *   - Relation 'R' (relid, namespace, name, replica identity, columns
    *     with key flags + type OIDs) registers the table — a stream is
    *     self-contained because Postgres re-sends Relation messages on
    *     every new connection;
    *   - Insert 'I' → op c with after = the new tuple; Update 'U' with an
    *     old tuple ('K'/'O') → op u_pk with before = the old tuple, without
    *     one → op u with before = the KEY COLUMNS OF THE NEW TUPLE
    *     (replication.go:434-441); Delete 'D' → op d with before = the old
    *     tuple; Truncate 'T' → one op t per relation id. A change for an
    *     unknown relation id is skipped (replication.go:370-372);
    *   - tuple cells are 'n' null (present, null value), 'u' unchanged
    *     TOAST (ABSENT from the value map — replication.go:527-530), or
    *     't' text, decoded by column OID like the reference's
    *     decodeTextColumnData (int8/float8/timestamptz here);
    *   - Commit 'C', Type 'Y', Origin 'O', logical Message 'M' and any
    *     future tag add nothing and are ignored (replication.go:257-301).
    *
    * A read past the end of the stream, of a frame or of a message throws
    * an IllegalArgumentException naming the offset.
    */
  def consume(bytes: Array[Byte]): Consumed = {
    val rows = Seq.newBuilder[PgoDecoded]
    val replies = Seq.newBuilder[StandbyReply]
    val keepalives = Seq.newBuilder[(Long, Long)]
    var relations = Map.empty[Long, Rel]
    var currentLsn = 0L
    var txid = 0L
    var commitUs = 0L

    def emit(rel: Rel, op: String, before: Option[Map[String, Any]],
        after: Option[Map[String, Any]]): Unit = {
      def pkOf(m: Map[String, Any]) =
        m.get("user_id").collect { case l: Long => l }
      rows += PgoDecoded(
        lsn_long = currentLsn, lsn_str = Lsn.format(currentLsn).toString, op = op,
        tx_id = txid, tx_at_us = commitUs,
        schema_name = rel.ns, table_name = rel.name,
        pk_before = before.flatMap(pkOf),
        n_before_cols = before.map(_.valuesIterator.count(_ != null)),
        pk_after = after.flatMap(pkOf),
        after_value = after.flatMap(_.get("value").collect { case d: Double => d }),
        after_ts_us = after.flatMap(_.get("ts").collect { case t: Long => t }))
    }

    frames(bytes).foreach { f =>
      f.u8().toChar match {
        case 'k' =>
          val serverWalEnd = f.u64()
          keepalives += ((serverWalEnd, f.i64() + PgEpochMicros))
          if (serverWalEnd > currentLsn) currentLsn = serverWalEnd
          if (f.u8() != 0)
            replies += parseStandbyStatus(standbyStatus(currentLsn, 0L, reply = false))
        case 'w' =>
          val walStart = f.u64()
          f.u64(); f.i64() // ServerWALEnd, ServerTime
          if (walStart > currentLsn) currentLsn = walStart
          f.u8().toChar match {
            case 'B' =>
              f.u64() // FinalLSN (AckedLSN bookkeeping; envelope lsn is CurrentLSN)
              commitUs = f.i64() + PgEpochMicros
              txid = f.u32()
            case 'R' =>
              val id = f.u32()
              val ns = f.cstr(); val name = f.cstr()
              f.u8() // replica identity
              val cols = (0 until f.u16()).map { _ =>
                val flags = f.u8(); val cname = f.cstr(); val oid = f.u32().toInt
                f.u32() // type modifier
                (flags, cname, oid)
              }
              relations += id -> Rel(ns, name, cols)
            case 'I' =>
              relations.get(f.u32()).foreach { rel =>
                f.u8() // 'N'
                emit(rel, "c", None, Some(readTuple(f, rel.cols)))
              }
            case 'U' =>
              relations.get(f.u32()).foreach { rel =>
                var kind = f.u8()
                var old: Option[Map[String, Any]] = None
                if (kind == 'K' || kind == 'O') {
                  old = Some(readTuple(f, rel.cols))
                  kind = f.u8()
                }
                require(kind == 'N', s"expected new tuple at offset ${f.pos - 1}, got $kind")
                val newTuple = readTuple(f, rel.cols)
                old match {
                  case Some(o) => emit(rel, "u_pk", Some(o), Some(newTuple))
                  case None =>
                    emit(rel, "u", Some(readKeyTuple(newTuple, rel.cols)), Some(newTuple))
                }
              }
            case 'D' =>
              relations.get(f.u32()).foreach { rel =>
                val kind = f.u8()
                emit(rel, "d",
                  if (kind == 'K' || kind == 'O') Some(readTuple(f, rel.cols)) else None,
                  None)
              }
            case 'T' =>
              val n = f.u32().toInt
              f.u8() // options
              (0 until n).foreach { _ =>
                relations.get(f.u32()).foreach(rel => emit(rel, "t", None, None))
              }
            case _ => ()
          }
        case _ => ()
      }
    }
    Consumed(rows.result(), replies.result(), keepalives.result())
  }

  /** Parse one standby-status reply (the server-side read of 'r'). */
  def parseStandbyStatus(bytes: Array[Byte]): StandbyReply = {
    val r = new R(bytes)
    val tag = r.u8().toChar
    require(tag == 'r', s"not a standby status message: $tag")
    val w = r.u64(); val f = r.u64(); val a = r.u64()
    r.i64() // client time
    StandbyReply(w, f, a, Lsn.format(w).toString, r.u8() != 0)
  }

  // ------------------------------------------------------------------

  /** Shared plant-side plumbing: the flat envelope (minus snapshot op
    * 'r', which pgoutput never carries) segmented into contiguous LSN
    * streams, each handed to `f` as a sorted row sequence after ONE
    * shuffle.
    */
  private def segmented[T: org.apache.spark.sql.Encoder](flat: DataFrame)(
      f: Seq[PgoRow] => Iterator[T])(implicit s: SparkSession): Dataset[T] = {
    import s.implicits._
    flat.filter(col("op") =!= "r")
      .select(col("lsn_long"), col("op"), unix_micros(col("tx_at")).as("tx_at_us"),
        col("user_id"), col("pk_before"), col("pk_after"), col("after_value"))
      .as[PgoRow]
      .groupByKey(_.lsn_long / SegSize)
      .flatMapGroups((_, it) => f(it.toSeq.sortBy(_.lsn_long)))
  }

  /** Plant + decode, each segment's stream routing rows to `tableOf`
    * (c35/c37 shard by user, c38 plants leaf-partition relation names).
    */
  def roundtrip(flat: DataFrame, tableOf: Long => String = _ => "events")(
      implicit s: SparkSession): Dataset[PgoDecoded] = {
    import s.implicits._
    segmented(flat)(rows => consume(encode(rows, tableOf)).rows.iterator)
  }

  /** Plant + reply: the same segmented streams with reply-requesting
    * keepalives, run through the consumer loop for its replies.
    */
  def standbyRoundtrip(flat: DataFrame)(implicit s: SparkSession): Dataset[StandbyReply] = {
    import s.implicits._
    segmented(flat)(rows =>
      consume(encode(rows, keepaliveReply = true)).replies.iterator)
  }

  /** One replication-lag observation — the three gauges the reference
    * exports per keepalive (metrics.go:71-85): wal_lsn (ServerWALEnd),
    * behind_lsn (server head − stream position, clamped ≥ 0) and
    * behind_time_ms (consumer clock − ServerTime).
    */
  case class LagGauge(wal_lsn: Long, wal_lsn_str: String, behind_lsn: Long,
    behind_time_ms: Long)

  /** Plant + observe: segmented streams (keepalives every 97 messages,
    * ServerTime = the row's commit time) run through the consumer loop,
    * its keepalives gauged against the global WAL head.
    */
  def replicationLag(flat: DataFrame)(implicit s: SparkSession): Dataset[LagGauge] = {
    import s.implicits._
    val head = flat.filter(col("op") =!= "r")
      .agg(max("lsn_long"), unix_micros(max("tx_at"))).head()
    val (headLsn, headTimeUs) = (head.getLong(0), head.getLong(1))
    segmented(flat)(rows =>
      consume(encode(rows)).lag(headLsn, headTimeUs).iterator)
  }
}
