package graft.cdc

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Lsn

/** Parsed snapshot header (messages.go:106-118 SnapshotHeader). */
case class SnapHeader(topic: String, fingerprint: String, schema: String,
  tx_id: Long, lsn: String, at_us: Long, approx_rows: Long)

/** Snapshot PRODUCER protocol with EOF framing — the reference's snapshot
  * stream as actually published and consumed over the MQ
  * (internal/mq/snapshots.go:97-146 streamSnapshots, messages.go:106-125,
  * client.go:496-531 GetSnapshot, client.go:581-583 isEof):
  *
  *   1. message 0: the JSON-marshaled header {topic, fingerprint, schema,
  *      tx_id, lsn, at, approx_rows} — the CONSUMER PARSES THE ROW SCHEMA
  *      OUT OF THE HEADER (it holds no static schema);
  *   2. one message per row: a bare Avro body, no [[SingleObject]]
  *      header — unlike WAL messages, snapshot rows are bound to the
  *      header's schema (mq/snapshots.go:113-131);
  *   3. the final message: the literal 3-byte "EOF" sentinel
  *      (creek.SnapEOF) — a consumer that has not seen it must treat the
  *      snapshot as incomplete (the client blocks until it arrives).
  *
  * Every message rides the seq/len chunk framing (c15, client.go:642-686).
  * Stream totals therefore obey n_messages = rows + 2 — the "First and
  * last are not rows" accounting ListSnapshots exposes (client.go:575).
  *
  * Scale shape: the header/EOF are two driver-built messages; row
  * encode/decode run per partition; reassembly is the one msg_id shuffle.
  */
object SnapshotWire {
  val HeaderMsgId: Long = -2L
  val EofMsgId: Long = -1L

  val SnapEof: Array[Byte] = "EOF".getBytes(StandardCharsets.UTF_8)

  /** client.go:581-583, byte for byte. */
  def isEof(data: Array[Byte]): Boolean =
    data.length == 3 && data(0) == SnapEof(0) && data(1) == SnapEof(1) &&
      data(2) == SnapEof(2)

  /** Snapshot row schema: the events replica shape, keys-driven like every
    * producer schema (RelationMessageToAvro on the snapshot's relation).
    */
  val rowSchemaJson: String =
    AvroSchemaGen.record(AvroEnvelope.tableSchema, "events", "graft", Set("user_id"))

  def headerJson(h: SnapHeader): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("topic", h.topic)
    node.put("fingerprint", h.fingerprint)
    node.put("schema", h.schema)
    node.put("tx_id", h.tx_id)
    node.put("lsn", h.lsn)
    node.put("at", h.at_us)
    node.put("approx_rows", h.approx_rows)
    m.writeValueAsString(node)
  }

  def parseHeader(json: String): SnapHeader = {
    val n = new ObjectMapper().readTree(json)
    SnapHeader(n.get("topic").asText(), n.get("fingerprint").asText(),
      n.get("schema").asText(), n.get("tx_id").asLong(), n.get("lsn").asText(),
      n.get("at").asLong(), n.get("approx_rows").asLong())
  }

  /** One snapshot row → bare Avro body under the header's schema. */
  def encodeRow(codec: SingleObject.Codec, pk: Long, value: Option[Double],
      tsUs: Long): Array[Byte] = {
    val rec = new GenericData.Record(codec.schema)
    rec.put("user_id", pk)
    rec.put("value", value.map(java.lang.Double.valueOf).orNull)
    rec.put("ts", tsUs)
    codec.body(rec)
  }

  def decodeRow(codec: SingleObject.Codec, bytes: Array[Byte]): (Long, Option[Double], Long) = {
    val rec = codec.readBody(bytes)
    (rec.get("user_id").asInstanceOf[Long],
      Option(rec.get("value")).map(_.asInstanceOf[Double]),
      rec.get("ts").asInstanceOf[Long])
  }

  /** PRODUCE the snapshot stream for a state table (pk, value): header
    * FIRST, Avro rows, EOF LAST — all chunk-framed, in protocol order
    * (the union's partition order: an order-respecting consumer sees the
    * stream the reference publishes, mq/snapshots.go:101-146). Row
    * message ids are the pks, which must be non-negative — the negative
    * ids are reserved for the header/EOF sentinels (checked loudly, not
    * silently collided).
    */
  def produce(state: DataFrame, snapLsn: Long, txId: Long, atUs: Long,
      topic: String = "")(implicit s: SparkSession): Dataset[Frame] = {
    import s.implicits._
    val nRows = state.count()
    val header = SnapHeader(
      topic = if (topic.nonEmpty) topic else s"CREEK_SNAP.public.events.${atUs}",
      fingerprint = AvroSchemaGen.fingerprintB64(AvroSchemaGen.fingerprint64(rowSchemaJson)),
      schema = rowSchemaJson,
      tx_id = txId, lsn = Lsn.format(snapLsn).toString,
      at_us = atUs, approx_rows = nRows)
    val headerFrames = Chunking.split(HeaderMsgId,
      headerJson(header).getBytes(StandardCharsets.UTF_8))
    val eofFrames = Chunking.split(EofMsgId, SnapEof)
    val json = rowSchemaJson
    val rowFrames = state.select(col("pk"), col("value")).as[(Long, Option[Double])]
      .mapPartitions { it =>
        val codec = new SingleObject.Codec(json)
        it.flatMap { case (pk, value) =>
          require(pk >= 0, s"row msg ids are pks and must be >= 0, got $pk " +
            "(negative ids are reserved for the header/EOF sentinels)")
          Chunking.split(pk, encodeRow(codec, pk, value, atUs))
        }
      }
    s.createDataset(headerFrames).union(rowFrames)
      .union(s.createDataset(eofFrames))
  }

  /** CONSUME the stream: reassemble frames, parse the row schema OUT OF
    * THE HEADER, REQUIRE the EOF sentinel (an un-terminated snapshot is
    * incomplete — refuse it, like the blocking client), decode rows.
    * Returns (header, rows(pk, value, ts_us)).
    */
  def consume(frames: Dataset[Frame])(
      implicit s: SparkSession): (SnapHeader, DataFrame) = {
    import s.implicits._
    // eager localCheckpoint: ONE materialization of the reassembly shuffle
    // feeds the header read, the EOF audit, and the (lazy, distributed)
    // row decode — no cache to leak, no driver hop for row data. Unlike
    // the WAL path (c28 drains), an INCOMPLETE snapshot message is fatal:
    // silently dropping replica rows would corrupt the snapshot.
    val assembled = Chunking.reassemble(frames.toDF()).localCheckpoint()
    val nIncomplete = assembled.filter(!Chunking.isCompleteMessage).count()
    if (nIncomplete > 0) throw new IllegalStateException(
      s"snapshot stream carries $nIncomplete incomplete messages")
    val reassembled = assembled
      .select(col("msg_id"), col("bytes")).as[(Long, Array[Byte])]
    val headerBytes = reassembled.filter(_._1 == HeaderMsgId).collect() match {
      case Array((_, b)) => b
      case other => throw new IllegalStateException(
        s"snapshot stream carries ${other.length} header messages")
    }
    val header = parseHeader(new String(headerBytes, StandardCharsets.UTF_8))
    val nEof = reassembled.filter(r => isEof(r._2)).count()
    if (nEof != 1L) throw new IllegalStateException(
      s"snapshot stream not EOF-terminated ($nEof sentinels) — incomplete snapshot")
    val json = header.schema // the consumer's schema comes from the wire
    val rows = reassembled.filter(r => r._1 >= 0 && !isEof(r._2))
      .mapPartitions { it =>
        val codec = new SingleObject.Codec(json)
        it.map { case (_, bytes) => decodeRow(codec, bytes) }
      }
      .toDF("pk", "value", "ts_us")
    (header, rows)
  }
}

/** One snapshot request (messages.go:91-96 SnapshotRequest). */
case class SnapshotRequest(namespace: String, table: String)

/** The snapshot REQUEST/REPLY API — mq/snapshots.go:57-95
  * handleSnapShotMessage:
  *
  *   - a request WITHOUT a reply subject is ignored, not an error
  *     (snapshots.go:58-60);
  *   - `CanSnapshot` gates on publication membership — a table outside
  *     the allow-list is refused (snapshots.go:69-76, the c27 manager is
  *     the membership source);
  *   - the server names a fresh per-snapshot topic
  *     `CREEK_SNAP.<ns>.<table>.<yyyyMMddHHmmss_SSSSSS>_<4 hex>` from a
  *     seeded rng + timestamp (genSnapTopic, snapshots.go:151-163; the
  *     seeded-deterministic property is what matters — ListSnapshots
  *     strips the last 5 chars when parsing, client.go:565), REPLIES the
  *     topic to the caller, and streams header + rows + EOF there.
  */
object SnapshotApi {
  private val TopicTimeFmt =
    DateTimeFormatter.ofPattern("uuuuMMddHHmmss_SSSSSS").withZone(ZoneOffset.UTC)

  /** Deterministic per-snapshot topic: timestamp + 2 seeded-rng bytes in
    * hex (java.util.Random's algorithm is specified, so the name is
    * reproducible across JVMs given the seed).
    */
  def genSnapTopic(seed: Long, atUs: Long, req: SnapshotRequest): String = {
    val timeStr = TopicTimeFmt.format(Instant.ofEpochSecond(
      Math.floorDiv(atUs, 1000000L), Math.floorMod(atUs, 1000000L) * 1000L))
    val hex = f"${new java.util.Random(seed).nextInt(0x10000)}%04x"
    s"CREEK_SNAP.${req.namespace}.${req.table}.${timeStr}_$hex"
  }

  /** Serve one request: None when there is no reply subject (ignored);
    * IllegalStateException when the table is outside the publication;
    * otherwise the replied topic + the full framed snapshot stream.
    */
  def handle(req: SnapshotRequest, replyTo: Option[String],
      canSnapshot: String => Boolean, state: DataFrame, snapLsn: Long,
      txId: Long, atUs: Long, seed: Long)(
      implicit s: SparkSession): Option[(String, Dataset[Frame])] = {
    if (replyTo.isEmpty) return None // no reply subject: drop silently
    if (!canSnapshot(req.table))
      throw new IllegalStateException(s"snapshot not allowed: ${req.namespace}.${req.table}")
    val topic = genSnapTopic(seed, atUs, req)
    Some((topic, SnapshotWire.produce(state, snapLsn, txId, atUs, topic)))
  }
}
