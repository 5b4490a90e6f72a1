package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One wire frame: 2-byte BE seq + 4-byte BE total message length + chunk
  * payload (creek client.go:642-686 readMessage framing).
  */
case class Frame(msg_id: Long, seq: Int, total_len: Int, chunk: Array[Byte])

/** Message chunking: large WAL messages split into seq/len-framed packets
  * and reassembled downstream. The reassembly is a single groupBy(msg_id)
  * with an in-row sort of the (few) frames — at scale one shuffle keyed
  * by message id, state bounded by message size.
  */
object Chunking {
  val DefaultChunkSize = 64

  /** Split an encoded message into wire frames. */
  def split(msgId: Long, bytes: Array[Byte], chunkSize: Int = DefaultChunkSize): Seq[Frame] =
    bytes.grouped(chunkSize).zipWithIndex.map { case (c, i) =>
      Frame(msgId, i, bytes.length, c)
    }.toSeq

  /** Frame header bytes as on the wire (seq BE16 ++ total_len BE32 ++ chunk). */
  def frameBytes(f: Frame): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(6 + f.chunk.length)
    bb.putShort(f.seq.toShort).putInt(f.total_len).put(f.chunk)
    bb.array()
  }

  /** Parse a wire packet back into a Frame. */
  def parseFrame(msgId: Long, packet: Array[Byte]): Frame = {
    val bb = java.nio.ByteBuffer.wrap(packet)
    Frame(msgId, bb.getShort.toInt, bb.getInt, java.util.Arrays.copyOfRange(packet, 6, packet.length))
  }

  /** Reassemble a frame table into messages — ONE shuffle keyed by
    * msg_id, frames concatenated in seq order inside the aggregation.
    * Exposes the validity columns of the readMessage contract
    * (client.go:642-686): seq-0 presence, contiguity, declared length.
    * Columns: msg_id, min_seq, max_seq, n_frames, total_len, bytes.
    * Shared by c15/c23/c28 and the snapshot wire consumer.
    */
  def reassemble(frames: DataFrame): DataFrame =
    frames.groupBy(col("msg_id"))
      .agg(min("seq").as("min_seq"), max("seq").as("max_seq"),
        count(lit(1)).as("n_frames"),
        max("total_len").as("total_len"),
        aggregate(
          transform(array_sort(collect_list(struct(col("seq"), col("chunk")))),
            x => x.getField("chunk")),
          lit(Array.emptyByteArray),
          (acc, c) => concat(acc, c)).as("bytes"))

  /** The readMessage validity predicate: first frame present, sequence
    * contiguous, reassembled bytes reach the declared total — anything
    * else is drained (dropped whole), never fatal (client.go:632-658).
    */
  val isCompleteMessage: org.apache.spark.sql.Column =
    col("min_seq") === 0 && col("n_frames") === col("max_seq") + 1 &&
      length(col("bytes")) === col("total_len")

  /** c15: encode the WAL's non-truncate events through the envelope codec,
    * split into wire frames, shuffle frames by message, reassemble in
    * order, decode, and verify (rows-only; spec asserts set equality with
    * the input).
    */
  def roundtrip(flat: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val frames = AvroEnvelope.envRecords(flat.filter(col("op") =!= "t")).mapPartitions { it =>
      val codec = AvroEnvelope.codec()
      it.flatMap { r =>
        val bytes = AvroEnvelope.encodeOne(codec, r)
        // through the wire form and back (exercises the 6-byte header)
        split(r.lsn_long, bytes).map(f => parseFrame(r.lsn_long, frameBytes(f)))
      }
    }
    reassemble(frames.toDF())
      .select(col("msg_id"), col("n_frames").as("n_chunks"),
        col("total_len"), col("bytes"))
      .as[(Long, Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val codec = AvroEnvelope.codec()
        it.map { case (msgId, nChunks, totalLen, bytes) =>
          val dec = AvroEnvelope.decodeOne(codec, bytes)
          (msgId, nChunks, totalLen, bytes.length == totalLen,
            dec.magic_ok && dec.fp_ok, dec.op, dec.pk_after.orElse(dec.pk_before),
            dec.after_value)
        }
      }
      .toDF("msg_id", "n_chunks", "total_len", "len_ok", "codec_ok", "op", "pk", "value")
      .orderBy("msg_id")
  }
}
