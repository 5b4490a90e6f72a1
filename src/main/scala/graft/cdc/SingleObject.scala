package graft.cdc

import java.io.ByteArrayOutputStream
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import scala.collection.mutable

/** The Avro single-object encoding — creek's one wire format for every
  * CDC message (Avro spec "Single object encoding"; the reference client
  * checks it before dispatching on fingerprint, client.go:264-291):
  *
  *   - 2 magic bytes `0xC3 0x01`;
  *   - the 8-byte little-endian CRC-64-AVRO fingerprint of the WRITER
  *     schema (the same 8 bytes creek's base64-url fingerprint strings
  *     encode, client.go:271);
  *   - the Avro binary body.
  *
  * A consumer resolves the writer schema by that fingerprint through the
  * registry and reads the body into its own (reader) schema with Avro
  * schema resolution. Snapshot rows are the one body-only payload: they
  * are bound to the schema their stream header carries
  * (mq/snapshots.go:113-131), so they skip the header.
  *
  * Only this module knows the format; the codec objects ([[AvroEnvelope]],
  * [[PgTypeAvro]], [[EvolutionDecode]], [[JdbcEvolution]],
  * [[SnapshotWire]]) map their records to and from `GenericRecord`s.
  */
object SingleObject {
  val HeaderLen = 10

  /** The writer fingerprint in a frame's header; None when `bytes` is not
    * a single-object frame (shorter than the header, or wrong magic).
    */
  def header(bytes: Array[Byte]): Option[Long] =
    if (bytes.length < HeaderLen || bytes(0) != 0xC3.toByte || bytes(1) != 0x01) None
    else Some(java.nio.ByteBuffer.wrap(bytes, 2, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)

  /** [[header]], failing loudly on a payload that is not a frame. */
  def requireHeader(bytes: Array[Byte]): Long = header(bytes).getOrElse {
    val head = bytes.take(2).map(b => f"0x${b & 0xFF}%02X").mkString(" ")
    throw new IllegalArgumentException(
      s"not an Avro single-object frame: ${bytes.length} bytes, first bytes [$head]")
  }

  /** One schema's codec, built once per partition: the datum writer, the
    * binary encoder and its output buffer are reused for every record, and
    * each writer schema is parsed once, on the first frame that names its
    * fingerprint. `registry` maps writer fingerprints to schema JSON (the
    * codec's own schema always resolves). Not thread-safe.
    */
  final class Codec(json: String, registry: Map[Long, String] = Map.empty) {
    val schema: Schema = AvroSchemaGen.parse(json)
    val fingerprint: Long = AvroSchemaGen.fingerprint64(schema)

    private val headerBytes =
      Array[Byte](0xC3.toByte, 0x01) ++ AvroSchemaGen.fingerprintBytes(fingerprint)
    private val out = new ByteArrayOutputStream(256)
    private val datumWriter = new GenericDatumWriter[GenericRecord](schema)
    private var enc: BinaryEncoder = _
    private var dec: BinaryDecoder = _
    private val readers = mutable.HashMap[Long, Option[GenericDatumReader[GenericRecord]]](
      fingerprint -> Some(new GenericDatumReader[GenericRecord](schema)))

    private def encode(rec: GenericRecord, withHeader: Boolean): Array[Byte] = {
      out.reset()
      if (withHeader) out.write(headerBytes, 0, HeaderLen)
      enc = EncoderFactory.get.binaryEncoder(out, enc)
      datumWriter.write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    /** `rec` (of [[schema]]) as a single-object frame. */
    def frame(rec: GenericRecord): Array[Byte] = encode(rec, withHeader = true)

    /** `rec` as a bare Avro binary body, no header. */
    def body(rec: GenericRecord): Array[Byte] = encode(rec, withHeader = false)

    /** The datum reader for writer fingerprint `fp` into [[schema]]; None
      * when the fingerprint is neither this schema's nor in the registry.
      */
    private def resolve(fp: Long): Option[GenericDatumReader[GenericRecord]] =
      readers.getOrElseUpdate(fp, registry.get(fp).map(w =>
        new GenericDatumReader[GenericRecord](AvroSchemaGen.parse(w), schema)))

    /** A frame's body read through its writer schema into [[schema]];
      * None when the writer fingerprint `fp` (its header) does not resolve.
      */
    def read(fp: Long, bytes: Array[Byte]): Option[GenericRecord] =
      resolve(fp).map(readWith(_, bytes, HeaderLen))

    /** A body written under [[schema]] itself, starting at `offset`. */
    def readBody(bytes: Array[Byte], offset: Int = 0): GenericRecord =
      readWith(readers(fingerprint).get, bytes, offset)

    private def readWith(r: GenericDatumReader[GenericRecord], bytes: Array[Byte],
        offset: Int): GenericRecord = {
      dec = DecoderFactory.get.binaryDecoder(bytes, offset, bytes.length - offset, dec)
      r.read(null, dec)
    }
  }
}
