package graft.cdc

import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Lsn

/** Flat input row for the envelope codec (one WAL change event). */
case class EnvRecord(lsn_long: Long, op: String, tx_at_us: Long,
  pk_before: Option[Long], pk_after: Option[Long], after_value: Option[Double])

/** Decoded full envelope, flattened for oracle comparison. magic_ok /
  * fp_ok prove the single-object framing and fingerprint dispatch held.
  */
case class EnvDecoded(fingerprint: String, lsn_long: Long, lsn_str: String,
  op: String, tx_at_us: Long, sent_at_us: Long, tx_id: Long,
  src_name: String, db: String, schema_name: String, table_name: String,
  pk_before: Option[Long], pk_after: Option[Long], after_value: Option[Double],
  after_ts_us: Option[Long], magic_ok: Boolean, fp_ok: Boolean)

/** Full `publish_message` envelope Avro wire codec — the reference's actual
  * NATS payload (creek messages.go:58-91): nested `source` record, `op`
  * enum c|u|u_pk|d|t|r, timestamp-micros sent_at, and namespace-
  * disambiguated nullable before/after row records (before = replica
  * identity / key columns only, after = full row — pgtype.go
  * RelationMessageKeysToAvro vs RelationMessageToAvro), framed as a
  * [[SingleObject]] message. The `fingerprint` FIELD inside the envelope
  * is the base64-url form of the frame's 8 fingerprint bytes, exactly as
  * the client derives it (client.go:271).
  *
  * The schema is generated by [[AvroSchemaGen.publishMessage]] (same JSON
  * the structure spec asserts); this codec is what actually pushes bytes
  * through it. Encode/decode run per partition with one reusable
  * [[SingleObject.Codec]] (genuine per-partition imperative logic), so
  * at scale the bytes never leave the executors.
  */
object AvroEnvelope {

  /** Replica row shape for the events-table envelope: pk + payload + ts. */
  val tableSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))

  val schemaJson: String =
    AvroSchemaGen.publishMessage(tableSchema, "events", Set("user_id"))

  /** base64-url of the 8 little-endian wire bytes (client.go:271). */
  lazy val fingerprintB64: String =
    AvroSchemaGen.fingerprintB64(AvroSchemaGen.fingerprint64(schemaJson))

  def codec(): SingleObject.Codec = new SingleObject.Codec(schemaJson)

  def encodeOne(codec: SingleObject.Codec, r: EnvRecord): Array[Byte] = {
    val schema = codec.schema
    val src = new GenericData.Record(schema.getField("source").schema())
    src.put("name", "graft")
    src.put("tx_at", r.tx_at_us)
    src.put("db", "testdb")
    src.put("schema", "public")
    src.put("table", "events")
    src.put("tx_id", r.lsn_long)
    src.put("lsn", Lsn.format(r.lsn_long).toString)
    val rec = new GenericData.Record(schema)
    rec.put("fingerprint", fingerprintB64)
    rec.put("source", src)
    rec.put("op", new GenericData.EnumSymbol(schema.getField("op").schema(), r.op))
    rec.put("sent_at", r.tx_at_us)
    val beforeSchema = schema.getField("before").schema().getTypes.get(1)
    rec.put("before", r.pk_before.map { pk =>
      val b = new GenericData.Record(beforeSchema)
      b.put("user_id", pk)
      b
    }.orNull)
    val afterSchema = schema.getField("after").schema().getTypes.get(1)
    rec.put("after", r.pk_after.map { pk =>
      val a = new GenericData.Record(afterSchema)
      a.put("user_id", pk)
      a.put("value", r.after_value.map(java.lang.Double.valueOf).orNull)
      a.put("ts", r.tx_at_us)
      a
    }.orNull)
    codec.frame(rec)
  }

  /** Decode one frame. The envelope has a single writer schema, so a frame
    * under any other fingerprint is read as this schema and flagged
    * fp_ok = false; a payload that is not a frame at all fails loudly.
    */
  def decodeOne(codec: SingleObject.Codec, bytes: Array[Byte]): EnvDecoded = {
    val fp = SingleObject.requireHeader(bytes)
    val rec = codec.readBody(bytes, SingleObject.HeaderLen)
    val src = rec.get("source").asInstanceOf[GenericRecord]
    val before = Option(rec.get("before")).map(_.asInstanceOf[GenericRecord])
    val after = Option(rec.get("after")).map(_.asInstanceOf[GenericRecord])
    EnvDecoded(
      fingerprint = rec.get("fingerprint").toString,
      lsn_long = Lsn.parse(
        org.apache.spark.unsafe.types.UTF8String.fromString(src.get("lsn").toString)),
      lsn_str = src.get("lsn").toString,
      op = rec.get("op").toString,
      tx_at_us = src.get("tx_at").asInstanceOf[Long],
      sent_at_us = rec.get("sent_at").asInstanceOf[Long],
      tx_id = src.get("tx_id").asInstanceOf[Long],
      src_name = src.get("name").toString,
      db = src.get("db").toString,
      schema_name = src.get("schema").toString,
      table_name = src.get("table").toString,
      pk_before = before.map(_.get("user_id").asInstanceOf[Long]),
      pk_after = after.map(_.get("user_id").asInstanceOf[Long]),
      after_value = after.flatMap(a => Option(a.get("value")).map(_.asInstanceOf[Double])),
      after_ts_us = after.map(_.get("ts").asInstanceOf[Long]),
      magic_ok = true, fp_ok = fp == codec.fingerprint)
  }

  /** Flat envelope → EnvRecord rows. Truncates flow through with null
    * before/after, exactly like the reference's truncate messages.
    */
  def envRecords(flat: DataFrame)(implicit s: SparkSession): Dataset[EnvRecord] = {
    import s.implicits._
    flat.select(col("lsn_long"), col("op"), unix_micros(col("tx_at")).as("tx_at_us"),
      col("pk_before"), col("pk_after"), col("after_value")).as[EnvRecord]
  }

  /** Encode every WAL event to single-object wire bytes, decode back. */
  def roundtrip(flat: DataFrame)(implicit s: SparkSession): Dataset[EnvDecoded] = {
    import s.implicits._
    envRecords(flat).mapPartitions { it =>
      val c = codec()
      it.map(r => decodeOne(c, encodeOne(c, r)))
    }
  }
}
