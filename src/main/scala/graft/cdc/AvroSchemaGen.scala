package graft.cdc

import org.apache.avro.{Schema, SchemaNormalization}
import org.apache.spark.sql.types._
import java.util.Base64

/** Avro schema generation from a Catalyst StructType + CRC-64-AVRO Rabin
  * fingerprints — the Spark-native analogue of the reference's pg-catalog →
  * Avro schema generator and registry keys (creek pgtype-avro/schema.go,
  * pgtype-avro/type_map.go; fingerprints as in client.go:271 where the
  * 8-byte single-object header is base64-url encoded).
  *
  * Uses the public Apache Avro library (on the Spark classpath) for
  * canonical-form parsing fingerprints (Avro spec §"Schema Fingerprints").
  */
object AvroSchemaGen {

  /** JSON Avro type for one Catalyst type (nullable → ["null", T] union,
    * matching pgtype-avro's nullable unions).
    */
  def avroType(dt: DataType, nullable: Boolean, name: String, ns: String): String = {
    val base = dt match {
      case BooleanType => "\"boolean\""
      case IntegerType | ShortType | ByteType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case StringType => "\"string\""
      case BinaryType => "\"bytes\""
      case TimestampType =>
        """{"type":"long","logicalType":"timestamp-micros"}"""
      case TimestampNTZType =>
        """{"type":"long","logicalType":"local-timestamp-micros"}"""
      case DateType => """{"type":"int","logicalType":"date"}"""
      case _: DecimalType => "\"string\"" // decimal→string, conversion.go:121
      case ArrayType(et, containsNull) =>
        s"""{"type":"array","items":${avroType(et, containsNull, name + "_item", ns)}}"""
      case st: StructType => record(st, name, ns)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
    if (nullable) s"""["null",$base]""" else base
  }

  /** Postgres type name for a Catalyst type — the reverse of the
    * reference's pg→Avro map (pgtype-avro/type_map.go), emitted as the
    * per-field `pgType` property like the reference's schemas.
    */
  def pgTypeName(dt: DataType): String = dt match {
    case BooleanType => "bool"
    case ByteType | ShortType => "int2"
    case IntegerType => "int4"
    case LongType => "int8"
    case FloatType => "float4"
    case DoubleType => "float8"
    case StringType => "text"
    case BinaryType => "bytea"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case DateType => "date"
    case _: DecimalType => "numeric"
    case ArrayType(et, _) => "_" + pgTypeName(et)
    case _: StructType => "record"
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Avro record schema JSON for a StructType. `keys` marks primary-key
    * fields with the `pgKey` property (README schema; pgtype-avro
    * emits pgKey/pgType on every field). Extra props are stripped by the
    * parsing canonical form, so fingerprints don't depend on them.
    *
    * Nullability is driven by the keys set, like the reference: every
    * non-key column becomes a null-prepended union REGARDLESS of declared
    * nullability, and key columns keep their base type (pgtype.go:123-131,
    * `col.Flags == 0`). Catalyst nullability only decides array-element
    * nullability (a dimension pg replica identity doesn't reach).
    */
  def record(st: StructType, name: String, namespace: String,
      keys: Set[String] = Set.empty): String = {
    val fields = st.fields.map { f =>
      val nullable = !keys.contains(f.name)
      // nullable fields carry "default": null (matching the union's first
      // branch) so a READER schema with an added column resolves old
      // writers per Avro schema resolution — c24/c39's contract. The
      // CRC-64-AVRO fingerprint is unchanged: parsing canonical form
      // strips defaults.
      val default = if (nullable) """"default":null,""" else ""
      s"""{"name":"${f.name}","type":${avroType(f.dataType, nullable, f.name, namespace)},""" +
        default + s""""pgKey":${keys.contains(f.name)},"pgType":"${pgTypeName(f.dataType)}"}"""
    }.mkString(",")
    s"""{"type":"record","name":"$name","namespace":"$namespace","fields":[$fields]}"""
  }

  /** Full WAL envelope schema for one replicated table — mirrors the
    * reference's `AvroSchema` (messages.go:58-91): source record, op enum
    * c|u|u_pk|d|t|r, timestamp-micros sent_at, and nullable before/after
    * row records disambiguated by namespace ("before"/"after") exactly as
    * the reference does. `before` carries only the replica-identity (key)
    * columns; `after` the full row.
    */
  def publishMessage(tableSchema: StructType, tableName: String,
      keys: Set[String]): String = {
    val beforeSchema = StructType(tableSchema.fields.filter(f => keys.contains(f.name)))
    val before = record(beforeSchema, tableName, "before", keys)
    val after = record(tableSchema, tableName, "after", keys)
    s"""{"type":"record","name":"publish_message","fields":[
       |{"name":"fingerprint","type":"string"},
       |{"name":"source","type":{"type":"record","name":"source","fields":[
       |{"name":"name","type":"string"},
       |{"name":"tx_at","type":{"type":"long","logicalType":"timestamp-micros"}},
       |{"name":"db","type":"string"},
       |{"name":"schema","type":"string"},
       |{"name":"table","type":"string"},
       |{"name":"tx_id","type":"long"},
       |{"name":"lsn","type":"string"}]}},
       |{"name":"op","type":{"type":"enum","name":"op","symbols":["c","u","u_pk","d","t","r"]}},
       |{"name":"sent_at","type":{"type":"long","logicalType":"timestamp-micros"}},
       |{"name":"before","type":["null",$before]},
       |{"name":"after","type":["null",$after]}]}""".stripMargin.replace("\n", "")
  }

  def parse(json: String): Schema = new Schema.Parser().parse(json)

  /** CRC-64-AVRO Rabin fingerprint of the parsing canonical form. */
  def fingerprint64(schema: Schema): Long =
    SchemaNormalization.parsingFingerprint64(schema)

  def fingerprint64(json: String): Long = fingerprint64(parse(json))

  def fingerprint64(st: StructType, name: String): Long =
    fingerprint64(record(st, name, "graft"))

  /** Little-endian 8 bytes of the fingerprint — the byte order of the
    * [[SingleObject]] header (and thus of creek's base64-url fingerprint
    * strings, client.go:271).
    */
  def fingerprintBytes(fp: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(fp).array()

  /** Padded base64-url, like Go's base64.URLEncoding (client.go:271):
    * 8 bytes → 11 chars + '='. The reference producer rejects unpadded
    * strings (wal.go:43-49), so padding is part of the registry-key format.
    */
  def fingerprintB64(fp: Long): String =
    Base64.getUrlEncoder.encodeToString(fingerprintBytes(fp))

  def fingerprintHex(fp: Long): String = f"$fp%016x"
}
