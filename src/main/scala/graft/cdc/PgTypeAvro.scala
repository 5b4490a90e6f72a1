package graft.cdc

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One pg column of a replicated table: name + pg type name + key flag.
  * Non-key columns become nullable Avro unions exactly like the reference
  * (pgtype.go typeToAvroField: `col.Flags == 0` → null-prepended union).
  */
case class PgCol(name: String, pgType: String, key: Boolean = false)

/** Pg-faithful Avro schema generation + value conversion — the FULL type
  * matrix of the reference's pgtype-avro package, branch for branch
  * (pgtype.go typeToAvroType, conversion.go pgtypeToNative):
  *
  *   - bool→boolean; int2/int4→int; int8→long; float4→float;
  *     float8→double; char/varchar/text/bpchar→string
  *   - uuid → string + logicalType uuid (formatted 8-4-4-4-12,
  *     conversion.go:53-55)
  *   - json/jsonb → bytes (the marshaled document, conversion.go:67-73)
  *   - numeric(p,s) → bytes + logicalType decimal, precision/scale from
  *     the pg typmod (pgtype.go:205-215, getNumericAttrs)
  *   - date / time / timestamp[tz] → union with the `infinity_modifier`
  *     enum (symbols: "infinity", "negative_infinity_ca5991f51367e3e4" —
  *     avro names can't start with '-', pgtype.go:10-12), the enum defined
  *     once per schema then referenced by name (getInf, pgtype.go:144-156)
  *   - _T arrays of all of the above
  *
  * [[AvroSchemaGen.record]] stays the Catalyst-native generator (types
  * derived from a StructType); this one is driven by declared pg types so
  * uuid/json/numeric — which Catalyst can't distinguish from text/binary —
  * hit the reference's exact wire encoding.
  */
object PgTypeAvro {

  val InfinityEnumJson: String =
    """{"type":"enum","name":"infinity_modifier",""" +
      """"symbols":["infinity","negative_infinity_ca5991f51367e3e4"]}"""

  /** Avro JSON for one pg type. `inf` tracks whether infinity_modifier is
    * already defined in this schema (Avro requires define-once).
    */
  private def pgAvroType(pgType: String, inf: () => String): String = pgType match {
    case "bool" => "\"boolean\""
    case "int2" | "int4" => "\"int\""
    case "int8" => "\"long\""
    case "float4" => "\"float\""
    case "float8" => "\"double\""
    case "char" | "varchar" | "text" | "bpchar" => "\"string\""
    case "uuid" => """{"type":"string","logicalType":"uuid"}"""
    case "json" | "jsonb" => "\"bytes\""
    case t if t.startsWith("numeric") =>
      val (p, s) = numericAttrs(t)
      s"""{"type":"bytes","logicalType":"decimal","precision":$p,"scale":$s}"""
    case "date" =>
      s"""[{"type":"int","logicalType":"date"},${inf()}]"""
    case "time" =>
      s"""[{"type":"long","logicalType":"time-micros"},${inf()}]"""
    // the reference maps BOTH timestamp and timestamptz to timestamp-micros
    // (pgtype.go:192-199, `case &Timestamp, &Timestamptz`)
    case "timestamp" | "timestamptz" =>
      s"""[{"type":"long","logicalType":"timestamp-micros"},${inf()}]"""
    case t if t.startsWith("_") =>
      s"""{"type":"array","items":${pgAvroType(t.drop(1), inf)}}"""
    case other => "\"string\"" // unknown OID → text (pgtype.go:91-96)
  }

  /** precision/scale out of "numeric(p,s)" — the declared-typmod analogue
    * of the reference's getNumericAttrs bit-unpacking.
    */
  def numericAttrs(t: String): (Int, Int) = {
    val m = raw"numeric\((\d+),(\d+)\)".r
    t match {
      case m(p, s) => (p.toInt, s.toInt)
      case _ => (38, 18)
    }
  }

  /** Record schema for a pg table. Key columns keep their base type;
    * non-key columns get a null-prepended union (flattened if the base is
    * already a union, matching NewUnion in pgtype.go:117-124).
    */
  def record(cols: Seq[PgCol], name: String, namespace: String): String = {
    var infDefined = false
    val inf = () => {
      if (infDefined) "\"infinity_modifier\""
      else { infDefined = true; InfinityEnumJson }
    }
    val fields = cols.map { c =>
      val base = pgAvroType(c.pgType, inf)
      val t =
        if (c.key) base
        else if (base.startsWith("[")) s"""["null",${base.drop(1)}"""
        else s"""["null",$base]"""
      s"""{"name":"${c.name}","type":$t,"pgKey":${c.key},"pgType":"${c.pgType}"}"""
    }.mkString(",")
    s"""{"type":"record","name":"$name","namespace":"$namespace","fields":[$fields]}"""
  }

  // ---------------------------------------------------------------------
  // c22: the typed-table roundtrip over this schema.

  /** Declared pg shape of the synthetic `typed` table (every branch of the
    * type matrix, including both infinity-union temporal types, arrays,
    * uuid, jsonb, and a scaled decimal).
    */
  val typedCols: Seq[PgCol] = Seq(
    PgCol("id", "int8", key = true),
    PgCol("flag", "bool"),
    PgCol("small", "int2"),
    PgCol("med", "int4"),
    PgCol("ratio", "float4"),
    PgCol("amount", "float8"),
    PgCol("name", "text"),
    PgCol("u", "uuid"),
    PgCol("doc", "jsonb"),
    PgCol("num", "numeric(18,4)"),
    PgCol("d", "date"),
    PgCol("t", "time"),
    PgCol("ts", "timestamptz"),
    PgCol("tags", "_text"),
    PgCol("nums", "_int4"))

  val schemaJson: String = record(typedCols, "typed", "graft")

  val NumScale = 4
  val InfSym = "infinity"
  val NegInfSym = "negative_infinity_ca5991f51367e3e4"

  /** Typed row as carried through the codec. `*_inf` are the decoded-side
    * infinity markers ("infinity" / "-infinity", conversion.go:43-51).
    */
  case class PgRow(id: Long, flag: Boolean, small: Int, med: Int,
    ratio: Float, amount: Option[Double], name: String, u: String,
    doc: String, num_unscaled: Long, d_days: Option[Int],
    d_inf: Option[String], t_us: Long, ts_us: Option[Long],
    ts_inf: Option[String], tags: Seq[String], nums: Seq[Int])

  case class PgDecoded(id: Long, flag: Boolean, small: Int, med: Int,
    ratio: Double, amount: Option[Double], name: String, u: String,
    doc: String, num_unscaled: Long, d_days: Option[Int],
    d_inf: Option[String], t_us: Long, ts_us: Option[Long],
    ts_inf: Option[String], tags_str: String, nums_str: String,
    magic_ok: Boolean, fp_ok: Boolean)

  /** Deterministic typed lift of `events` — every type branch populated,
    * with planted infinities (d: %97/%89, ts: %101/%103), a null float8
    * (%53), and a uuid derived from md5 so the DuckDB oracle can recompute
    * every field.
    */
  def typedRows(events: DataFrame)(implicit s: SparkSession): Dataset[PgRow] = {
    import s.implicits._
    val e = col("event_id")
    val md5hex = md5(e.cast("string"))
    events.select(
      e.as("id"),
      (e % 2 === 0).as("flag"),
      (e % 100).cast("int").as("small"),
      (e % 10000).cast("int").as("med"),
      ((e % 16) / 16.0).cast("float").as("ratio"),
      when(e % 53 =!= 0, col("value")).as("amount"),
      concat(lit("u"), col("user_id").cast("string")).as("name"),
      concat_ws("-",
        substring(md5hex, 1, 8), substring(md5hex, 9, 4),
        substring(md5hex, 13, 4), substring(md5hex, 17, 4),
        substring(md5hex, 21, 12)).as("u"),
      concat(lit("{\"k\":"), (e % 10).cast("string"), lit("}")).as("doc"),
      (expr("cast(cast(event_id * 10007 % 1000000 AS decimal(14,0)) / 100 AS decimal(18,4))")
        * 10000).cast("long").as("num_unscaled"),
      when(e % 97 =!= 0 && e % 89 =!= 0,
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("int")).as("d_days"),
      when(e % 97 === 0, "infinity").when(e % 89 === 0, "-infinity").as("d_inf"),
      (unix_micros(col("ts")) - unix_micros(to_date(col("ts")).cast("timestamp"))).as("t_us"),
      when(e % 101 =!= 0 && e % 103 =!= 0, unix_micros(col("ts"))).as("ts_us"),
      when(e % 101 === 0, "infinity").when(e % 103 === 0, "-infinity").as("ts_inf"),
      array(concat(lit("a"), (e % 3).cast("string")),
        concat(lit("b"), (e % 5).cast("string"))).as("tags"),
      array((e % 7).cast("int"), (e % 11).cast("int"), (e % 13).cast("int")).as("nums")
    ).as[PgRow]
  }

  private def infSymbol(marker: String): String =
    if (marker == "infinity") InfSym else NegInfSym

  private def decodeInf(v: AnyRef): String =
    if (v.toString == InfSym) "infinity" else "-infinity"

  def encodeOne(codec: SingleObject.Codec, r: PgRow): Array[Byte] = {
    val schema = codec.schema
    def enumOf(field: String, sym: String): GenericData.EnumSymbol = {
      val union = schema.getField(field).schema()
      val es = (0 until union.getTypes.size).map(union.getTypes.get)
        .find(_.getType == Schema.Type.ENUM).get
      new GenericData.EnumSymbol(es, sym)
    }
    val rec = new GenericData.Record(schema)
    rec.put("id", r.id)
    rec.put("flag", java.lang.Boolean.valueOf(r.flag))
    rec.put("small", Integer.valueOf(r.small))
    rec.put("med", Integer.valueOf(r.med))
    rec.put("ratio", java.lang.Float.valueOf(r.ratio))
    rec.put("amount", r.amount.map(java.lang.Double.valueOf).orNull)
    rec.put("name", r.name)
    rec.put("u", r.u)
    rec.put("doc", java.nio.ByteBuffer.wrap(r.doc.getBytes("UTF-8")))
    rec.put("num", java.nio.ByteBuffer.wrap(
      BigInteger.valueOf(r.num_unscaled).toByteArray))
    rec.put("d", r.d_inf.map(m => enumOf("d", infSymbol(m)): AnyRef)
      .orElse(r.d_days.map(Integer.valueOf(_): AnyRef)).orNull)
    rec.put("t", java.lang.Long.valueOf(r.t_us))
    rec.put("ts", r.ts_inf.map(m => enumOf("ts", infSymbol(m)): AnyRef)
      .orElse(r.ts_us.map(java.lang.Long.valueOf(_): AnyRef)).orNull)
    val tags = new java.util.ArrayList[AnyRef](); r.tags.foreach(tags.add)
    rec.put("tags", tags)
    val nums = new java.util.ArrayList[AnyRef]()
    r.nums.foreach(n => nums.add(Integer.valueOf(n)))
    rec.put("nums", nums)
    codec.frame(rec)
  }

  /** Decode one frame; like [[AvroEnvelope.decodeOne]], another fingerprint
    * is flagged fp_ok = false and a non-frame fails loudly.
    */
  def decodeOne(codec: SingleObject.Codec, bytes: Array[Byte]): PgDecoded = {
    val fp = SingleObject.requireHeader(bytes)
    val rec = codec.readBody(bytes, SingleObject.HeaderLen)
    def bytesOf(v: AnyRef): Array[Byte] = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    }
    val (dDays, dInf) = rec.get("d") match {
      case null => (None, None)
      case i: Integer => (Some(i.intValue), None)
      case e => (None, Some(decodeInf(e)))
    }
    val (tsUs, tsInf) = rec.get("ts") match {
      case null => (None, None)
      case l: java.lang.Long => (Some(l.longValue), None)
      case e => (None, Some(decodeInf(e)))
    }
    import scala.jdk.CollectionConverters._
    val num = new JBigDecimal(new BigInteger(bytesOf(rec.get("num"))), NumScale)
    PgDecoded(
      id = rec.get("id").asInstanceOf[Long],
      flag = rec.get("flag").asInstanceOf[Boolean],
      small = rec.get("small").asInstanceOf[Int],
      med = rec.get("med").asInstanceOf[Int],
      ratio = rec.get("ratio").asInstanceOf[Float].toDouble,
      amount = Option(rec.get("amount")).map(_.asInstanceOf[Double]),
      name = rec.get("name").toString,
      u = rec.get("u").toString,
      doc = new String(bytesOf(rec.get("doc")), "UTF-8"),
      num_unscaled = num.unscaledValue.longValueExact,
      d_days = dDays, d_inf = dInf,
      t_us = rec.get("t").asInstanceOf[Long],
      ts_us = tsUs, ts_inf = tsInf,
      tags_str = rec.get("tags").asInstanceOf[java.util.List[AnyRef]]
        .asScala.map(_.toString).mkString(","),
      nums_str = rec.get("nums").asInstanceOf[java.util.List[AnyRef]]
        .asScala.map(_.toString).mkString(","),
      magic_ok = true, fp_ok = fp == codec.fingerprint)
  }

  /** Encode every typed row to single-object wire bytes, decode back. */
  def roundtrip(events: DataFrame)(implicit s: SparkSession): Dataset[PgDecoded] = {
    import s.implicits._
    typedRows(events).mapPartitions { it =>
      val codec = new SingleObject.Codec(schemaJson)
      it.map(r => decodeOne(codec, encodeOne(codec, r)))
    }
  }
}
