package graft.cdc

import org.apache.avro.generic.GenericData
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded record after writer→reader schema resolution. lsn_long/pk
  * are Options so an unknown-writer row carries NO in-band data values —
  * an aggregation that forgets the fp_ok filter sees nulls, not -1s.
  */
case class EvolvedDecoded(lsn_long: Option[Long], pk: Option[Long],
  value: Option[Double], src: Option[String], writer_version: Int,
  fp_ok: Boolean)

/** Schema-evolution-aware decoding — the downstream-consumer side of the
  * reference's schema registry: each [[SingleObject]] message carries its
  * WRITER's fingerprint, the consumer resolves the fingerprint to the
  * writer schema (c12's registry contract, client.go:169-219) and reads
  * with Avro schema RESOLUTION into its own current (latest) schema —
  * old-writer records gain the added column's null default; a v1 reader
  * conversely drops the v2-only field. This is what lets a replica
  * consumer survive an upstream ALTER TABLE without a coordinated deploy:
  * c17 *detects* the evolution, c24 *decodes across* it.
  *
  * Resolution is the Avro library's writer/reader resolution (Avro spec
  * "Schema Resolution") — the same mechanism the reference's hamba/avro
  * Unmarshal applies.
  */
object EvolutionDecode {
  val v1Json: String =
    """{"type":"record","name":"acct","namespace":"graft","fields":[
      |{"name":"lsn","type":"long"},
      |{"name":"pk","type":"long"},
      |{"name":"value","type":["null","double"]}]}""".stripMargin.replace("\n", "")

  // v2 adds a nullable `src` column with a null default — the exact
  // ALTER TABLE ADD COLUMN shape c17 detects via the registry.
  val v2Json: String =
    """{"type":"record","name":"acct","namespace":"graft","fields":[
      |{"name":"lsn","type":"long"},
      |{"name":"pk","type":"long"},
      |{"name":"value","type":["null","double"]},
      |{"name":"src","type":["null","string"],"default":null}]}""".stripMargin.replace("\n", "")

  /** Registry keys of the two versions; `writer_version` is 2 for fpV2. */
  lazy val fpV1: Long = AvroSchemaGen.fingerprint64(v1Json)
  lazy val fpV2: Long = AvroSchemaGen.fingerprint64(v2Json)

  def encodeOne(writer: SingleObject.Codec, lsn: Long, pk: Long,
      value: Option[Double], src: Option[String]): Array[Byte] = {
    val rec = new GenericData.Record(writer.schema)
    rec.put("lsn", lsn)
    rec.put("pk", pk)
    rec.put("value", value.map(java.lang.Double.valueOf).orNull)
    if (writer.schema.getField("src") != null) rec.put("src", src.orNull)
    writer.frame(rec)
  }

  /** Resolve the frame's writer fingerprint through `reader`'s registry
    * and decode into `reader`'s schema: null-default for fields the writer
    * didn't know; fields the reader doesn't have are dropped. A payload
    * that is not a frame, or whose writer fingerprint is in neither the
    * reader's schema nor its registry, yields a row with every data field
    * null and fp_ok = false (the consumer skips/queues it, as the
    * reference client does when its schema lookup fails,
    * client.go:272-276) — never a task failure, and never values a
    * downstream aggregation could mistake for decoded data.
    */
  def decodeOne(reader: SingleObject.Codec, bytes: Array[Byte]): EvolvedDecoded =
    SingleObject.header(bytes).flatMap(fp => reader.read(fp, bytes).map(fp -> _)) match {
      case None =>
        EvolvedDecoded(None, None, None, None, writer_version = 0, fp_ok = false)
      case Some((fp, rec)) =>
        EvolvedDecoded(
          lsn_long = Some(rec.get("lsn").asInstanceOf[Long]),
          pk = Some(rec.get("pk").asInstanceOf[Long]),
          value = Option(rec.get("value")).map(_.asInstanceOf[Double]),
          src = if (reader.schema.getField("src") == null) None
                else Option(rec.get("src")).map(_.toString),
          writer_version = if (fp == fpV2) 2 else 1,
          fp_ok = true)
    }

  /** Mixed-writer stream (v2 every 3rd lsn) decoded with the LATEST (v2)
    * reader: v1-written rows surface src = null via the default. The
    * consumer statically holds only its OWN (v2) schema; v1 writer
    * fingerprints resolve through `registryJson` — the persisted
    * registry's snapshot (c12/c17's store closes the loop with c24).
    */
  def roundtrip(flat: DataFrame, registryJson: Map[Long, String])(
      implicit s: SparkSession): Dataset[EvolvedDecoded] = {
    import s.implicits._
    val (j1, j2) = (v1Json, v2Json)
    flat.filter(col("op") =!= "t")
      .select(col("lsn_long"),
        coalesce(col("pk_after"), col("pk_before")).as("pk"),
        col("after_value").as("value"))
      .as[(Long, Long, Option[Double])]
      .mapPartitions { it =>
        val v1 = new SingleObject.Codec(j1)
        val v2 = new SingleObject.Codec(j2, registryJson)
        it.map { case (lsn, pk, value) =>
          val bytes =
            if (lsn % 3 == 0) encodeOne(v2, lsn, pk, value, Some(s"v2:$pk"))
            else encodeOne(v1, lsn, pk, value, None)
          decodeOne(v2, bytes)
        }
      }
  }
}
