package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** Schema registry: fingerprint → schema lookup and latest-schema-by-
  * subject (creek client.go:169-219, internal/dao/schemas.go). Entries are
  * driver-side metadata (schemas are tiny); lookups and the "latest per
  * subject" view are exposed as DataFrames so they compose with plans and
  * can be broadcast to executors for decode joins.
  *
  * Persistence mirrors the reference's `_creek.avro_schemas` table
  * (schemas.go:68-95): [[save]] APPENDS the current entries to a parquet
  * store and [[SchemaRegistry.load]] rebuilds a registry in any (fresh)
  * SparkSession with first-write-wins per fingerprint — the INSERT ... ON
  * CONFLICT DO NOTHING semantics — so a consumer resuming in a new session
  * keeps the fingerprint→schema map its evolution decode depends on.
  */
case class RegistryEntry(subject: String, fingerprintHex: String,
  fingerprintB64: String, schemaJson: String, createdAtMicros: Long)

class SchemaRegistry(spark: SparkSession) {
  private val entries = ArrayBuffer.empty[RegistryEntry]

  /** Register a schema version; returns its Rabin fingerprint. */
  def register(subject: String, st: StructType, createdAtMicros: Long): Long = {
    val name = subject.substring(subject.lastIndexOf('.') + 1)
    registerJson(subject, AvroSchemaGen.record(st, name, "graft"), createdAtMicros)
  }

  /** Register a pre-built Avro schema JSON (what the producer persists on
    * every Relation message, schemas.go:68-95); returns its fingerprint.
    */
  def registerJson(subject: String, json: String, createdAtMicros: Long): Long = {
    val fp = AvroSchemaGen.fingerprint64(json)
    entries += RegistryEntry(subject, AvroSchemaGen.fingerprintHex(fp),
      AvroSchemaGen.fingerprintB64(fp), json, createdAtMicros)
    fp
  }

  def all(): DataFrame = {
    import spark.implicits._
    entries.toSeq.toDF()
  }

  /** Lookup by fingerprint (GetSchema by fingerprint in the reference). */
  def byFingerprint(hex: String): Option[String] =
    entries.find(_.fingerprintHex == hex).map(_.schemaJson)

  /** Snapshot of the fingerprint(long) → schema-JSON map — what a decode
    * job broadcasts to executors for writer-schema dispatch.
    */
  def jsonByFingerprint: Map[Long, String] =
    entries.map(e =>
      java.lang.Long.parseUnsignedLong(e.fingerprintHex, 16) -> e.schemaJson).toMap

  /** Latest registered schema per subject (GetLastSchema). */
  def latestBySubject(): DataFrame =
    all().groupBy(col("subject"))
      .agg(
        count(lit(1)).as("n_versions"),
        max_by(col("fingerprintHex"), col("createdAtMicros")).as("latest_fingerprint"),
        max_by(length(col("schemaJson")), col("createdAtMicros")).as("latest_schema_len"),
        max(col("createdAtMicros")).as("latest_created_at"))

  /** Append the current entries to the parquet store. Append-only like
    * the reference's INSERT (duplicate fingerprints collapse on load).
    */
  def save(dir: String): Unit =
    all().write.mode("append").parquet(dir)
}

object SchemaRegistry {
  /** Rebuild a registry from the parquet store — usable from a brand-new
    * SparkSession. Per fingerprint the FIRST write wins (ON CONFLICT DO
    * NOTHING); entries come back in registration order.
    */
  def load(spark: SparkSession, dir: String): SchemaRegistry = {
    import spark.implicits._
    val reg = new SchemaRegistry(spark)
    spark.read.parquet(dir).as[RegistryEntry].collect()
      .groupBy(_.fingerprintHex).values.map(_.minBy(_.createdAtMicros))
      .toSeq.sortBy(e => (e.createdAtMicros, e.fingerprintHex))
      .foreach(reg.entries += _)
    reg
  }
}
