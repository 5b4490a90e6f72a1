package graft.cdc

import java.nio.file.Files

import org.apache.avro.generic.GenericData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** One WAL change decoded after writer→reader resolution (c39). */
case class EvolvedWal(lsn_long: Long, op: String, pk_before: Option[Long],
  pk_after: Option[Long], value: Option[Double], src: Option[String],
  writer_version: Int)

/** c39 — SCHEMA EVOLUTION THROUGH THE JDBC EDGE: the upstream database
  * runs `ALTER TABLE … ADD COLUMN` between two polls of c33's lsn-poll
  * loop, and the pipeline must absorb it with no coordinated deploy:
  *
  *   1. each poll batch is published as Avro frames under the WRITER
  *      schema generated from the table's CURRENT JDBC StructType —
  *      schema JSON via [[AvroSchemaGen.record]], identity via the
  *      CRC-64-AVRO Rabin fingerprint (c11's re-fingerprint contract,
  *      the producer side of creek's registry);
  *   2. the ALTER lands on the upstream fixture database mid-stream
  *      ([[JdbcFixture]]: embedded Derby, or the forked Thrift server
  *      under multi-JVM masters), so the
  *      re-read StructType yields a NEW fingerprint — evolution detected
  *      exactly as c17 does from registry history;
  *   3. a consumer replays the retained frame stream with the LATEST
  *      reader schema, resolving v1-writer frames through the registry
  *      (writer→reader resolution, c24's contract): rows written before
  *      the ALTER gain the added column's null default;
  *   4. the one-pass keyed apply (src carried through the half-events)
  *      lands on the same replica a full replay over the evolved schema
  *      produces — the DuckDB oracle.
  */
object JdbcEvolution {
  private val walColsV1 = Seq("LSN_LONG", "OP", "PK_BEFORE", "PK_AFTER", "AFTER_VALUE")
  private val flatColsV1 = Seq("lsn_long", "op", "pk_before", "pk_after", "after_value")

  /** One WAL row as a [[SingleObject]] frame under `writer`'s schema —
    * fields taken from the record by name, so the same encoder serves both
    * writer generations.
    */
  def encodeRow(writer: SingleObject.Codec, lsn: Long, op: String,
      pkB: Option[Long], pkA: Option[Long], value: Option[Double],
      src: Option[String]): Array[Byte] = {
    val rec = new GenericData.Record(writer.schema)
    rec.put("lsn_long", lsn)
    rec.put("op", op)
    rec.put("pk_before", pkB.map(java.lang.Long.valueOf).orNull)
    rec.put("pk_after", pkA.map(java.lang.Long.valueOf).orNull)
    rec.put("after_value", value.map(java.lang.Double.valueOf).orNull)
    if (writer.schema.getField("src") != null) rec.put("src", src.orNull)
    writer.frame(rec)
  }

  /** Resolve the frame's writer fingerprint through `reader`'s registry and
    * read with `reader`'s (latest) schema — Avro schema resolution fills
    * the added column's null default for old writers; frames written under
    * the latest schema itself are writer_version 2. A payload that is not a
    * frame, or an unknown fingerprint, fails loudly here (the fixture
    * registers both generations; c24 covers the skip-row contract).
    */
  def decodeRow(reader: SingleObject.Codec, bytes: Array[Byte]): EvolvedWal = {
    val fp = SingleObject.requireHeader(bytes)
    val rec = reader.read(fp, bytes).getOrElse(throw new IllegalStateException(
      s"writer fingerprint ${AvroSchemaGen.fingerprintHex(fp)} is not registered"))
    EvolvedWal(
      lsn_long = rec.get("lsn_long").asInstanceOf[Long],
      op = rec.get("op").toString,
      pk_before = Option(rec.get("pk_before")).map(_.asInstanceOf[Long]),
      pk_after = Option(rec.get("pk_after")).map(_.asInstanceOf[Long]),
      value = Option(rec.get("after_value")).map(_.asInstanceOf[Double]),
      src = Option(rec.get("src")).map(_.toString),
      writer_version = if (fp == reader.fingerprint) 2 else 1)
  }

  /** Distributed per-batch frame production under the batch's writer
    * schema (one codec per partition).
    */
  private def frames(batch: DataFrame, writerJson: String)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val hasSrc = batch.columns.contains("src")
    val base = batch.select(col("lsn_long"), col("op"), col("pk_before"),
      col("pk_after"), col("after_value"),
      (if (hasSrc) col("src") else lit(null).cast("string")).as("src"))
      .as[(Long, String, Option[Long], Option[Long], Option[Double], Option[String])]
    base.mapPartitions { it =>
      val writer = new SingleObject.Codec(writerJson)
      it.map { case (lsn, op, pkB, pkA, v, src) =>
        encodeRow(writer, lsn, op, pkB, pkA, v, src)
      }
    }.toDF("frame")
  }

  /** Run the evolving ingest. Returns (replica, v1 fingerprint, v2
    * fingerprint, decoded frame count per writer version) for the spec.
    */
  def c39run(s: SparkSession, d: String): (DataFrame, Long, Long, Map[Int, Long]) = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val dir = Files.createTempDirectory("graft_c39")
    val durable = graft.sources.SourceSinks.cleanupOnExit(
      Files.createTempDirectory("graft_c39_replica"))
    val fx = JdbcFixture(s, dir)
    val (url, props) = (fx.url, fx.props)
    try {
      val flat = Envelope.flat(Tables.events(s, d)).select(flatColsV1.map(col): _*)
      val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
      val (minL, maxL) = (b.getLong(0), b.getLong(1))
      val evoCut = Polls.snapshotCut(minL, maxL)
      // ---- land generation 1: the table BEFORE the ALTER ---------------
      fx.landV1(flat.filter(col("lsn_long") <= evoCut).toDF(walColsV1: _*))
      // c11: writer identity from the CURRENT JDBC StructType
      val st1 = s.read.jdbc(url, "WAL", props).toDF(flatColsV1: _*).schema
      val jsonV1 = AvroSchemaGen.record(st1, "wal", "graft")
      val fpV1 = AvroSchemaGen.fingerprint64(st1, "wal")
      // polls 1-2: the pre-evolution tail, framed under writer v1
      val framesV1 = Polls.ranges(minL - 1, evoCut, 2).map { case (lo, hi) =>
        frames(s.read.jdbc(url,
          s"(SELECT * FROM WAL WHERE LSN_LONG > $lo AND LSN_LONG <= $hi) AS W",
          props).toDF(flatColsV1: _*), jsonV1)
      }.reduce(_ union _)
      // ---- the upstream ALTER TABLE ADD COLUMN, mid-stream -------------
      fx.evolve()
      // generation-2 rows land with the new column populated
      fx.landV2(flat.filter(col("lsn_long") > evoCut)
        .withColumn("src", when(col("pk_after").isNotNull,
          concat(lit("s"), (col("pk_after") % 3).cast("string"))))
        .toDF(walColsV1 :+ "SRC": _*))
      // c17: the re-read StructType re-fingerprints differently
      val st2 = s.read.jdbc(url, "WAL", props).toDF(flatColsV1 :+ "src": _*).schema
      val jsonV2 = AvroSchemaGen.record(st2, "wal", "graft")
      val fpV2 = AvroSchemaGen.fingerprint64(st2, "wal")
      require(fpV2 != fpV1, "ALTER TABLE did not change the fingerprint")
      // polls 3-4: the post-evolution tail, framed under writer v2
      val framesV2 = Polls.ranges(evoCut, maxL, 2).map { case (lo, hi) =>
        frames(s.read.jdbc(url,
          s"(SELECT * FROM WAL WHERE LSN_LONG > $lo AND LSN_LONG <= $hi) AS W",
          props).toDF(flatColsV1 :+ "src": _*), jsonV2)
      }.reduce(_ union _)
      // ---- consumer: replay ALL frames with the LATEST reader ----------
      val registry = Map(fpV1 -> jsonV1, fpV2 -> jsonV2)
      val decoded = framesV1.union(framesV2).as[Array[Byte]]
        .mapPartitions { it =>
          val reader = new SingleObject.Codec(jsonV2, registry)
          it.map(bytes => decodeRow(reader, bytes))
        }
      val byWriter = decoded.groupBy(col("writer_version")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤2 rows
      // one-pass keyed apply, src carried through the half-events
      val out = Apply.fold(decoded.toDF().withColumnRenamed("value", "after_value"),
          carry = Seq("src"))
        .filter(col("last_op") =!= "d")
        .select(col("pk"), round(col("last_value"), 2).as("value"),
          col("last_ord"), col("last_src").as("src"))
      out.write.mode("overwrite").parquet(s"$durable/replica")
      (s.read.parquet(s"$durable/replica").orderBy("pk"), fpV1, fpV2, byWriter)
    } finally {
      fx.close()
      graft.sources.SourceSinks.deleteDir(dir)
    }
  }

  /** c39 (oracle: ≡ full replay over the evolved schema). */
  val c39_jdbc_evolution: (SparkSession, String) => DataFrame =
    (s, d) => c39run(s, d)._1
}
