package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Lsn
import Envelope.{sqlEnv, sqlFlat, sqlLsnStr}

/** CDC / creek surface (SURVEY.md §2, c01–c12): the WAL envelope, LSN
  * codec, resume-from, apply/replay, snapshots, and schema registry —
  * re-expressed as declarative Spark plans over the deterministic
  * envelope lift so every semantic is DuckDB-verifiable.
  */
object CdcQueries {
  private type Q = (SparkSession, String) => DataFrame

  private def flatEnv(s: SparkSession, d: String): DataFrame =
    Envelope.flat(Tables.events(s, d))

  // c01: LSN text ↔ uint64 roundtrip through the native Catalyst
  // expressions (client.go:784-800 semantics), on 64-bit values with a
  // populated upper half.
  val c01_lsn_roundtrip: Q = (s, d) => {
    Tables.events(s, d)
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id"), ((col("event_id") + 1) * 5000000000L).as("big_lsn"))
      .withColumn("lsn_str", Lsn.long_to_lsn(col("big_lsn")))
      .withColumn("parsed", Lsn.lsn_to_long(col("lsn_str")))
      .orderBy("event_id")
  }

  // c02: events → WAL envelope, emitted via the nested struct form then
  // flattened (proves the envelope schema, messages.go:38-45).
  val c02_wal_envelope: Q = (s, d) => {
    val fp = AvroSchemaGen.fingerprintHex(
      AvroSchemaGen.fingerprint64(Tables.events(s, d).schema, "events"))
    Envelope.envelope(Tables.events(s, d), fp)
      .select(
        col("lsn_long"),
        col("source.lsn").as("lsn"),
        col("op"),
        concat(col("source.schema"), lit("."), col("source.table")).as("tbl"),
        col("before.user_id").as("pk_before"),
        col("after.user_id").as("pk_after"),
        col("after.value").as("after_value"),
        unix_micros(col("source.tx_at")).as("tx_at_us"),
        col("source.tx_id").as("tx_id"))
      .orderBy("lsn_long")
  }

  // c03: resume from (timestamp, LSN): position = max lsn before the
  // timestamp, then DropWhile lsn <= position (client.go:288-291).
  val c03_stream_from: Q = (s, d) => {
    val flat = flatEnv(s, d)
    val from = flat.filter(col("tx_at") < lit("2024-01-15").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("from_lsn"))
    flat.crossJoin(broadcast(from))
      .filter(col("lsn_long") > col("from_lsn"))
      .groupBy("op")
      .agg(count(lit(1)).as("n"),
        min("lsn_long").as("min_lsn_long"),
        max("lsn_long").as("max_lsn_long"))
      .withColumn("min_lsn", Lsn.long_to_lsn(col("min_lsn_long")))
      .orderBy("op")
  }

  // c04: materialize the latest replica state per key (single shuffle).
  val c04_apply_latest: Q = (s, d) => {
    Apply.latest(flatEnv(s, d))
      .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      .orderBy("pk")
  }

  // c05: pk-change semantics — keys that exist only because a u_pk moved
  // a row there (delete old key + insert new key).
  val c05_apply_upk: Q = (s, d) => {
    Apply.latest(flatEnv(s, d))
      .filter(col("pk") >= Envelope.UpkShift)
      .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      .orderBy("pk")
  }

  // c06: truncate resets state; replay after the cut. Scalar summary of
  // the cut position and what survives it.
  val c06_truncate_replay: Q = (s, d) => {
    val flat = flatEnv(s, d)
    val cut = flat.filter(col("op") === "t")
      .agg(coalesce(max(col("lsn_long") * 2 + 1), lit(-1L)).as("trunc_ord"))
    val liveAgg = Apply.liveEvents(flat)
      .agg(count(lit(1)).as("n_ops_after"),
        countDistinct(col("pk")).as("n_keys_after"))
    val finalAgg = Apply.latest(flat).agg(count(lit(1)).as("n_rows_final"))
    cut.crossJoin(liveAgg).crossJoin(finalAgg)
  }

  // c07: snapshot stats header per shard-table at a cut timestamp
  // (messages.go:106-118: fingerprint/schema omitted here — covered by
  // c11 — rows/lsn/at are the data-plane fields).
  val c07_snapshot_header: Q = (s, d) => {
    flatEnv(s, d)
      .filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .groupBy(concat(lit("t"), (col("user_id") % 4).cast("string")).as("tbl"))
      .agg(count(lit(1)).as("approx_rows"),
        max("lsn_long").as("max_lsn_long"),
        unix_micros(max("tx_at")).as("at_us"))
      .withColumn("lsn", Lsn.long_to_lsn(col("max_lsn_long")))
      .orderBy("tbl")
  }

  // c08: snapshot at LSN S ⊕ WAL after S replays to exactly the full
  // state (internal/dao/snapshots.go contract).
  val c08_snapshot_plus_wal: Q = (s, d) => {
    val flat = flatEnv(s, d)
    val snapLsn = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s"))
    Apply.snapshotPlusWal(flat, snapLsn)
      .select(col("pk"), round(col("last_value"), 2).as("value"))
      .orderBy("pk")
  }

  // c09: snapshot catalog sorted by name — `YYYYMMDDHHMMSS_ffffff` suffix
  // parse/format (client.go:543-579; messages = rows + 2 framing msgs).
  val c09_list_snapshots: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(max("ts").as("snap_at"), count(lit(1)).as("n_rows"))
      .select(
        concat(lit("CREEK_SNAP.public.events."),
          date_format(col("snap_at"), "yyyyMMddHHmmss_SSSSSS")).as("snap_name"),
        unix_micros(col("snap_at")).as("at_us"),
        col("n_rows"),
        (col("n_rows") + 2).as("n_messages"))
      .orderBy("snap_name")
  }

  // c10: per-op changelog throughput stats.
  val c10_changelog_stats: Q = (s, d) => {
    flatEnv(s, d)
      .groupBy("op")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min("lsn_long").as("min_lsn"),
        max("lsn_long").as("max_lsn"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("op")
  }

  // c11 (rows-only): StructType → Avro schema JSON + CRC-64-AVRO Rabin
  // fingerprint for every table (pgtype-avro/schema.go analogue).
  val c11_schema_fingerprint: Q = (s, d) => {
    val rows = Tables.names.map { t =>
      val st = Tables.load(s, d, t).schema
      val json = AvroSchemaGen.record(st, t, "graft")
      val fp = AvroSchemaGen.fingerprint64(json)
      (t, AvroSchemaGen.fingerprintHex(fp), AvroSchemaGen.fingerprintB64(fp),
        st.fields.length, json.length)
    }
    s.createDataFrame(rows)
      .toDF("tbl", "fingerprint_hex", "fingerprint_b64", "n_fields", "schema_len")
      .orderBy("tbl")
  }

  // c12 (rows-only): schema registry — latest schema per subject +
  // fingerprint lookup (client.go:169-219). Two versions are registered
  // per even-indexed table (v2 adds a column); latest must win.
  val c12_schema_registry: Q = (s, d) => {
    val reg = new SchemaRegistry(s)
    Tables.names.zipWithIndex.foreach { case (t, i) =>
      val st = Tables.load(s, d, t).schema
      reg.register(s"testdb.public.$t", st, createdAtMicros = 1000000L * (i + 1))
      if (i % 2 == 0) {
        val v2 = org.apache.spark.sql.types.StructType(
          st.fields :+ org.apache.spark.sql.types.StructField(
            "added_v2", org.apache.spark.sql.types.StringType, nullable = true))
        reg.register(s"testdb.public.$t", v2, createdAtMicros = 1000000L * (i + 100))
      }
    }
    reg.latestBySubject().orderBy("subject")
  }

  // c13: Structured Streaming apply — oracle is c04's verbatim (the
  // stream and batch apply share one contract); spec additionally
  // asserts equality with the batch apply on the same input.
  val c13_stream_apply: Q = (s, d) =>
    StreamApply.run(s, d, queryName = s"graft_stream_apply_${System.nanoTime()}")

  // c14: Avro single-object encode/decode roundtrip of the WAL's
  // non-truncate events through the publish_message codec — oracle-
  // checked: codec transparency means the decoded rows ARE the flat-
  // envelope projection with both framing flags true.
  val c14_avro_roundtrip: Q = (s, d) => {
    implicit val spark: SparkSession = s
    AvroEnvelope.roundtrip(flatEnv(s, d).filter(col("op") =!= "t"))
      .select(col("lsn_long"), col("op"),
        coalesce(col("pk_after"), col("pk_before")).as("pk"),
        col("after_value").as("value"), col("tx_at_us"), col("magic_ok"), col("fp_ok"))
      .orderBy("lsn_long")
  }

  // c15 (rows-only): seq/len wire framing split + distributed reassembly.
  val c15_chunking: Q = (s, d) => {
    implicit val spark: SparkSession = s
    Chunking.roundtrip(flatEnv(s, d))
  }

  // c16: WAL segment compaction — within each 1000-LSN segment keep only
  // the last half-event per key (what a log-compacting store retains);
  // reports per-segment input/output sizes. One shuffle on (segment, pk)
  // with map-side partial max_by, then a narrow re-agg per segment.
  val c16_wal_compaction: Q = (s, d) => {
    Apply.halfEvents(flatEnv(s, d))
      .withColumn("segment", floor(col("ord") / 2000).cast("bigint"))
      .groupBy(col("segment"), col("pk"))
      .agg(count(lit(1)).as("n_key"), max("ord").as("last_ord"))
      .groupBy(col("segment"))
      .agg(sum("n_key").as("n_in"),
        count(lit(1)).as("n_out"),
        round(count(lit(1)) / sum("n_key").cast("double"), 4).as("keep_ratio"))
      .orderBy("segment")
  }

  // c17 (rows-only; spec: even-indexed tables gained exactly added_v2):
  // schema evolution detection — per subject, diff the first vs latest
  // registered Avro schema's field set. The field names are extracted
  // from the schema JSON with from_json (distributed, no driver parse).
  val c17_schema_evolution: Q = (s, d) => {
    val reg = new SchemaRegistry(s)
    Tables.names.zipWithIndex.foreach { case (t, i) =>
      val st = Tables.load(s, d, t).schema
      reg.register(s"testdb.public.$t", st, createdAtMicros = 1000000L * (i + 1))
      if (i % 2 == 0) {
        val v2 = org.apache.spark.sql.types.StructType(
          st.fields :+ org.apache.spark.sql.types.StructField(
            "added_v2", org.apache.spark.sql.types.StringType, nullable = true))
        reg.register(s"testdb.public.$t", v2, createdAtMicros = 1000000L * (i + 100))
      }
    }
    reg.all()
      .withColumn("fields", expr(
        "from_json(schemaJson, 'STRUCT<fields: ARRAY<STRUCT<name: STRING>>>').fields.name"))
      .groupBy(col("subject"))
      .agg(count(lit(1)).as("n_versions"),
        min_by(col("fields"), col("createdAtMicros")).as("first_fields"),
        max_by(col("fields"), col("createdAtMicros")).as("latest_fields"))
      .select(col("subject"), col("n_versions"),
        array_join(array_sort(array_except(col("latest_fields"), col("first_fields"))), ",").as("added_cols"),
        array_join(array_sort(array_except(col("first_fields"), col("latest_fields"))), ",").as("removed_cols"))
      .orderBy("subject")
  }

  // c18: MQ topic routing — WAL events fan out to per-table topics
  // `[creek-ns].[db].wal.[ns].[table]` (README + internal/mq/wal.go
  // naming); per-topic publish stats. Table sharding reuses the c07
  // user_id%4 lift so the oracle sees identical routing.
  val c18_topic_routing: Q = (s, d) => {
    flatEnv(s, d)
      .groupBy(concat(lit("CREEK.testdb.wal.public.t"),
        (col("user_id") % 4).cast("string")).as("topic"))
      .agg(count(lit(1)).as("n_msgs"),
        min("lsn_long").as("min_lsn_long"),
        max("lsn_long").as("max_lsn_long"),
        unix_micros(max("tx_at")).as("last_sent_us"))
      .withColumn("first_lsn", Lsn.long_to_lsn(col("min_lsn_long")))
      .orderBy("topic")
  }

  // c19: WAL continuity audit — per topic, detect LSN gaps and verify
  // monotonic delivery (what a consumer checks after a reconnect; the
  // reference's NATS-reconnection test exercises exactly this failure
  // mode). Every 101st LSN is withheld to plant real gaps. One window
  // pass per topic partition.
  val c19_wal_gaps: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("topic")).orderBy(col("lsn_long"))
    flatEnv(s, d)
      .withColumn("topic", concat(lit("CREEK.testdb.wal.public.t"),
        (col("user_id") % 4).cast("string")))
      .filter(col("lsn_long") % 101 =!= 0) // plant gaps deterministically
      .withColumn("prev_lsn", lag(col("lsn_long"), 1).over(w))
      .withColumn("gap", col("lsn_long") - col("prev_lsn") - 1)
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n_msgs"),
        sum(when(col("gap") > 0, 1).otherwise(0)).as("n_gaps"),
        coalesce(sum(when(col("gap") > 0, col("gap"))), lit(0L)).as("missing_lsns"),
        max("gap").as("max_gap"),
        sum(when(col("gap") < 0, 1).otherwise(0)).as("n_out_of_order"))
      .orderBy("topic")
  }

  // c20: FULL publish_message envelope Avro roundtrip — every WAL event
  // (truncates included, with null before/after) encoded to the reference's
  // actual wire format (nested source record, op enum, nullable before/
  // after records, single-object framing + fingerprint header) and decoded
  // back. The oracle recomputes every decoded field from the events table
  // plus the schema fingerprint constant, so a hash match proves the codec
  // is lossless field-by-field (messages.go:58-91, client.go:264-291).
  val c20_envelope_avro_roundtrip: Q = (s, d) => {
    implicit val spark: SparkSession = s
    AvroEnvelope.roundtrip(flatEnv(s, d)).toDF().orderBy("lsn_long")
  }

  // c21: at-least-once redelivery — after a consumer reconnect the MQ
  // re-delivers a suffix of the WAL (the reference's NATS redelivery
  // contract, internal/mq/nats.go); idempotent apply = dedup on the wire
  // identity (fingerprint, lsn) BEFORE the keyed aggregation. n_half makes
  // duplicate delivery observable (it would double over the redelivered
  // suffix); state must equal the exactly-once replay (c04's oracle).
  val c21_redelivery_dedup: Q = (s, d) => {
    val flat = flatEnv(s, d)
    val redelivered = flat.union(
      flat.filter(col("tx_at") >= lit("2024-01-20").cast("timestamp")))
    val deduped = redelivered
      .withColumn("fingerprint", lit(AvroEnvelope.fingerprintB64))
      .dropDuplicates(Seq("fingerprint", "lsn_long"))
      .drop("fingerprint")
    Apply.fold(deduped)
      .filter(col("last_op") =!= "d")
      .select(col("pk"), round(col("last_value"), 2).as("value"),
        col("last_ord"), col("n_half"))
      .orderBy("pk")
  }

  // c22: pg type-matrix roundtrip — a synthetic typed table covering every
  // branch of the reference's pgtype-avro conversion (uuid, jsonb, scaled
  // numeric, date/time/timestamptz with planted infinity modifiers, text +
  // int arrays, null float8) encoded through the pg-faithful schema and
  // the single-object codec, decoded back. The oracle recomputes every
  // decoded field from `events`, so a hash match proves each conversion
  // branch lossless (pgtype.go:158-236, conversion.go:29-98).
  val c22_pg_type_matrix: Q = (s, d) => {
    implicit val spark: SparkSession = s
    PgTypeAvro.roundtrip(Tables.events(s, d)).toDF().orderBy("id")
  }

  // c23: snapshot consumption END-TO-END over the wire — the full client
  // read path composed from the real pieces: snapshot state at LSN S is
  // emitted as op='r' envelope messages (what the snapshot stream
  // carries, internal/dao/snapshots.go + messages.go op enum), the
  // subsequent WAL as its own messages; BOTH streams are Avro-encoded
  // (c20 codec), split into seq/len wire frames (c15 framing), shuffled,
  // reassembled, decoded, and applied — and the result must equal c08's
  // in-memory snapshot ⊕ WAL merge (same oracle). Proves codec + chunking
  // + apply compose losslessly, not just roundtrip in isolation.
  val c23_snapshot_wire_replay: Q = (s, d) => {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val flat = flatEnv(s, d)
    val snapLsnDf = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s"))
    val sVal = snapLsnDf.head().getLong(0) // one scalar, the snapshot cut
    val snapState = Apply.latest(flat.filter(col("lsn_long") <= sVal))
    val snapRecs = snapState.select(
      lit(sVal).as("lsn_long"), lit("r").as("op"), lit(0L).as("tx_at_us"),
      lit(null).cast("long").as("pk_before"),
      col("pk").as("pk_after"), col("last_value").as("after_value")).as[EnvRecord]
    val walRecs = flat.filter(col("lsn_long") > sVal)
      .select(col("lsn_long"), col("op"), unix_micros(col("tx_at")).as("tx_at_us"),
        col("pk_before"), col("pk_after"), col("after_value")).as[EnvRecord]
    // encode + frame per partition; snapshot rows share lsn S, so their
    // wire message id is keyed by pk (odd) vs WAL by lsn (even)
    val frames = snapRecs.union(walRecs).mapPartitions { it =>
      val codec = AvroEnvelope.codec()
      it.flatMap { r =>
        val msgId =
          if (r.lsn_long == sVal && r.op == "r" && r.pk_before.isEmpty)
            r.pk_after.get * 2 + 1
          else r.lsn_long * 2
        Chunking.split(msgId, AvroEnvelope.encodeOne(codec, r))
      }
    }
    val reassembled = Chunking.reassemble(frames.toDF())
      .select(col("msg_id"), col("bytes"))
      .as[(Long, Array[Byte])]
    val decoded = reassembled.mapPartitions { it =>
      val codec = AvroEnvelope.codec()
      it.map { case (_, bytes) => AvroEnvelope.decodeOne(codec, bytes) }
    }
    val flatBack = decoded.toDF()
      .select(col("lsn_long"), col("op"), col("pk_before"), col("pk_after"),
        col("after_value"))
    Apply.latest(flatBack)
      .select(col("pk"), round(col("last_value"), 2).as("value"))
      .orderBy("pk")
  }

  // c24: schema-evolution-aware decode — a mixed stream (writers on v1
  // and v2 of the same table schema, each message framed with its own
  // fingerprint) decoded by a consumer holding the LATEST schema, via
  // Avro writer→reader resolution: v1-written records surface the added
  // column's null default. c17 detects evolution in the registry; this
  // decodes across it (the ALTER TABLE survival path). The writer
  // schemas are PERSISTED to the registry's parquet store and loaded
  // back (a fresh consumer's view, dao/schemas.go); the consumer
  // statically holds only its own v2 schema and resolves v1 writer
  // fingerprints from that loaded snapshot.
  val c24_evolution_decode: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val dir = java.nio.file.Files.createTempDirectory("graft_registry_")
    val snapshot =
      try {
        val reg = new SchemaRegistry(s)
        reg.registerJson("testdb.public.acct", EvolutionDecode.v1Json, 1000000L)
        reg.registerJson("testdb.public.acct", EvolutionDecode.v2Json, 2000000L)
        reg.save(dir.toString)
        SchemaRegistry.load(s, dir.toString).jsonByFingerprint
      } finally graft.sources.SourceSinks.deleteDir(dir)
    EvolutionDecode.roundtrip(flatEnv(s, d), snapshot).toDF().orderBy("lsn_long")
  }

  // c25: pgoutput BYTE-STREAM decode — the reference producer's core: a
  // planted logical-replication wire stream (XLogData/keepalive frames,
  // Begin/Relation/Insert/Update/Delete/Truncate messages, text-format
  // tuples, replica-identity key flags) synthesized from `events` and run
  // through the full consumer loop (replication.go:205-583). The oracle
  // recomputes every envelope field from events, so a hash match proves
  // the binary decode (lsn/txid/commit-time state machine, key extraction,
  // u-vs-u_pk dispatch, per-OID text decode) is faithful end-to-end.
  val c25_pgoutput_decode: Q = (s, d) => {
    implicit val spark: SparkSession = s
    PgOutput.roundtrip(flatEnv(s, d)).toDF().orderBy("lsn_long")
  }

  // c26: snapshot PRODUCER protocol with EOF framing — the snapshot stream
  // as actually published (mq/snapshots.go:97-146): JSON header message
  // (schema + fingerprint + lsn/txid/approx_rows), one plain-Avro message
  // per row, the literal "EOF" sentinel last, all chunk-framed; consumed
  // by parsing the row schema OUT OF THE HEADER and refusing un-terminated
  // streams (client.go:581-583 isEof). The decoded rows + subsequent WAL
  // replay to the same state as the in-memory merge — c08's oracle.
  /** Snapshot cut for the wire-protocol queries (c26/c29): the LSN at the
    * 2024-01-20 split and the replica state at that cut.
    */
  private def snapshotCut(s: SparkSession, d: String): (DataFrame, Long, DataFrame) = {
    val flat = flatEnv(s, d)
    val sVal = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s")).head().getLong(0)
    (flat, sVal, Apply.latest(flat.filter(col("lsn_long") <= sVal))
      .select(col("pk"), col("last_value").as("value")))
  }

  /** Consume a produced snapshot stream and replay the post-cut WAL on
    * top — the shared c26/c29 tail. The snapshot position comes from the
    * WIRE header, not shared driver state; the end state must hash-match
    * c08's in-memory merge.
    */
  private def replaySnapshotStream(flat: DataFrame, sVal: Long,
      frames: org.apache.spark.sql.Dataset[Frame])(
      implicit s: SparkSession): (SnapHeader, DataFrame) = {
    val (header, rows) = SnapshotWire.consume(frames)
    val wireLsn = graft.functions.Lsn.parse(
      org.apache.spark.unsafe.types.UTF8String.fromString(header.lsn))
    val snapFlat = rows.select(
      lit(wireLsn).as("lsn_long"), lit("r").as("op"),
      lit(null).cast("long").as("pk_before"), col("pk").as("pk_after"),
      col("value").as("after_value"))
    val walFlat = flat.filter(col("lsn_long") > sVal)
      .select(col("lsn_long"), col("op"), col("pk_before"), col("pk_after"),
        col("after_value"))
    (header, Apply.latest(snapFlat.union(walFlat))
      .select(col("pk"), round(col("last_value"), 2).as("value"))
      .orderBy("pk"))
  }

  val c26_snapshot_producer_protocol: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val (flat, sVal, state) = snapshotCut(s, d)
    val frames = SnapshotWire.produce(state, snapLsn = sVal, txId = sVal, atUs = 0L)
    replaySnapshotStream(flat, sVal, frames)._2
  }

  // c28: chunk-stream RECOVERY — the client's readMessage/drainMessage
  // contract (client.go:632-658): a message whose seq-0 frame (the one
  // carrying the total length) is missing, or whose reassembled bytes
  // don't reach the declared length, is DRAINED — dropped whole, stream
  // continues, never a failure. A 16-byte chunk size splits every 75–
  // 102-byte envelope message into ≥5 frames so the corruption is PARTIAL
  // delivery (frames do arrive): every 997th message loses its FIRST
  // frame (seq-0/length check), every 991st an INTERIOR frame
  // (contiguity + length check). The oracle is the flat stream minus
  // exactly the planted casualties.
  val c28_chunk_recovery: Q = (s, d) => {
    implicit val spark: SparkSession = s
    import spark.implicits._
    val wal = AvroEnvelope.envRecords(flatEnv(s, d).filter(col("op") =!= "t"))
    val frames = wal.mapPartitions { it =>
      val codec = AvroEnvelope.codec()
      it.flatMap { r =>
        val fs = Chunking.split(r.lsn_long, AvroEnvelope.encodeOne(codec, r),
          chunkSize = 16)
        if (r.lsn_long % 997 == 0) fs.drop(1) // lost first frame
        else if (r.lsn_long % 991 == 0) fs.patch(1, Nil, 1) // lost interior
        else fs
      }
    }
    val reassembled = Chunking.reassemble(frames.toDF())
      .filter(Chunking.isCompleteMessage) // drain incomplete messages
      .select(col("msg_id"), col("bytes")).as[(Long, Array[Byte])]
    reassembled.mapPartitions { it =>
      val codec = AvroEnvelope.codec()
      it.map { case (_, bytes) => AvroEnvelope.decodeOne(codec, bytes) }
    }.toDF()
      .select(col("lsn_long"), col("op"),
        coalesce(col("pk_after"), col("pk_before")).as("pk"),
        col("after_value").as("value"))
      .orderBy("lsn_long")
  }

  // c29: the snapshot REQUEST/REPLY handshake composed end-to-end — the
  // client's `Snapshot(ns, table)` entry point (client.go:381-462): a
  // request with a reply subject passes the CanSnapshot publication gate,
  // the server replies a seeded per-snapshot topic and streams header +
  // rows + EOF there (c26's producer), the client consumes FROM THE
  // REPLIED TOPIC and replays WAL on top. End state ≡ c08, same oracle.
  val c29_snapshot_request: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val (flat, sVal, state) = snapshotCut(s, d)
    // CanSnapshot = membership in the c27 publication manager
    val pub = new PublicationManager("creek_pub", Set("events"),
      new SchemaRegistry(s),
      t => AvroSchemaGen.record(Tables.events(s, d).schema, t, "graft"))
    val Some((topic, frames)) = SnapshotApi.handle(
      SnapshotRequest("public", "events"), replyTo = Some("_INBOX.graft"),
      canSnapshot = pub.isMember, state = state,
      snapLsn = sVal, txId = sVal, atUs = 0L, seed = 42L)
    val (header, out) = replaySnapshotStream(flat, sVal, frames)
    require(header.topic == topic, "consumed stream must carry the replied topic")
    out
  }

  // c30: MULTI-TABLE apply — the daemon replicates many tables at once
  // (the relations map / per-table topics); materialize every replica in
  // ONE pass: half-events carry their table, truncates cut ONLY their
  // own table (per-table broadcast cuts, not a global scalar), and a
  // single (tbl, pk) aggregation yields all replica states. Same
  // shuffle-once discipline as c04, keyed by (table, pk).
  val c30_multi_table_apply: Q = (s, d) => {
    multiTableApply(flatEnv(s, d)
      .withColumn("tbl", concat(lit("t"), (col("user_id") % 4).cast("string"))))
  }

  // c35: multi-table pgoutput END-TO-END — c25's interleaved-relations
  // byte-stream decode composed with c30's one-pass multi-table apply:
  // the planted wire stream registers each table's Relation lazily on
  // first use (live relations-map dispatch), truncates carry only their
  // own relation id, and the decoded envelope rows — table identity from
  // the WIRE, not from user_id — replay to every replica in one (tbl,
  // pk) aggregation. The oracle is c30's: a hash match proves the
  // multi-relation decode loses nothing the apply needs.
  val c35_multi_table_stream: Q = (s, d) => {
    implicit val spark: SparkSession = s
    val decoded = PgOutput.roundtrip(flatEnv(s, d), shardOf).toDF()
    multiTableApply(decoded.select(
      col("table_name").as("tbl"), col("lsn_long"), col("op"),
      col("pk_before"), col("pk_after"), col("after_value")))
  }

  /** c30's sharding on the wire: user → relation `t{user_id % 4}`. */
  private val shardOf: Long => String = uid => s"t${uid % 4}"

  /** One-pass multi-table apply over a flat stream carrying `tbl`:
    * half-events keep their table, truncates cut only their own table
    * (per-table broadcast cuts), one (tbl, pk) aggregation total.
    */
  private def multiTableApply(f2: DataFrame, base: Option[DataFrame] = None): DataFrame =
    Apply.fold(f2, base, keys = Seq("tbl"))
      .filter(col("last_op") =!= "d")
      .select(col("tbl"), col("pk"),
        round(col("last_value"), 2).as("value"), col("last_ord"))
      .orderBy("tbl", "pk")

  // c31: keepalive → standby-status REPLY roundtrip — the ack side of the
  // replication loop: reply-requested keepalives make the client emit a
  // Standby Status Update ('r') with its current XLog position, generated
  // as wire bytes and re-parsed (replication.go:87-93, 230-233). The
  // oracle recomputes each reply position from events (every 97th change
  // per 2048-LSN segment), so a hash match pins the reply protocol AND
  // the 'r' message byte layout.
  val c31_standby_status: Q = (s, d) => {
    implicit val spark: SparkSession = s
    PgOutput.standbyRoundtrip(flatEnv(s, d)).toDF().orderBy("wal_write")
  }

  // x14: REPLICATION-LAG GAUGES — the consumer-health triple the daemon
  // exports per keepalive (metrics.go:71-85, fed from the keepalive arm
  // of the consumer loop, replication.go:219-237): wal-LSN (stream
  // position), behind-LSN (server head − position, clamped), behind-time
  // (clock − ServerTime). Planted streams carry real ServerTime in their
  // keepalives; the oracle recomputes all three gauges from events
  // (every 97th change per 2048-LSN segment — c31's cadence), so a hash
  // match pins the keepalive time codec AND the gauge arithmetic.
  val x14_replication_lag: Q = (s, d) => {
    implicit val spark: SparkSession = s
    PgOutput.replicationLag(flatEnv(s, d)).toDF().orderBy("wal_lsn")
  }

  // c32: daemon CONFIG-DRIVEN topic gating — the creekd entry contract:
  // a CLI flag vector (config.go's `cli` tags: nested pg-/nats-/
  // nats-retention- prefixes, Go durations, comma lists) is parsed into
  // the Config and its `tables` allow-list + `nats-namespace` drive
  // which WAL topics exist (cmd/creekd.go wires cfg.Tables into
  // StartReplication; c18's naming). The oracle recomputes the gated
  // routing with the same constants, so a hash match proves the parsed
  // config — not code constants — shaped the data plane.
  val c32_config_gating: Q = (s, d) => {
    val cfg = DaemonConfig.parse(Seq(
      "--log-level", "debug",
      "--tables", "public.t0,public.t1,public.t3",
      "--pg-uri", "postgres://creek@localhost:5432/testdb",
      "--pg-message-timeout", "30s",
      "--nats-uri", "nats://localhost:4222",
      "--nats-namespace", "CREEK",
      "--nats-retention-max-age", "24h",
      "--prometheus-port", "7779"))
    val allowed = cfg.tables.map(_.stripPrefix("public.")).toSeq
    flatEnv(s, d)
      .withColumn("tbl", concat(lit("t"), (col("user_id") % 4).cast("string")))
      .filter(col("tbl").isin(allowed: _*))
      .groupBy(concat(lit(cfg.nats.namespace + ".testdb.wal.public."),
        col("tbl")).as("topic"))
      .agg(count(lit(1)).as("n_msgs"),
        max("lsn_long").as("max_lsn_long"),
        unix_micros(max("tx_at")).as("last_sent_us"))
      .orderBy("topic")
  }

  // c37: the creekd MAIN LOOP as ONE lane — every daemon stage the
  // reference composes at startup (cmd/creekd.go wiring;
  // internal/dao/init.go:91-145) chained end to end from one planted
  // wire stream: c32's CLI config parse → c27's publication allow-list
  // gate → c35's multi-table pgoutput decode (lazy Relation
  // registration) → c18's topic naming → c34's retention-bounded store
  // (MaxMsgs, evict-oldest) → the snapshot-⊕-retained-WAL resume (c08's
  // merge) → c30's one-pass (tbl, pk) apply. The oracle is the c35
  // replica filtered by the config's allow-list: a hash match proves no
  // composition seam (gate ordering, retention cut, snapshot handoff)
  // loses or reorders anything the per-stage oracles verify in
  // isolation.
  /** c37's lane with its internals exposed for the spec: returns
    * (replica, retention floor, retained-store min LSN) so the test can
    * pin that eviction REALLY happened (floor above the stream's min —
    * the snapshot-fallback path ran, not a degenerate keep-everything
    * cut). The MaxMsgs budget is sized from the stream (3/5 of the gated
    * message count) and handed through the FLAG VECTOR, so the binding
    * constraint still arrives via the parsed config at every sf.
    */
  def c37run(s: SparkSession, d: String): (DataFrame, Long, Long) = {
    implicit val spark: SparkSession = s
    // -- decode (c35): interleaved multi-relation byte stream
    val decoded = PgOutput.roundtrip(flatEnv(s, d), shardOf).toDF().select(
      col("table_name").as("tbl"), col("lsn_long"), col("op"),
      col("pk_before"), col("pk_after"), col("after_value"))
    // ONE allow-list constant drives both the budget sizing and the
    // config flag vector (a divergent pair here would make the budget
    // binding against the wrong message population)
    val allowedTables = Seq("t0", "t1", "t3")
    val budget = math.max(1L,
      decoded.filter(col("tbl").isin(allowedTables: _*)).count() * 3 / 5)
    // -- config (c32): the deployment contract, incl. retention flags
    val cfg = DaemonConfig.parse(Seq(
      "--log-level", "info",
      "--tables", allowedTables.map("public." + _).mkString(","),
      "--pg-uri", "postgres://creek@localhost:5432/testdb",
      "--nats-namespace", "CREEK",
      "--nats-retention-policy", "limits",
      "--nats-retention-max-msgs", budget.toString))
    val allowed = cfg.tables.map(_.stripPrefix("public."))
    // -- publication gate (c27/c32): only allow-listed tables publish
    val gated = decoded.filter(col("tbl").isin(allowed: _*))
    // -- retention (c34): the JetStream MaxMsgs bound on the WAL stream;
    //    evict-oldest ⇒ the store keeps the maximal LSN suffix
    val floor = Retention.suffixFloor(gated, lit(1L), cfg.nats.retention.maxMsgs)
    val minLsn = gated.agg(min("lsn_long")).head().getLong(0)
    // -- resume (c08) + apply (c30): history below the floor is
    //    unservable from the stream — the snapshot producer's cut (the
    //    replica just below the floor) is the base of the apply's fold
    //    over the retained suffix. Per-table truncate cuts inside the
    //    suffix still wipe snapshot rows (their ords are lower). Route
    //    (c18): the replica, labeled with the topic its WAL arrived on.
    val snapshot = Apply.snapshotOf(gated.filter(col("lsn_long") < floor), Seq("tbl"))
    val replica = multiTableApply(gated.filter(col("lsn_long") >= floor), Some(snapshot))
      .select(concat(lit(cfg.nats.namespace + ".testdb.wal.public."),
          col("tbl")).as("topic"),
        col("tbl"), col("pk"), col("value"))
      .orderBy("tbl", "pk")
    (replica, floor, minLsn)
  }

  val c37_daemon_e2e: Q = (s, d) => c37run(s, d)._1

  /** c38's leaf→root partition map — the daemon-side image of the
    * pg_inherits catalog for a `prices` table partitioned by year, plus
    * one plain table that maps to itself.
    */
  private val partitionRoots = Map(
    "prices_p2022" -> "prices", "prices_p2023" -> "prices",
    "prices_p2024" -> "prices")
  private val leafOf: Long => String = uid => (uid % 4) match {
    case 0 => "prices_p2022"
    case 1 => "prices_p2023"
    case 2 => "quotes"
    case _ => "prices_p2024"
  }

  /** c38 with internals exposed for the spec: (replica, decoded leaf
    * table names seen on the wire).
    */
  def c38run(s: SparkSession, d: String): (DataFrame, Seq[String]) = {
    implicit val spark: SparkSession = s
    // the wire carries LEAF relation identities (prices_p2022, ...) — a
    // live pg session with publish_via_partition_root = true performs
    // the collapse server-side; the daemon's publication layer must land
    // on the same observable contract either way: events surface under
    // the ROOT topic with source.table = the root
    val decoded = PgOutput.roundtrip(flatEnv(s, d), leafOf).toDF()
      .select(col("table_name"), col("lsn_long"), col("op"),
        col("pk_before"), col("pk_after"), col("after_value"))
    val leaves = decoded.select("table_name").distinct()
      .collect().map(_.getString(0)).sorted.toSeq // ≤ #tables rows
    // the pg_inherits image as a broadcast catalog join (a real deploy
    // reads it from pg_catalog as a table, so model it as a table; a
    // leaf TRUNCATE collapses to the root too — with the flag on, pg
    // only ever publishes the root's truncate)
    import s.implicits._
    val roots = partitionRoots.toSeq.toDF("leaf", "root")
    val rerooted = decoded
      .join(broadcast(roots), decoded("table_name") === roots("leaf"), "left")
      .select(coalesce(col("root"), col("table_name")).as("tbl"),
        col("lsn_long"), col("op"), col("pk_before"), col("pk_after"),
        col("after_value"))
    val replica = multiTableApply(rerooted)
      .select(concat(lit("CREEK.testdb.wal.public."), col("tbl")).as("topic"),
        col("tbl"), col("pk"), col("value"))
      .orderBy("tbl", "pk")
    (replica, leaves)
  }

  // c38: PARTITION-ROOT publication routing — the reference creates its
  // publication WITH (publish_via_partition_root = true)
  // (internal/dao/init.go:135) and integration-tests that writes landing
  // in leaf partitions surface under the ROOT table
  // (integration_tests/listen_test.go:772-795 TestPartitions: inserts
  // into public.prices partitions stream back with Source.Table =
  // "prices"). Here the planted wire stream registers the LEAF
  // relations; the routing layer applies the leaf→root catalog map, so
  // topics and the applied replica collapse to the root — the oracle
  // recomputes the same collapse from events, pinning that no leaf
  // leaks into the topic namespace and the root replica merges all
  // leaves' rows.
  val c38_partition_root: Q = (s, d) => c38run(s, d)._1

  // c40: SNAPSHOT DIFF — reverse CDC (Debezium incremental-snapshot /
  // DMS full-load-compare shape): given two replica states, emit the
  // MINIMAL change set that turns v1 into v2 — 'c' for keys only in v2,
  // 'd' for keys only in v1, 'u' where both exist and the payload
  // differs; identical rows emit nothing. One keyed full-outer shuffle
  // join, the same single-pass shape as the forward apply (c04) — at
  // 100 TB this is how a consumer reconciles a replica against a fresh
  // snapshot without replaying history. States here: v1 = customer;
  // v2 = the x17 merge result minus negative-balance accounts (planted
  // deletes, so all three op codes fire).
  val c40_snapshot_diff: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val v1 = graft.Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal_before"))
    val v2 = graft.sources.SourceSinks.x17_merge_upsert(s, d)
      .filter(col("c_acctbal") >= 0)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal_after"))
    v1.join(v2, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("bal_before").isNull, "c")
          .when(col("bal_after").isNull, "d")
          .otherwise("u"))
      .filter(col("op") =!= "u" || col("bal_before") =!= col("bal_after"))
      .select(col("op"), col("key").as("c_custkey"),
        col("bal_before"), col("bal_after"))
      .orderBy("op", "c_custkey")
  }

  // c41: APPLY-SKEW / HOT-KEY DETECTION — the replica-apply planner's
  // input (a pk whose bucket takes a disproportionate share of the WAL
  // serializes the apply; q30's salting and AQE skew-join are the
  // remedies, THIS is the monitor that triggers them): per pk-bucket op
  // density from the change stream (one keyed agg onto the 64-bucket
  // axis — the only data-proportional step), skew factor and 2×-average
  // hot flag as window math over the bounded axis.
  val c41_apply_skew: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    flatEnv(s, d)
      .select(coalesce(col("pk_after"), col("pk_before")).as("pk"))
      .filter(col("pk").isNotNull)
      .groupBy(pmod(col("pk"), lit(64L)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("avg_n", avg("n").over(Window.partitionBy()))
      .select(col("bucket"), col("n"),
        round(col("n") / col("avg_n"), 4).as("skew"),
        (col("n") > col("avg_n") * 2).cast("int").as("hot"))
      .orderBy("bucket")
  }

  /** c42's engine, split so the spec can run the heartbeat-less
    * counterfactual: returns the APPEND-mode emitted windows of the
    * sparse table's 6-hour counts, with or without the keepalive.
    */
  def idleHeartbeatRun(s: SparkSession, d: String,
      heartbeat: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val flat = flatEnv(s, d)
    val sparse = flat
      .filter(pmod(coalesce(c("pk_after"), c("pk_before")), lit(100L)) === 0)
      .select(c("tx_at").as("ts"), lit("op").as("kind"))
    // the daemon's keepalive: it always knows the SOURCE's position
    // (standby-status traffic, c31) even when this table is idle — one
    // synthetic row carrying the global tail + 12h clears the last
    // window boundary plus the watermark delay
    val hb = flat.agg(max("tx_at").as("t"))
      .select((c("t") + expr("INTERVAL 12 HOURS")).as("ts"),
        lit("hb").as("kind"))
    val dir = java.nio.file.Files.createTempDirectory("graft_c42")
    try {
      graft.sources.SourceSinks.landSingleParquet(sparse, dir.resolve("ops.parquet"))
      val stream = s.readStream.schema(sparse.schema).parquet(dir.toString)
      graft.streaming.StreamingQueries.drainMemory(s, "graft_c42") { name =>
        val q = stream.withWatermark("ts", "30 minutes")
          .groupBy(window(c("ts"), "6 hours").as("w"))
          .agg(count(when(c("kind") === "op", 1)).as("n"))
          .select(unix_micros(c("w.start")).as("window_start_us"), c("n"))
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        try {
          q.processAllAvailable() // ops drained; watermark = sparse tail − 30m
          if (heartbeat) {
            graft.sources.SourceSinks.landSingleParquet(hb, dir.resolve("hb.parquet"))
            q.processAllAvailable() // keepalive closes the remaining windows
          }
        } finally q.stop()
      }(_.filter(c("n") > 0).orderBy("window_start_us"))
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  // c42: IDLE-TABLE HEARTBEAT (the Debezium-heartbeat operational
  // pattern): a low-traffic table's changes feed an APPEND-mode
  // windowed aggregation; append emits a window only once the
  // watermark passes it, so without keepalives the tail windows are
  // HELD FOREVER — the classic stalled-CDC-consumer page. The daemon
  // emits a source-position heartbeat (it always knows the tail from
  // standby-status traffic, c31) that advances the watermark without
  // contributing counts. With the heartbeat, the append output equals
  // the full batch aggregation — which is exactly what the oracle
  // recomputes; the spec runs the heartbeat-less counterfactual and
  // pins the held-back tail window.
  val c42_idle_heartbeat: Q = (s, d) => idleHeartbeatRun(s, d, heartbeat = true)

  // c43: REPLICA CONSISTENCY AUDIT (the trust-but-verify pass every
  // long-running CDC deployment schedules — compare replica to source
  // WITHOUT moving rows): both sides collapse to per-bucket
  // (count, Σcents, Σpk) checksums — one aggregation each onto the
  // 16-bucket axis, kilobytes compared regardless of table size. The
  // audited copy carries a PLANTED drift on bucket 5 (a cent of value
  // skew — the silent-corruption case checksum audits exist to catch),
  // so the lane proves detection, not just agreement: 15 buckets
  // match, bucket 5 fails on the value checksum while row counts still
  // agree (count-only audits would miss it).
  val c43_replica_audit: Q = (s, d) => {
    val src = Apply.latest(flatEnv(s, d))
      .select(col("pk"), col("last_value"))
    val replica = src.withColumn("last_value",
      when(pmod(col("pk"), lit(16L)) === 5, col("last_value") + 0.01)
        .otherwise(col("last_value")))
    def sums(df: DataFrame, p: String): DataFrame =
      df.groupBy(pmod(col("pk"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as(s"${p}n"),
          sum(expr("cast(round(last_value * 100) as bigint)")).as(s"${p}cents"),
          sum(col("pk")).as(s"${p}pks"))
    sums(src, "s_").join(sums(replica, "r_"), Seq("bucket"))
      .select(col("bucket"), col("s_n"), col("r_n"),
        (col("s_n") === col("r_n")).cast("int").as("rows_match"),
        (col("s_cents") === col("r_cents") && col("s_pks") === col("r_pks"))
          .cast("int").as("checksum_match"))
      .orderBy("bucket")
  }

  // c44: TRANSACTION-BOUNDARY GROUPING — WAL ops roll up to their
  // COMMIT, the reference's unit of atomicity (every op between two
  // commit markers shares its Begin's xid/commit time —
  // replication.go semantics, PgOutput.consume). The planted lift
  // commits every 7 LSNs, so the owning commit LSN is CLOSED-FORM
  // integer arithmetic (((lsn+6) div 7)·7) — no window, no scan-order
  // assumption — and the whole lane is ONE keyed agg to the per-tx
  // axis: op mix, key span, LSN range, tx value. This is the batched
  // apply a replica uses to stay transactionally consistent (apply
  // whole transactions, never partial).
  val c44_tx_boundary: Q = (s, d) => {
    flatEnv(s, d)
      .withColumn("tx_commit_lsn", expr("((lsn_long + 6) div 7) * 7"))
      .groupBy("tx_commit_lsn")
      .agg(count(lit(1)).as("n_ops"),
        min("lsn_long").as("first_lsn"), max("lsn_long").as("last_lsn"),
        countDistinct(col("user_id")).as("n_keys"),
        sum((col("op") === "c").cast("long")).as("n_insert"),
        sum(col("op").isin("u", "u_pk").cast("long")).as("n_update"),
        sum((col("op") === "d").cast("long")).as("n_delete"),
        round(sum(coalesce(col("after_value"), lit(0.0))), 2).as("tx_value"))
      .withColumn("commit_lsn", Lsn.long_to_lsn(col("tx_commit_lsn")))
      .orderBy("tx_commit_lsn")
  }

  // c45: MULTI-PUBLISHER WATERMARK MERGE — the fan-in rule every
  // multi-source CDC consumer implements (Flink's min-watermark): three
  // publishers (user_id mod 3) each deliver their sub-stream up to a
  // DIFFERENT cutoff (publisher p lags p·5% of the LSN span — the
  // realistic skewed-lag shape); the safe emission frontier is the MIN
  // of per-publisher watermarks, rows at-or-below it are emittable in
  // global order, newer delivered rows hold. Everything after the
  // envelope scan is a 3-row publisher axis: one conditional rollup,
  // zero extra shuffles.
  val c45_watermark_merge: Q = (s, d) => {
    val f = flatEnv(s, d).withColumn("pub", pmod(col("user_id"), lit(3)))
    val span = f.agg(min("lsn_long").as("lo"), max("lsn_long").as("hi"))
    val deliv = f.crossJoin(broadcast(span))
      .withColumn("cutoff", col("hi") -
        col("pub") * ((col("hi") - col("lo")) / 20).cast("long"))
      .filter(col("lsn_long") <= col("cutoff"))
    val wm = deliv.groupBy("pub")
      .agg(max("lsn_long").as("watermark"), count(lit(1)).as("n_delivered"))
    val frontier = wm.agg(min("watermark").as("frontier"))
    deliv.crossJoin(broadcast(frontier))
      .groupBy("pub")
      .agg(max("lsn_long").as("watermark"),
        count(lit(1)).as("n_delivered"),
        sum((col("lsn_long") <= col("frontier")).cast("long"))
          .as("n_emittable"),
        first("frontier").as("frontier"))
      .select(col("pub").cast("int").as("pub"),
        Lsn.long_to_lsn(col("watermark")).as("watermark_lsn"),
        col("n_delivered"), col("n_emittable"),
        (col("n_delivered") - col("n_emittable")).as("n_held"),
        Lsn.long_to_lsn(col("frontier")).as("frontier_lsn"))
      .orderBy("pub")
  }

  // c46: WAL SEGMENT RETENTION AUDIT — the prune-planning readout a
  // WAL store runs before dropping segments (internal/mq/nats.go
  // retention + the dao/snapshots horizon semantics of c34): the log
  // partitions into fixed LSN-range segments (pg's 16 MB WAL-segment
  // model); the retention horizon is the highest LSN checkpointed
  // before the consumer cutoff (c03's from-position convention), and a
  // segment is prunable iff its ENTIRE range sits at or below that
  // horizon — never a partial trim. One keyed agg to the bounded
  // segment axis + a 1-row horizon broadcast; at 100 TB the audit
  // reads per-segment manifest stats, not the log.
  val c46_wal_retention_audit: Q = (s, d) => {
    val env = flatEnv(s, d)
    val hor = env
      .filter(col("tx_at") < lit("2024-01-15").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("horizon"))
    env.withColumn("seg_id", expr("lsn_long div 1000"))
      .groupBy("seg_id")
      .agg(count(lit(1)).as("n_ops"),
        sum((col("op") === "c").cast("long")).as("n_insert"),
        sum(col("op").isin("u", "u_pk").cast("long")).as("n_update"),
        sum((col("op") === "d").cast("long")).as("n_delete"),
        min("lsn_long").as("min_lsn"), max("lsn_long").as("max_lsn"))
      .crossJoin(broadcast(hor))
      .withColumn("prunable", col("max_lsn") <= col("horizon"))
      .select(col("seg_id"), col("n_ops"), col("n_insert"),
        col("n_update"), col("n_delete"), col("min_lsn"), col("max_lsn"),
        col("prunable"))
      .orderBy("seg_id")
  }

  // c47 (rows-only; spec: pins the constructed compat pattern per
  // subject): SCHEMA COMPATIBILITY MATRIX — the registry-side gate a
  // producer runs before publishing a new schema version (Confluent's
  // BACKWARD / FORWARD / FULL levels), evaluated with Avro's OWN
  // resolution rules (org.apache.avro.SchemaCompatibility — not a
  // hand-rolled field diff): v2 adds a nullable defaulted column
  // (compatible both ways); v3 adds a REQUIRED no-default column,
  // which breaks exactly the BACKWARD read (the v3 reader cannot fill
  // it from older writers — the classic required-column lesson). The
  // registry is bounded (schemas, not data), so
  // the pairwise resolution check is driver-side by design — the same
  // discipline as IVF centroids.
  val c47_schema_compat: Q = (s, d) => {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val reg = new SchemaRegistry(s)
    Tables.names.zipWithIndex.foreach { case (t, i) =>
      val st = Tables.load(s, d, t).schema
      reg.register(s"testdb.public.$t", st, 1000000L * (i + 1))
      if (i % 2 == 0) {
        val v2 = StructType(st.fields :+
          StructField("added_v2", StringType, nullable = true))
        reg.register(s"testdb.public.$t", v2, 1000000L * (i + 100))
        if (i % 4 == 0) {
          // a REQUIRED (no-default) column: the classic backward break —
          // the v3 reader cannot fill it from older writers. Registered
          // as a KEY column because pgtype-avro nullability is
          // key-driven (pgtype.go:123-131): key columns keep their base
          // type, no null union, no default.
          val v3 = StructType(v2.fields :+
            StructField("required_v3", LongType, nullable = false))
          reg.registerJson(s"testdb.public.$t",
            AvroSchemaGen.record(v3, t, "graft", keys = Set("required_v3")),
            1000000L * (i + 200))
        }
      }
    }
    val versions = reg.all()
      .select("subject", "schemaJson", "createdAtMicros")
      .collect() // bounded: the registry holds schemas, not data
      .groupBy(_.getString(0))
      .map { case (subj, rs) =>
        val parsed = rs.sortBy(_.getLong(2)).map(r =>
          AvroSchemaGen.parse(r.getString(1)))
        def ok(reader: org.apache.avro.Schema,
            writer: org.apache.avro.Schema): Boolean =
          org.apache.avro.SchemaCompatibility
            .checkReaderWriterCompatibility(reader, writer)
            .getType ==
            org.apache.avro.SchemaCompatibility
              .SchemaCompatibilityType.COMPATIBLE
        val adj = parsed.sliding(2).toSeq.collect { case Array(o, n) => (o, n) }
        (subj, parsed.length.toLong,
          adj.forall { case (o, n) => ok(n, o) },  // backward: new reads old
          adj.forall { case (o, n) => ok(o, n) })  // forward: old reads new
      }.toSeq.map { case (subj, n, bwd, fwd) =>
        (subj, n, bwd, fwd, bwd && fwd)
      }
    import s.implicits._
    versions.toDF("subject", "n_versions", "backward_ok", "forward_ok",
      "full_ok").orderBy("subject")
  }

  // c48: MULTI-PUBLISHER CONFLICT AUDIT — when round-robin publishers
  // (pub = lsn % 3: competing consumers applying to one replica, the
  // failure mode c45's watermark merge exists to prevent) write the
  // same key, who wins and how often was it contested? Per key one
  // keyed agg (distinct publishers + max LSN); the last-writer-wins
  // winner is the max-LSN publisher; per-publisher contest rates read
  // from the bounded publisher axis. The audit a multi-master apply
  // pipeline ships next to c43's replica consistency check.
  val c48_conflict_audit: Q = (s, d) => {
    flatEnv(s, d)
      .groupBy(col("user_id"))
      .agg(countDistinct(pmod(col("lsn_long"), lit(3))).as("n_pubs"),
        max("lsn_long").as("max_lsn"))
      .groupBy(pmod(col("max_lsn"), lit(3)).cast("int").as("pub"))
      .agg(count(lit(1)).as("n_keys_won"),
        sum((col("n_pubs") > 1).cast("long")).as("n_contested"),
        round(sum((col("n_pubs") > 1).cast("long")) /
          count(lit(1)).cast("double"), 4).as("contest_rate"))
      .orderBy("pub")
  }

  val queries: Map[String, Q] = Map(
    "c48_conflict_audit" -> c48_conflict_audit,
    "c47_schema_compat" -> c47_schema_compat,
    "c46_wal_retention_audit" -> c46_wal_retention_audit,
    "c45_watermark_merge" -> c45_watermark_merge,
    "c44_tx_boundary" -> c44_tx_boundary,
    "c43_replica_audit" -> c43_replica_audit,
    "c42_idle_heartbeat" -> c42_idle_heartbeat,
    "c41_apply_skew" -> c41_apply_skew,
    "c40_snapshot_diff" -> c40_snapshot_diff,
    "c38_partition_root" -> c38_partition_root,
    "c37_daemon_e2e" -> c37_daemon_e2e,
    "c32_config_gating" -> c32_config_gating,
    "c31_standby_status" -> c31_standby_status,
    "c30_multi_table_apply" -> c30_multi_table_apply,
    "c25_pgoutput_decode" -> c25_pgoutput_decode,
    "c26_snapshot_producer_protocol" -> c26_snapshot_producer_protocol,
    "c27_publication_routing" -> (Publication.c27_publication_routing _),
    "c28_chunk_recovery" -> c28_chunk_recovery,
    "c29_snapshot_request" -> c29_snapshot_request,
    "c01_lsn_roundtrip" -> c01_lsn_roundtrip,
    "c02_wal_envelope" -> c02_wal_envelope,
    "c03_stream_from" -> c03_stream_from,
    "c04_apply_latest" -> c04_apply_latest,
    "c05_apply_upk" -> c05_apply_upk,
    "c06_truncate_replay" -> c06_truncate_replay,
    "c07_snapshot_header" -> c07_snapshot_header,
    "c08_snapshot_plus_wal" -> c08_snapshot_plus_wal,
    "c09_list_snapshots" -> c09_list_snapshots,
    "c10_changelog_stats" -> c10_changelog_stats,
    "c11_schema_fingerprint" -> c11_schema_fingerprint,
    "c12_schema_registry" -> c12_schema_registry,
    "c13_stream_apply" -> c13_stream_apply,
    "c14_avro_roundtrip" -> c14_avro_roundtrip,
    "c15_chunking" -> c15_chunking,
    "c16_wal_compaction" -> c16_wal_compaction,
    "c17_schema_evolution" -> c17_schema_evolution,
    "c18_topic_routing" -> c18_topic_routing,
    "c19_wal_gaps" -> c19_wal_gaps,
    "c20_envelope_avro_roundtrip" -> c20_envelope_avro_roundtrip,
    "c21_redelivery_dedup" -> c21_redelivery_dedup,
    "c22_pg_type_matrix" -> c22_pg_type_matrix,
    "c23_snapshot_wire_replay" -> c23_snapshot_wire_replay,
    "c24_evolution_decode" -> c24_evolution_decode,
    "c33_jdbc_source" -> JdbcSource.c33_jdbc_source,
    "s15_jdbc_stream" -> JdbcSource.s15_jdbc_stream,
    "c39_jdbc_evolution" -> JdbcEvolution.c39_jdbc_evolution,
    "x14_replication_lag" -> x14_replication_lag,
    "c34_retention" -> (Retention.c34_retention),
    "c35_multi_table_stream" -> c35_multi_table_stream,
    "c36_incremental_view" -> (ViewMaintenance.c36_incremental_view),
    "s14_streaming_view" -> (ViewMaintenance.s14_streaming_view),
  )

  /** Ground truth for c08 AND c23 (the wire trip is lossless, so the
    * snapshot ⊕ WAL merge replayed from decoded messages must hash-match
    * the in-memory merge).
    */
  /** Ground truth for c04 AND c33 (the JDBC ingest edge lands the same
    * rows, so its replayed replica must hash-match the direct apply).
    */
  private[graft] lazy val applyLatestOracle: String =
    s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")}
       |SELECT pk, round(last_value, 2) AS value, last_ord
       |FROM state WHERE last_op <> 'd' ORDER BY pk""".stripMargin

  /** Ground truth for c30 AND c35 (the wire trip is lossless per table,
    * so the multi-relation decode replayed must hash-match the direct
    * multi-table apply). c35's stream carries no snapshot 'r' ops —
    * pgoutput never does — so its variant filters them from the input.
    */
  private def multiTableOracle(where: String): String =
    s"""WITH $sqlEnv, $sqlFlat,
       |f2 AS (SELECT *, 't' || (user_id % 4)::VARCHAR AS tbl FROM flat $where),
       |mhalf AS (
       |  SELECT tbl, lsn_long * 2 AS ord,
       |    CASE WHEN op = 'u_pk' THEN 'd' ELSE op END AS eff_op,
       |    CASE WHEN op IN ('d','u_pk') THEN pk_before ELSE pk_after END AS pk,
       |    CASE WHEN op IN ('d','u_pk') THEN NULL ELSE after_value END AS value
       |  FROM f2 WHERE op <> 't'
       |  UNION ALL
       |  SELECT tbl, lsn_long * 2 + 1, 'c', pk_after, after_value
       |  FROM f2 WHERE op = 'u_pk'),
       |mcut AS (
       |  SELECT tbl, max(lsn_long * 2 + 1) AS tmax FROM f2
       |  WHERE op = 't' GROUP BY tbl),
       |mlive AS (
       |  SELECT h.* FROM mhalf h LEFT JOIN mcut c ON h.tbl = c.tbl
       |  WHERE h.ord > coalesce(c.tmax, -1)),
       |mstate AS (
       |  SELECT tbl, pk, max(ord) AS last_ord,
       |    max_by(eff_op, ord) AS last_op, max_by(value, ord) AS last_value
       |  FROM mlive GROUP BY 1, 2)
       |SELECT tbl, pk, round(last_value, 2) AS value, last_ord
       |FROM mstate WHERE last_op <> 'd' ORDER BY tbl, pk""".stripMargin

  /** c37's ground truth: the c35 multi-table replica restricted to the
    * config allow-list — retention + snapshot resume must be invisible
    * in the final state, so the oracle needs no floor arithmetic.
    */
  private lazy val daemonE2eOracle: String =
    s"""WITH $sqlEnv, $sqlFlat,
       |f2 AS (SELECT *, 't' || (user_id % 4)::VARCHAR AS tbl FROM flat
       |       WHERE op <> 'r'),
       |f3 AS (SELECT * FROM f2 WHERE tbl IN ('t0', 't1', 't3')),
       |mhalf AS (
       |  SELECT tbl, lsn_long * 2 AS ord,
       |    CASE WHEN op = 'u_pk' THEN 'd' ELSE op END AS eff_op,
       |    CASE WHEN op IN ('d','u_pk') THEN pk_before ELSE pk_after END AS pk,
       |    CASE WHEN op IN ('d','u_pk') THEN NULL ELSE after_value END AS value
       |  FROM f3 WHERE op <> 't'
       |  UNION ALL
       |  SELECT tbl, lsn_long * 2 + 1, 'c', pk_after, after_value
       |  FROM f3 WHERE op = 'u_pk'),
       |mcut AS (
       |  SELECT tbl, max(lsn_long * 2 + 1) AS tmax FROM f3
       |  WHERE op = 't' GROUP BY tbl),
       |mlive AS (
       |  SELECT h.* FROM mhalf h LEFT JOIN mcut c ON h.tbl = c.tbl
       |  WHERE h.ord > coalesce(c.tmax, -1)),
       |mstate AS (
       |  SELECT tbl, pk, max_by(eff_op, ord) AS last_op,
       |    max_by(value, ord) AS last_value
       |  FROM mlive GROUP BY 1, 2)
       |SELECT 'CREEK.testdb.wal.public.' || tbl AS topic, tbl, pk,
       |  round(last_value, 2) AS value
       |FROM mstate WHERE last_op <> 'd' ORDER BY tbl, pk""".stripMargin

  /** c39's ground truth: full replay over the EVOLVED schema — the added
    * column is non-null exactly for rows whose LAST write carries an
    * after image past the evolution cut (mn + (mx−mn)·3/5, the same
    * arithmetic the Scala lane uses; both sides divide non-negatives).
    */
  private lazy val jdbcEvolutionOracle: String =
    s"""WITH $sqlEnv, $sqlFlat,
       |m AS (SELECT min(lsn_long) AS mn, max(lsn_long) AS mx FROM flat),
       |f2 AS (SELECT *,
       |  CASE WHEN lsn_long > (SELECT mn + (mx - mn) * 3 // 5 FROM m)
       |        AND pk_after IS NOT NULL
       |       THEN 's' || (pk_after % 3)::VARCHAR END AS src
       |  FROM flat),
       |ehalf AS (
       |  SELECT lsn_long * 2 AS ord,
       |    CASE WHEN op = 'u_pk' THEN 'd' ELSE op END AS eff_op,
       |    CASE WHEN op IN ('d','u_pk') THEN pk_before ELSE pk_after END AS pk,
       |    CASE WHEN op IN ('d','u_pk') THEN NULL ELSE after_value END AS value,
       |    CASE WHEN op IN ('d','u_pk') THEN NULL ELSE src END AS src
       |  FROM f2 WHERE op <> 't'
       |  UNION ALL
       |  SELECT lsn_long * 2 + 1, 'c', pk_after, after_value, src
       |  FROM f2 WHERE op = 'u_pk'),
       |ecut AS (
       |  SELECT coalesce(max(lsn_long * 2 + 1), -1) AS tmax
       |  FROM f2 WHERE op = 't'),
       |elive AS (SELECT * FROM ehalf WHERE ord > (SELECT tmax FROM ecut)),
       |estate AS (
       |  SELECT pk, max(ord) AS last_ord,
       |    max_by(eff_op, ord) AS last_op,
       |    max_by(value, ord) AS last_value,
       |    max_by(src, ord) AS last_src
       |  FROM elive GROUP BY pk)
       |SELECT pk, round(last_value, 2) AS value, last_ord, last_src AS src
       |FROM estate WHERE last_op <> 'd' ORDER BY pk""".stripMargin

  /** c38's ground truth: the same leaf→root collapse recomputed from
    * events — user_id mod 4 picks the leaf, leaves 0/1/3 are partitions
    * of `prices`, 2 is the plain `quotes`; replica keyed by (root, pk).
    */
  private lazy val partitionRootOracle: String =
    s"""WITH $sqlEnv, $sqlFlat,
       |f2 AS (SELECT *, CASE WHEN user_id % 4 = 2 THEN 'quotes'
       |                      ELSE 'prices' END AS tbl
       |       FROM flat WHERE op <> 'r'),
       |mhalf AS (
       |  SELECT tbl, lsn_long * 2 AS ord,
       |    CASE WHEN op = 'u_pk' THEN 'd' ELSE op END AS eff_op,
       |    CASE WHEN op IN ('d','u_pk') THEN pk_before ELSE pk_after END AS pk,
       |    CASE WHEN op IN ('d','u_pk') THEN NULL ELSE after_value END AS value
       |  FROM f2 WHERE op <> 't'
       |  UNION ALL
       |  SELECT tbl, lsn_long * 2 + 1, 'c', pk_after, after_value
       |  FROM f2 WHERE op = 'u_pk'),
       |mcut AS (
       |  SELECT tbl, max(lsn_long * 2 + 1) AS tmax FROM f2
       |  WHERE op = 't' GROUP BY tbl),
       |mlive AS (
       |  SELECT h.* FROM mhalf h LEFT JOIN mcut c ON h.tbl = c.tbl
       |  WHERE h.ord > coalesce(c.tmax, -1)),
       |mstate AS (
       |  SELECT tbl, pk, max_by(eff_op, ord) AS last_op,
       |    max_by(value, ord) AS last_value
       |  FROM mlive GROUP BY 1, 2)
       |SELECT 'CREEK.testdb.wal.public.' || tbl AS topic, tbl, pk,
       |  round(last_value, 2) AS value
       |FROM mstate WHERE last_op <> 'd' ORDER BY tbl, pk""".stripMargin

  /** Ground truth for c36 AND s14: the delta-maintained view must equal
    * the same GROUP BY recomputed over the fully-replayed replica —
    * cents are integers, so any drift in the incremental ± accumulation
    * breaks the hash.
    */
  private lazy val incrementalViewOracle: String =
    s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")}
       |SELECT pk % 10 AS grp, count(*)::BIGINT AS n_rows,
       |  sum(CAST(round(last_value * 100) AS BIGINT))::BIGINT AS sum_cents
       |FROM state WHERE last_op <> 'd'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val snapshotPlusWalOracle: String =
    s"""WITH $sqlEnv, $sqlFlat,
       |sc AS (SELECT coalesce(max(lsn_long), -1) AS s FROM flat
       |       WHERE tx_at < TIMESTAMP '2024-01-20'),
       |${Apply.sqlApply("snap_", "lsn_long <= (SELECT s FROM sc)")},
       |snaprows AS (
       |  SELECT (SELECT s FROM sc) * 2 + 1 AS ord, 'c' AS eff_op, pk,
       |         last_value AS value
       |  FROM snap_state WHERE last_op <> 'd'),
       |${Apply.sqlApply("wal_", "lsn_long > (SELECT s FROM sc)")},
       |merged AS (SELECT ord, eff_op, pk, value FROM snaprows
       |           UNION ALL SELECT ord, eff_op, pk, value FROM wal_half),
       |mlive AS (SELECT * FROM merged WHERE ord > (SELECT tmax FROM wal_cut)),
       |mstate AS (
       |  SELECT pk, max_by(eff_op, ord) AS last_op,
       |         max_by(value, ord) AS last_value
       |  FROM mlive GROUP BY pk)
       |SELECT pk, round(last_value, 2) AS value
       |FROM mstate WHERE last_op <> 'd' ORDER BY pk""".stripMargin

  val oracle: Map[String, String] = Map(
    "c48_conflict_audit" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |k AS (
         |  SELECT user_id,
         |    count(DISTINCT lsn_long % 3)::BIGINT AS n_pubs,
         |    max(lsn_long) AS max_lsn
         |  FROM flat GROUP BY 1)
         |SELECT (max_lsn % 3)::INT AS pub, count(*)::BIGINT AS n_keys_won,
         |  sum(CASE WHEN n_pubs > 1 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_contested,
         |  round(sum(CASE WHEN n_pubs > 1 THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 4) AS contest_rate
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "c46_wal_retention_audit" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |hor AS (
         |  SELECT coalesce(max(lsn_long), -1) AS horizon FROM flat
         |  WHERE tx_at < TIMESTAMP '2024-01-15')
         |SELECT lsn_long // 1000 AS seg_id, count(*)::BIGINT AS n_ops,
         |  sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END)::BIGINT AS n_insert,
         |  sum(CASE WHEN op IN ('u', 'u_pk') THEN 1 ELSE 0 END)::BIGINT
         |    AS n_update,
         |  sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END)::BIGINT AS n_delete,
         |  min(lsn_long) AS min_lsn, max(lsn_long) AS max_lsn,
         |  max(lsn_long) <= (SELECT horizon FROM hor) AS prunable
         |FROM flat GROUP BY 1 ORDER BY 1""".stripMargin,
    "c45_watermark_merge" ->
      s"""WITH $sqlEnv, $sqlFlat,
        |p AS (SELECT lsn_long, user_id % 3 AS pub FROM flat),
        |span AS (SELECT min(lsn_long) AS lo, max(lsn_long) AS hi FROM p),
        |deliv AS (
        |  SELECT pub, lsn_long FROM p, span
        |  WHERE lsn_long <= hi - pub * ((hi - lo) // 20)),
        |wm AS (SELECT pub, max(lsn_long) AS watermark FROM deliv GROUP BY 1),
        |fr AS (SELECT min(watermark) AS frontier FROM wm)
        |SELECT pub::INT AS pub,
        |  ${sqlLsnStr("max(lsn_long)")} AS watermark_lsn,
        |  count(*)::BIGINT AS n_delivered,
        |  sum((lsn_long <= frontier)::BIGINT)::BIGINT AS n_emittable,
        |  (count(*) - sum((lsn_long <= frontier)::BIGINT))::BIGINT AS n_held,
        |  ${sqlLsnStr("min(frontier)")} AS frontier_lsn
        |FROM deliv, fr GROUP BY pub ORDER BY pub""".stripMargin,
    "c44_tx_boundary" ->
      s"""WITH $sqlEnv, $sqlFlat,
        |tx AS (
        |  SELECT *, ((lsn_long + 6) // 7) * 7 AS tx_commit_lsn FROM flat)
        |SELECT tx_commit_lsn, count(*)::BIGINT AS n_ops,
        |  min(lsn_long) AS first_lsn, max(lsn_long) AS last_lsn,
        |  count(DISTINCT user_id)::BIGINT AS n_keys,
        |  sum((op = 'c')::BIGINT)::BIGINT AS n_insert,
        |  sum((op IN ('u','u_pk'))::BIGINT)::BIGINT AS n_update,
        |  sum((op = 'd')::BIGINT)::BIGINT AS n_delete,
        |  round(sum(coalesce(after_value, 0.0)), 2) AS tx_value,
        |  ${sqlLsnStr("tx_commit_lsn")} AS commit_lsn
        |FROM tx GROUP BY tx_commit_lsn ORDER BY tx_commit_lsn""".stripMargin,
    "c43_replica_audit" ->
      s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")},
        |src AS (
        |  SELECT pk, last_value FROM state WHERE last_op <> 'd'),
        |rep AS (
        |  SELECT pk, CASE WHEN pk % 16 = 5 THEN last_value + 0.01
        |    ELSE last_value END AS last_value FROM src),
        |ss AS (
        |  SELECT pk % 16 AS bucket, count(*)::BIGINT AS s_n,
        |    sum(round(last_value * 100)::BIGINT) AS s_cents,
        |    sum(pk) AS s_pks
        |  FROM src GROUP BY 1),
        |rs AS (
        |  SELECT pk % 16 AS bucket, count(*)::BIGINT AS r_n,
        |    sum(round(last_value * 100)::BIGINT) AS r_cents,
        |    sum(pk) AS r_pks
        |  FROM rep GROUP BY 1)
        |SELECT bucket, s_n, r_n, (s_n = r_n)::INT AS rows_match,
        |  (s_cents = r_cents AND s_pks = r_pks)::INT AS checksum_match
        |FROM ss JOIN rs USING (bucket) ORDER BY bucket""".stripMargin,
    "c42_idle_heartbeat" ->
      s"""WITH $sqlEnv, $sqlFlat,
        |sparse AS (
        |  SELECT tx_at FROM flat
        |  WHERE coalesce(pk_after, pk_before) % 100 = 0)
        |SELECT epoch_us(to_timestamp(
        |    floor(epoch(tx_at) / 21600) * 21600)) AS window_start_us,
        |  count(*)::BIGINT AS n
        |FROM sparse GROUP BY 1 ORDER BY 1""".stripMargin,
    "c41_apply_skew" ->
      s"""WITH $sqlEnv, $sqlFlat,
        |b AS (
        |  SELECT coalesce(pk_after, pk_before) % 64 AS bucket,
        |    count(*)::BIGINT AS n
        |  FROM flat WHERE coalesce(pk_after, pk_before) IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT avg(n) AS avg_n FROM b)
        |SELECT bucket, n, round(n / avg_n, 4) AS skew,
        |  (n > avg_n * 2)::INT AS hot
        |FROM b, a ORDER BY bucket""".stripMargin,
    "c40_snapshot_diff" ->
      """WITH src0 AS (
        |  SELECT o_custkey,
        |    (sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100) / 100.0 AS amt
        |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
        |src AS (
        |  SELECT o_custkey AS key, amt FROM src0
        |  UNION ALL
        |  SELECT o_custkey + 1000000, amt FROM src0 WHERE o_custkey % 7 = 0),
        |v2 AS (
        |  SELECT coalesce(c_custkey, key) AS key,
        |    round(coalesce(c_acctbal, 0) + coalesce(amt, 0), 2) AS bal_after
        |  FROM customer FULL JOIN src ON c_custkey = key),
        |v2f AS (SELECT * FROM v2 WHERE bal_after >= 0),
        |v1 AS (SELECT c_custkey AS key, c_acctbal AS bal_before FROM customer),
        |j AS (
        |  SELECT coalesce(v1.key, v2f.key) AS c_custkey, bal_before, bal_after,
        |    CASE WHEN bal_before IS NULL THEN 'c'
        |         WHEN bal_after IS NULL THEN 'd' ELSE 'u' END AS op
        |  FROM v1 FULL JOIN v2f ON v1.key = v2f.key)
        |SELECT op, c_custkey, bal_before, bal_after FROM j
        |WHERE op <> 'u' OR bal_before <> bal_after
        |ORDER BY op, c_custkey""".stripMargin,
    "c01_lsn_roundtrip" ->
      s"""SELECT event_id, (event_id + 1) * 5000000000 AS big_lsn,
         |  ${sqlLsnStr("(event_id + 1) * 5000000000")} AS lsn_str,
         |  ('0x' || split_part(${sqlLsnStr("(event_id + 1) * 5000000000")}, '/', 1))::BIGINT * 4294967296
         |    + ('0x' || split_part(${sqlLsnStr("(event_id + 1) * 5000000000")}, '/', 2))::BIGINT AS parsed
         |FROM events WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin,
    "c02_wal_envelope" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT lsn_long, ${sqlLsnStr("lsn_long")} AS lsn, op,
         |  'public.events' AS tbl, pk_before, pk_after, after_value,
         |  epoch_us(tx_at) AS tx_at_us, lsn_long AS tx_id
         |FROM flat ORDER BY lsn_long""".stripMargin,
    "c03_stream_from" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |f AS (SELECT coalesce(max(lsn_long), -1) AS from_lsn FROM flat
         |      WHERE tx_at < TIMESTAMP '2024-01-15')
         |SELECT op, count(*)::BIGINT AS n,
         |  min(lsn_long) AS min_lsn_long, max(lsn_long) AS max_lsn_long,
         |  ${sqlLsnStr("min(lsn_long)")} AS min_lsn
         |FROM flat WHERE lsn_long > (SELECT from_lsn FROM f)
         |GROUP BY op ORDER BY op""".stripMargin,
    "c04_apply_latest" -> applyLatestOracle,
    // c33 replays the SAME rows through the JDBC edge, so full-replay
    // equivalence is the contract: its oracle IS c04's
    "c33_jdbc_source" -> applyLatestOracle,
    "s15_jdbc_stream" -> applyLatestOracle,
    // c13 runs the SAME apply through flatMapGroupsWithState under
    // Structured Streaming — c04's oracle verbatim is the contract
    // (converted from rows-only, r13)
    "c13_stream_apply" -> applyLatestOracle,
    // c17's registry seeding is deterministic (even-indexed tables gain
    // exactly added_v2 as a second version), so the evolution diff has
    // a closed-form oracle — c01's class: the SQL encodes the EXPECTED
    // semantics (2 versions and added_cols='added_v2' iff even index,
    // nothing ever removed), so a drift in registry ordering, JSON
    // field extraction, or the array diff breaks the hash (converted
    // from rows-only, r13)
    "c17_schema_evolution" ->
      """WITH t(tbl, idx) AS (VALUES
        |  ('region', 0), ('nation', 1), ('customer', 2), ('supplier', 3),
        |  ('part', 4), ('orders', 5), ('lineitem', 6), ('events', 7),
        |  ('documents', 8), ('embeddings', 9))
        |SELECT 'testdb.public.' || tbl AS subject,
        |  (CASE WHEN idx % 2 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_versions,
        |  CASE WHEN idx % 2 = 0 THEN 'added_v2' ELSE '' END AS added_cols,
        |  '' AS removed_cols
        |FROM t ORDER BY subject""".stripMargin,
    // c14's codec is transparent by construction: the decoded rows must
    // BE the flat envelope's non-truncate events projected to pk/value
    // with both framing flags true — all SQL-recomputable (converted, r13)
    "c14_avro_roundtrip" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT lsn_long, op, coalesce(pk_after, pk_before) AS pk,
         |  after_value AS value, epoch_us(tx_at) AS tx_at_us,
         |  TRUE AS magic_ok, TRUE AS fp_ok
         |FROM flat WHERE op <> 't' ORDER BY lsn_long""".stripMargin,
    "c39_jdbc_evolution" -> jdbcEvolutionOracle,
    "c05_apply_upk" ->
      s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")}
         |SELECT pk, round(last_value, 2) AS value, last_ord
         |FROM state WHERE last_op <> 'd' AND pk >= 100000 ORDER BY pk""".stripMargin,
    "c06_truncate_replay" ->
      s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")}
         |SELECT (SELECT tmax FROM cut) AS trunc_ord,
         |  (SELECT count(*) FROM live)::BIGINT AS n_ops_after,
         |  (SELECT count(DISTINCT pk) FROM live)::BIGINT AS n_keys_after,
         |  (SELECT count(*) FROM state WHERE last_op <> 'd')::BIGINT AS n_rows_final""".stripMargin,
    "c07_snapshot_header" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT 't' || (user_id % 4)::VARCHAR AS tbl,
         |  count(*)::BIGINT AS approx_rows,
         |  max(lsn_long) AS max_lsn_long,
         |  epoch_us(max(tx_at)) AS at_us,
         |  ${sqlLsnStr("max(lsn_long)")} AS lsn
         |FROM flat WHERE tx_at < TIMESTAMP '2024-01-20'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c08_snapshot_plus_wal" -> snapshotPlusWalOracle,
    "c23_snapshot_wire_replay" -> snapshotPlusWalOracle,
    "c26_snapshot_producer_protocol" -> snapshotPlusWalOracle,
    "c29_snapshot_request" -> snapshotPlusWalOracle,
    // c35 replays the SAME rows through the multi-table wire stream, so
    // its oracle is c30's over the pgoutput-carriable ops (no 'r')
    "c30_multi_table_apply" -> multiTableOracle(""),
    "c35_multi_table_stream" -> multiTableOracle("WHERE op <> 'r'"),
    "c37_daemon_e2e" -> daemonE2eOracle,
    "c38_partition_root" -> partitionRootOracle,
    // c36: the delta-maintained view must equal the same GROUP BY
    // recomputed over the fully-replayed replica — cents are integers,
    // so any drift in the incremental ± accumulation breaks the hash
    "c36_incremental_view" -> incrementalViewOracle,
    // s14 runs the same engine under foreachBatch on the same rows
    "s14_streaming_view" -> incrementalViewOracle,
    "c27_publication_routing" -> Publication.oracle,
    "c28_chunk_recovery" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT lsn_long, op, coalesce(pk_after, pk_before) AS pk,
         |  after_value AS value
         |FROM flat WHERE op <> 't'
         |  AND lsn_long % 997 <> 0 AND lsn_long % 991 <> 0
         |ORDER BY lsn_long""".stripMargin,
    "c09_list_snapshots" ->
      """SELECT 'CREEK_SNAP.public.events.'
        |    || strftime(max(ts::TIMESTAMP), '%Y%m%d%H%M%S_%f') AS snap_name,
        |  epoch_us(max(ts::TIMESTAMP)) AS at_us,
        |  count(*)::BIGINT AS n_rows,
        |  count(*)::BIGINT + 2 AS n_messages
        |FROM events GROUP BY ts::DATE ORDER BY snap_name""".stripMargin,
    "c10_changelog_stats" ->
      s"""WITH $sqlEnv
         |SELECT op, count(*)::BIGINT AS n,
         |  count(DISTINCT user_id)::BIGINT AS n_users,
         |  min(lsn_long) AS min_lsn, max(lsn_long) AS max_lsn,
         |  round(sum(value), 2) AS sum_value
         |FROM env GROUP BY op ORDER BY op""".stripMargin,
    "c16_wal_compaction" ->
      s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")},
         |seg AS (
         |  SELECT ord // 2000 AS segment, pk, count(*) AS n_key
         |  FROM half GROUP BY 1, 2)
         |SELECT segment, sum(n_key)::BIGINT AS n_in, count(*)::BIGINT AS n_out,
         |  round(count(*) / sum(n_key)::DOUBLE, 4) AS keep_ratio
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin,
    "c18_topic_routing" ->
      s"""WITH $sqlEnv
         |SELECT 'CREEK.testdb.wal.public.t' || (user_id % 4)::VARCHAR AS topic,
         |  count(*)::BIGINT AS n_msgs,
         |  min(lsn_long) AS min_lsn_long,
         |  max(lsn_long) AS max_lsn_long,
         |  epoch_us(max(tx_at)) AS last_sent_us,
         |  ${sqlLsnStr("min(lsn_long)")} AS first_lsn
         |FROM env GROUP BY 1 ORDER BY 1""".stripMargin,
    "c20_envelope_avro_roundtrip" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT '${AvroEnvelope.fingerprintB64}' AS fingerprint, lsn_long,
         |  ${sqlLsnStr("lsn_long")} AS lsn_str, op,
         |  epoch_us(tx_at) AS tx_at_us, epoch_us(tx_at) AS sent_at_us,
         |  lsn_long AS tx_id, 'graft' AS src_name, 'testdb' AS db,
         |  'public' AS schema_name, 'events' AS table_name,
         |  pk_before, pk_after, after_value,
         |  CASE WHEN pk_after IS NOT NULL THEN epoch_us(tx_at) END AS after_ts_us,
         |  true AS magic_ok, true AS fp_ok
         |FROM flat ORDER BY lsn_long""".stripMargin,
    "c22_pg_type_matrix" ->
      """SELECT event_id AS id,
        |  event_id % 2 = 0 AS flag,
        |  (event_id % 100)::INT AS small,
        |  (event_id % 10000)::INT AS med,
        |  ((event_id % 16) / 16.0)::DOUBLE AS ratio,
        |  CASE WHEN event_id % 53 <> 0 THEN value END AS amount,
        |  'u' || user_id::VARCHAR AS name,
        |  substr(md5(event_id::VARCHAR), 1, 8) || '-'
        |    || substr(md5(event_id::VARCHAR), 9, 4) || '-'
        |    || substr(md5(event_id::VARCHAR), 13, 4) || '-'
        |    || substr(md5(event_id::VARCHAR), 17, 4) || '-'
        |    || substr(md5(event_id::VARCHAR), 21, 12) AS u,
        |  '{"k":' || (event_id % 10)::VARCHAR || '}' AS doc,
        |  ((event_id * 10007) % 1000000) * 100 AS num_unscaled,
        |  CASE WHEN event_id % 97 <> 0 AND event_id % 89 <> 0
        |    THEN (ts::TIMESTAMP::DATE - DATE '1970-01-01')::INT END AS d_days,
        |  CASE WHEN event_id % 97 = 0 THEN 'infinity'
        |       WHEN event_id % 89 = 0 THEN '-infinity' END AS d_inf,
        |  epoch_us(ts::TIMESTAMP) - epoch_us(ts::TIMESTAMP::DATE::TIMESTAMP) AS t_us,
        |  CASE WHEN event_id % 101 <> 0 AND event_id % 103 <> 0
        |    THEN epoch_us(ts::TIMESTAMP) END AS ts_us,
        |  CASE WHEN event_id % 101 = 0 THEN 'infinity'
        |       WHEN event_id % 103 = 0 THEN '-infinity' END AS ts_inf,
        |  'a' || (event_id % 3)::VARCHAR || ',b' || (event_id % 5)::VARCHAR AS tags_str,
        |  (event_id % 7)::VARCHAR || ',' || (event_id % 11)::VARCHAR
        |    || ',' || (event_id % 13)::VARCHAR AS nums_str,
        |  true AS magic_ok, true AS fp_ok
        |FROM events ORDER BY id""".stripMargin,
    "c24_evolution_decode" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT lsn_long, coalesce(pk_after, pk_before) AS pk,
         |  after_value AS value,
         |  CASE WHEN lsn_long % 3 = 0
         |    THEN 'v2:' || coalesce(pk_after, pk_before)::VARCHAR END AS src,
         |  CASE WHEN lsn_long % 3 = 0 THEN 2 ELSE 1 END::INT AS writer_version,
         |  true AS fp_ok
         |FROM flat WHERE op <> 't' ORDER BY lsn_long""".stripMargin,
    "c21_redelivery_dedup" ->
      s"""WITH $sqlEnv, $sqlFlat, ${Apply.sqlApply("", "")},
         |state2 AS (
         |  SELECT pk, max(ord) AS last_ord,
         |         max_by(eff_op, ord) AS last_op,
         |         max_by(value, ord) AS last_value,
         |         count(*)::BIGINT AS n_half
         |  FROM live GROUP BY pk)
         |SELECT pk, round(last_value, 2) AS value, last_ord, n_half
         |FROM state2 WHERE last_op <> 'd' ORDER BY pk""".stripMargin,
    "c32_config_gating" ->
      s"""WITH $sqlEnv
         |SELECT 'CREEK.testdb.wal.public.t' || (user_id % 4)::VARCHAR AS topic,
         |  count(*)::BIGINT AS n_msgs,
         |  max(lsn_long) AS max_lsn_long,
         |  epoch_us(max(tx_at)) AS last_sent_us
         |FROM env WHERE user_id % 4 IN (0, 1, 3)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c31_standby_status" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |seg AS (
         |  SELECT lsn_long,
         |    row_number() OVER (PARTITION BY lsn_long // 2048
         |                       ORDER BY lsn_long) AS rn
         |  FROM flat WHERE op <> 'r')
         |SELECT lsn_long AS wal_write, lsn_long AS wal_flush,
         |  lsn_long AS wal_apply, ${sqlLsnStr("lsn_long")} AS lsn_str,
         |  false AS reply_requested
         |FROM seg WHERE rn % 97 = 0 ORDER BY wal_write""".stripMargin,
    // c34: each retention setting must land on the identical replica —
    // the oracle computes the three floors (age arithmetic on the publish
    // clock; msgs/bytes as suffix order statistics), derives the gap flag
    // against the stale consumer position, and crosses them with the
    // FULL-replay state: a hash match proves retained-store replay ≡ full
    // replay for every setting that keeps the snapshot LSN.
    "c34_retention" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |m AS (SELECT min(lsn_long) AS mn, max(lsn_long) AS mx FROM flat),
         |sc AS (SELECT coalesce(max(lsn_long), -1) AS s FROM flat
         |       WHERE tx_at < TIMESTAMP '2024-01-20'),
         |ob AS (
         |  SELECT lsn_long,
         |    row_number() OVER (ORDER BY lsn_long DESC) AS rnd,
         |    sum(64 + length(op)) OVER (ORDER BY lsn_long DESC) AS cumb
         |  FROM flat),
         |floors AS (
         |  SELECT 'max_age_150m' AS setting,
         |    (SELECT min(lsn_long) FROM flat
         |     WHERE lsn_long >= (SELECT mx FROM m) - 9000) AS fl
         |  UNION ALL
         |  SELECT 'max_msgs_5000',
         |    coalesce((SELECT min(lsn_long) FROM ob WHERE rnd <= 5000),
         |             (SELECT mx + 1 FROM m))
         |  UNION ALL
         |  SELECT 'max_bytes_400k',
         |    coalesce((SELECT min(lsn_long) FROM ob WHERE cumb <= 400000),
         |             (SELECT mx + 1 FROM m))),
         |${Apply.sqlApply("", "")}
         |SELECT f.setting,
         |  f.fl > greatest((SELECT s FROM sc), 0) // 2 + 1 AS gap_detected,
         |  st.pk, st.value
         |FROM floors f CROSS JOIN (
         |  SELECT pk, round(last_value, 2) AS value
         |  FROM state WHERE last_op <> 'd') st
         |ORDER BY setting, pk""".stripMargin,
    "x14_replication_lag" ->
      s"""WITH $sqlEnv, $sqlFlat,
         |nr AS (
         |  SELECT lsn_long, epoch_us(tx_at) AS t_us,
         |    row_number() OVER (PARTITION BY lsn_long // 2048
         |                       ORDER BY lsn_long) AS rn
         |  FROM flat WHERE op <> 'r'),
         |head AS (
         |  SELECT max(lsn_long) AS h_lsn, max(epoch_us(tx_at)) AS h_us
         |  FROM flat WHERE op <> 'r')
         |SELECT lsn_long AS wal_lsn, ${sqlLsnStr("lsn_long")} AS wal_lsn_str,
         |  h_lsn - lsn_long AS behind_lsn,
         |  (h_us - t_us) // 1000 AS behind_time_ms
         |FROM nr, head WHERE rn % 97 = 0 ORDER BY wal_lsn""".stripMargin,
    "c25_pgoutput_decode" ->
      s"""WITH $sqlEnv, $sqlFlat
         |SELECT lsn_long, ${sqlLsnStr("lsn_long")} AS lsn_str, op,
         |  lsn_long AS tx_id, epoch_us(tx_at) AS tx_at_us,
         |  'public' AS schema_name, 'events' AS table_name,
         |  pk_before,
         |  (CASE WHEN op IN ('u','u_pk','d') THEN 1 END)::INT AS n_before_cols,
         |  pk_after, after_value,
         |  CASE WHEN pk_after IS NOT NULL THEN epoch_us(tx_at) END AS after_ts_us
         |FROM flat WHERE op <> 'r' ORDER BY lsn_long""".stripMargin,
    "c19_wal_gaps" ->
      s"""WITH $sqlEnv,
         |seq AS (
         |  SELECT 'CREEK.testdb.wal.public.t' || (user_id % 4)::VARCHAR AS topic,
         |    lsn_long,
         |    lsn_long - lag(lsn_long) OVER (PARTITION BY 'CREEK.testdb.wal.public.t' || (user_id % 4)::VARCHAR
         |                                   ORDER BY lsn_long) - 1 AS gap
         |  FROM env WHERE lsn_long % 101 <> 0)
         |SELECT topic, count(*)::BIGINT AS n_msgs,
         |  sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END)::BIGINT AS n_gaps,
         |  coalesce(sum(CASE WHEN gap > 0 THEN gap END), 0)::BIGINT AS missing_lsns,
         |  max(gap) AS max_gap,
         |  sum(CASE WHEN gap < 0 THEN 1 ELSE 0 END)::BIGINT AS n_out_of_order
         |FROM seq GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
