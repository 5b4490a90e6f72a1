package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._
import graft.functions.Lsn
import org.apache.spark.unsafe.types.UTF8String

class CdcSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A copy of `frame` whose header names writer fingerprint `fp`. */
  private def withFingerprint(frame: Array[Byte], fp: Long): Array[Byte] = {
    val out = frame.clone()
    System.arraycopy(AvroSchemaGen.fingerprintBytes(fp), 0, out, 2, 8)
    out
  }

  test("LSN parse/format matches pglogrepl semantics") {
    assert(Lsn.parse(UTF8String.fromString("16/B374D848")) == 0x16B374D848L)
    assert(Lsn.format(0x16B374D848L).toString == "16/B374D848")
    assert(Lsn.format(0L).toString == "0/0")
    val vals = Seq(1L, 0xFFFFFFFFL, 0x100000000L, 0x7FFFFFFFFFFFFFFFL)
    vals.foreach(v => assert(Lsn.parse(Lsn.format(v)) == v))
  }

  test("apply: u_pk moves rows, deletes tombstone, truncate cuts") {
    val flat = Envelope.flat(Tables.events(spark, sf))
    val live = Apply.latest(flat).collect()
    assert(live.nonEmpty)
    // every surviving key's last op is an upsert
    assert(live.forall(_.getAs[String]("last_op") != "d"))
    // u_pk-created keys exist above the shift
    assert(live.exists(_.getAs[Long]("pk") >= Envelope.UpkShift))
  }

  test("snapshot+wal equals full replay") {
    val flat = Envelope.flat(Tables.events(spark, sf))
    val snapLsn = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s"))
    val merged = Apply.snapshotPlusWal(flat, snapLsn)
      .select("pk", "last_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val full = Apply.latest(flat)
      .select("pk", "last_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(merged == full)
  }

  test("CDC apply is shuffle-once-per-key: replay, snapshot ⊕ WAL, resume") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val flat = Envelope.flat(Tables.events(spark, sf))
    val snapLsn = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s"))
    val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    Seq(
      "latest" -> Apply.latest(flat),
      "snapshotPlusWal" -> Apply.snapshotPlusWal(flat, snapLsn),
      "resumeReplay" -> Retention.resumeReplay(flat, mn + (mx - mn) / 3, mn + (mx - mn) / 2)
    ).foreach { case (name, df) =>
      // AQE's empty-relation propagation drops a stage that ran and
      // returned no rows from the final plan (snapshotPlusWal's cut of
      // a truncate-free WAL tail); without it the plan keeps every stage
      val emptyRule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
      spark.conf.set("spark.sql.adaptive.optimizer.excludedRules", emptyRule)
      val ran =
        try PlanWalk.scheduled(spark)(df.collect())._2
        finally spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
      val plan = df.queryExecution.executedPlan
      val exchanges = PlanWalk.allNodes(plan).collect { case e: ShuffleExchangeLike => e }
      val byPk = exchanges.map(_.outputPartitioning).collect {
        case HashPartitioning(Seq(a: AttributeReference), _) if a.name == "pk" => a
      }
      assert(byPk.length == 1, s"$name: ${byPk.length} pk-keyed shuffles\n$plan")
      // the stages the scheduler submitted: no shuffle ran unseen
      assert(ran.mapStages <= exchanges.length,
        s"$name: ${ran.mapStages} shuffle map stages ran, the final plan " +
          s"shows ${exchanges.length} exchanges\n$plan")
    }
  }

  test("avro schema fingerprint is deterministic and discriminating") {
    val s1 = Tables.customer(spark, sf).schema
    val s2 = Tables.orders(spark, sf).schema
    val f1a = AvroSchemaGen.fingerprint64(s1, "customer")
    val f1b = AvroSchemaGen.fingerprint64(s1, "customer")
    val f2 = AvroSchemaGen.fingerprint64(s2, "orders")
    assert(f1a == f1b)
    assert(f1a != f2)
    // known Avro spec CRC-64-AVRO fingerprint of "int" canonical form
    val intFp = AvroSchemaGen.fingerprint64(AvroSchemaGen.parse("\"int\""))
    assert(AvroSchemaGen.fingerprintHex(intFp) == "7275d51a3f395c8f")
  }

  test("avro roundtrip preserves every record and the framing") {
    val flat = Envelope.flat(Tables.events(spark, sf))
    val decoded = CdcQueries.c14_avro_roundtrip(spark, sf).collect()
    assert(decoded.nonEmpty)
    assert(decoded.forall(d => d.getAs[Boolean]("magic_ok") && d.getAs[Boolean]("fp_ok")))
    val orig = flat.filter(col("op") =!= "t")
      .select(col("lsn_long"), col("op"), coalesce(col("pk_after"), col("pk_before")),
        col("after_value"), unix_micros(col("tx_at")))
      .collect().map(_.toSeq).toSet
    val got = decoded.map(_.toSeq.take(5)).toSet
    assert(got == orig)
  }

  test("streaming apply equals batch apply (truncates included)") {
    // r13: the stream now carries truncates as sentinel-key half-events
    // and applies the liveEvents cut in the snapshot, so the contract is
    // FULL equality with the truncate-aware batch apply (c04's oracle)
    val batch = Apply.latest(Envelope.flat(Tables.events(spark, sf)))
      .select(col("pk"), round(col("last_value"), 2).as("value"), col("last_ord"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val streamed = StreamApply.run(spark, sf, s"apply_spec_${System.nanoTime()}")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming apply honors a LATE truncate (the sf1 divergence class)") {
    // At small sf every key has post-truncate activity, so ignoring
    // truncates is invisible (the pre-r13 defect the c04-oracle
    // conversion caught at sf1). Plant the last truncate near the END
    // of a small log so it actually wipes keys, and pin both engines.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_c13t")
    try {
      // remap event_ids: 900 → 5004 (a % 5003 == 1 truncate, late in
      // lsn order), 990+ → +5010 (a small post-truncate tail)
      val ev = Tables.events(spark, sf)
        .filter(col("event_id") < 1000)
        .withColumn("event_id",
          when(col("event_id") === 900, lit(5004L))
            .when(col("event_id") >= 990, col("event_id") + 5010)
            .otherwise(col("event_id")))
      // "one": the log as one file, one micro-batch. "two": the log
      // before the truncate, then the truncate and its tail in a later
      // file, read through the glob two/{a,b}, so the horizon row
      // reaches the store a merge after the rows it cuts
      Seq("one", "two/a", "two/b").foreach(p => Files.createDirectories(dir.resolve(p)))
      graft.sources.SourceSinks.landSingleParquet(
        ev, dir.resolve("one/events.parquet"))
      graft.sources.SourceSinks.landSingleParquet(
        ev.filter(col("event_id") < 5000), dir.resolve("two/a/events.parquet"))
      val late = dir.resolve("two/b/events.parquet")
      graft.sources.SourceSinks.landSingleParquet(ev.filter(col("event_id") >= 5000), late)
      // the stream takes files in modification order
      Files.setLastModifiedTime(late, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(dir.resolve("two/a/events.parquet")).toMillis + 60000))
      val landed = spark.read.parquet(dir.resolve("one/events.parquet").toString)
      val batch = Apply.latest(Envelope.flat(landed))
        .select(col("pk"), round(col("last_value"), 2).as("value"),
          col("last_ord"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val noTrunc = Apply.latest(
        Envelope.flat(landed).filter(col("op") =!= "t"))
        .collect().length
      assert(batch.size < noTrunc,
        "the planted truncate must actually wipe keys for this test to bite")
      Seq("one", "two").foreach { layout =>
        val path = if (layout == "one") s"$dir/one" else s"$dir/two/{a,b}"
        val out = StreamApply.run(spark, path, s"apply_trunc_${System.nanoTime()}")
        val streamed = out.collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
        assert(streamed == batch,
          s"$layout: streamed state must honor the truncate horizon exactly")
        // the store committed a batch 1 iff the log ran as two micro-batches
        assert(out.inputFiles.exists(_.contains("state_v00001")) == (layout == "two"),
          s"$layout: micro-batches ${out.inputFiles.toSeq}")
      }
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("streaming apply over an empty log returns an empty replica") {
    val dir = java.nio.file.Files.createTempDirectory("graft_c13e")
    try {
      graft.sources.SourceSinks.landSingleParquet(
        Tables.load(spark, sf, "events").limit(0), dir.resolve("events.parquet"))
      val out = StreamApply.run(spark, dir.toString, s"apply_empty_${System.nanoTime()}")
      assert(out.columns.toSeq == Seq("pk", "value", "last_ord"))
      assert(out.count() == 0)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("schema registry returns latest by subject and looks up by fingerprint") {
    val reg = new SchemaRegistry(spark)
    val st = Tables.region(spark, sf).schema
    val fp1 = reg.register("db.public.region", st, 1L)
    val st2 = org.apache.spark.sql.types.StructType(
      st.fields :+ org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.StringType, nullable = true))
    val fp2 = reg.register("db.public.region", st2, 2L)
    assert(fp1 != fp2)
    assert(reg.byFingerprint(AvroSchemaGen.fingerprintHex(fp1)).isDefined)
    val latest = reg.latestBySubject().collect()
    assert(latest.length == 1)
    assert(latest.head.getAs[String]("latest_fingerprint") == AvroSchemaGen.fingerprintHex(fp2))
    assert(latest.head.getAs[Long]("n_versions") == 2L)
  }

  test("publish_message schema mirrors the reference envelope exactly") {
    import org.apache.spark.sql.types._
    val tbl = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("data", StringType, nullable = true)))
    val json = AvroSchemaGen.publishMessage(tbl, "integration_tests", Set("id"))
    val schema = AvroSchemaGen.parse(json) // must be valid Avro
    assert(schema.getName == "publish_message")
    assert(schema.getFields.size == 6)
    val names = (0 until 6).map(schema.getFields.get(_).name())
    assert(names == Seq("fingerprint", "source", "op", "sent_at", "before", "after"))
    val source = schema.getField("source").schema()
    assert((0 until source.getFields.size).map(source.getFields.get(_).name()) ==
      Seq("name", "tx_at", "db", "schema", "table", "tx_id", "lsn"))
    val op = schema.getField("op").schema()
    assert(op.getEnumSymbols.toString == "[c, u, u_pk, d, t, r]")
    // before/after: nullable unions of the row record, disambiguated by
    // namespace like the reference (messages.go:60-62)
    val before = schema.getField("before").schema().getTypes.get(1)
    val after = schema.getField("after").schema().getTypes.get(1)
    assert(before.getNamespace == "before" && after.getNamespace == "after")
    assert(before.getFields.size == 1) // replica identity only
    assert(after.getFields.size == 2)
    assert(after.getField("id").getObjectProp("pgKey") == true)
    assert(after.getField("data").getObjectProp("pgKey") == false)
    assert(after.getField("data").getObjectProp("pgType") == "text")
  }

  test("avro schema gen covers the full pg type matrix") {
    import org.apache.spark.sql.types._
    val all = StructType(Seq(
      StructField("b", BooleanType), StructField("i2", ShortType),
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("t", StringType), StructField("by", BinaryType),
      StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
      StructField("dt", DateType), StructField("num", DecimalType(18, 4)),
      StructField("arr_i", ArrayType(IntegerType)),
      StructField("arr_t", ArrayType(StringType)),
      StructField("arr_ts", ArrayType(TimestampType))))
    val json = AvroSchemaGen.record(all, "types", "graft", Set("i4"))
    val schema = AvroSchemaGen.parse(json)
    assert(schema.getFields.size == all.fields.length)
    assert(schema.getField("num").schema().getTypes.get(1).getType.getName == "string")
    assert(schema.getField("num").getObjectProp("pgType") == "numeric")
    assert(schema.getField("arr_i").getObjectProp("pgType") == "_int4")
    assert(schema.getField("ts").getObjectProp("pgType") == "timestamptz")
    // key column keeps its base type; non-key columns are null-prepended
    // unions REGARDLESS of Catalyst nullability (pgtype.go:123-131)
    assert(schema.getField("i4").schema().getType == org.apache.avro.Schema.Type.INT)
    val declaredNonNull = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val nnSchema = AvroSchemaGen.parse(
      AvroSchemaGen.record(declaredNonNull, "nn", "graft", Set("k")))
    assert(nnSchema.getField("k").schema().getType == org.apache.avro.Schema.Type.LONG)
    assert(nnSchema.getField("v").schema().getType == org.apache.avro.Schema.Type.UNION)
    // fingerprint deterministic + prop-independent (canonical form strips
    // the pgKey/pgType props)
    val fp1 = AvroSchemaGen.fingerprint64(schema)
    val stripped = AvroSchemaGen.record(all, "types", "graft", Set("i4"))
      .replaceAll(""","pgKey":(true|false),"pgType":"[^"]*"""", "")
    assert(fp1 == AvroSchemaGen.fingerprint64(AvroSchemaGen.parse(stripped)))
  }

  test("c20 full envelope roundtrips every field through the wire format") {
    implicit val s = spark
    val flat = Envelope.flat(Tables.events(spark, sf))
    val decoded = AvroEnvelope.roundtrip(flat).collect()
    assert(decoded.nonEmpty)
    // framing + fingerprint dispatch held on every message
    assert(decoded.forall(d => d.magic_ok && d.fp_ok))
    // envelope fingerprint FIELD is the base64-url of the 8 wire bytes
    assert(decoded.forall(_.fingerprint == AvroEnvelope.fingerprintB64))
    // truncates flow through with null before/after, like the reference
    val ts = decoded.filter(_.op == "t")
    assert(ts.nonEmpty && ts.forall(d => d.pk_before.isEmpty && d.pk_after.isEmpty))
    // before present iff the op has a before image; after iff an after image
    assert(decoded.forall(d => d.pk_before.isDefined == Set("u", "u_pk", "d")(d.op)))
    assert(decoded.forall(d => d.pk_after.isDefined == Set("c", "u", "r", "u_pk")(d.op)))
    // field-by-field equality with the input envelope
    val in = AvroEnvelope.envRecords(flat).collect()
      .map(r => (r.lsn_long, r.op, r.tx_at_us, r.pk_before, r.pk_after, r.after_value)).toSet
    val out = decoded
      .map(d => (d.lsn_long, d.op, d.tx_at_us, d.pk_before, d.pk_after, d.after_value)).toSet
    assert(out == in)
    // source record fields round-trip (lsn string reparses to the long)
    assert(decoded.forall(d => d.tx_id == d.lsn_long && d.sent_at_us == d.tx_at_us &&
      d.db == "testdb" && d.schema_name == "public" && d.table_name == "events"))
    // a message framed under a different schema fingerprint is rejected
    val codec = AvroEnvelope.codec()
    val one = AvroEnvelope.envRecords(flat).head()
    val bytes = withFingerprint(AvroEnvelope.encodeOne(codec, one), codec.fingerprint + 1)
    assert(!AvroEnvelope.decodeOne(codec, bytes).fp_ok)
  }

  test("decoders reject payloads that are not single-object frames") {
    import org.apache.spark.sql.types._
    val env = AvroEnvelope.codec()
    val pg = new SingleObject.Codec(PgTypeAvro.schemaJson)
    val acct = new SingleObject.Codec(EvolutionDecode.v2Json,
      Map(EvolutionDecode.fpV1 -> EvolutionDecode.v1Json))
    val wal = new SingleObject.Codec(AvroSchemaGen.record(StructType(Seq(
      StructField("lsn_long", LongType, nullable = false), StructField("op", StringType),
      StructField("pk_before", LongType), StructField("pk_after", LongType),
      StructField("after_value", DoubleType))), "wal", "graft"))
    // a valid frame with its magic broken: bytes 2-9 still carry the
    // decoder's own (registered) fingerprint
    def wrongMagic(frame: Array[Byte]): Array[Byte] = { val b = frame.clone(); b(0) = 0x4F; b }
    val short = Array[Byte](0xC3.toByte, 0x01, 1, 2, 3)
    def loud(bytes: Array[Byte])(decode: => Any): Unit = {
      val e = intercept[IllegalArgumentException](decode)
      val head = bytes.take(2).map(b => f"0x${b & 0xFF}%02X").mkString(" ")
      assert(e.getMessage.contains(s"${bytes.length} bytes") && e.getMessage.contains(head),
        e.getMessage)
    }
    val envBad = wrongMagic(AvroEnvelope.encodeOne(env,
      EnvRecord(1L, "c", 0L, None, Some(1L), Some(1.0))))
    val pgBad = wrongMagic(PgTypeAvro.encodeOne(pg, PgTypeAvro.PgRow(1L, flag = true, 1, 1,
      0.5f, None, "n", "u", "{}", 0L, None, None, 0L, None, None, Nil, Nil)))
    val acctBad = wrongMagic(EvolutionDecode.encodeOne(acct, 1L, 1L, Some(1.0), Some("v2:1")))
    val walBad = wrongMagic(JdbcEvolution.encodeRow(wal, 1L, "c", None, Some(1L), None, None))
    Seq(short, envBad).foreach(b => loud(b)(AvroEnvelope.decodeOne(env, b)))
    Seq(short, pgBad).foreach(b => loud(b)(PgTypeAvro.decodeOne(pg, b)))
    Seq(short, walBad).foreach(b => loud(b)(JdbcEvolution.decodeRow(wal, b)))
    // c24 skips it: the null-field skip row, never decoded data
    Seq(short, acctBad).foreach { b =>
      assert(EvolutionDecode.decodeOne(acct, b) ==
        EvolvedDecoded(None, None, None, None, writer_version = 0, fp_ok = false))
    }
  }

  test("c21 redelivery dedup restores exactly-once state (and is not vacuous)") {
    val dedup = CdcQueries.c21_redelivery_dedup(spark, sf).collect()
    val exact = CdcQueries.c04_apply_latest(spark, sf).collect()
    // same keys, values, last ords as the exactly-once replay
    assert(dedup.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet ==
      exact.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet)
    // anti-vacuity: WITHOUT the dedup the redelivered suffix double-counts
    val flat = Envelope.flat(Tables.events(spark, sf))
    val redelivered = flat.union(
      flat.filter(col("tx_at") >= lit("2024-01-20").cast("timestamp")))
    val noDedupHalf = Apply.liveEvents(redelivered).count()
    val dedupHalf = dedup.map(_.getAs[Long]("n_half")).sum
    assert(noDedupHalf > dedupHalf,
      s"redelivery not observable: $noDedupHalf vs $dedupHalf")
  }

  test("c23 snapshot-over-the-wire replay equals the in-memory merge") {
    val wire = CdcQueries.c23_snapshot_wire_replay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val mem = CdcQueries.c08_snapshot_plus_wal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(wire.nonEmpty)
    assert(wire == mem)
  }

  test("c24 writer/reader schema resolution across an added column") {
    implicit val s = spark
    val registry = Map(EvolutionDecode.fpV1 -> EvolutionDecode.v1Json,
      EvolutionDecode.fpV2 -> EvolutionDecode.v2Json)
    val rows = EvolutionDecode.roundtrip(
      Envelope.flat(Tables.events(spark, sf)), registry).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.fp_ok))
    // the two schema versions fingerprint differently (registry keys)
    assert(EvolutionDecode.fpV1 != EvolutionDecode.fpV2)
    val (v2w, v1w) = rows.partition(_.writer_version == 2)
    assert(v2w.nonEmpty && v1w.nonEmpty)
    // v1-written records gain the added column's null default
    assert(v1w.forall(_.src.isEmpty))
    // v2-written records carry their payload through resolution
    assert(v2w.forall(r => r.src.contains(s"v2:${r.pk.get}")))
    // reverse resolution: a v1 READER drops the v2-only field
    val bytes = EvolutionDecode.encodeOne(new SingleObject.Codec(EvolutionDecode.v2Json),
      99L, 7L, Some(1.5), Some("v2:7"))
    val down = EvolutionDecode.decodeOne(new SingleObject.Codec(EvolutionDecode.v1Json,
      registry), bytes)
    assert(down.lsn_long.contains(99L) && down.pk.contains(7L) &&
      down.value.contains(1.5) && down.src.isEmpty)
    // an unknown writer fingerprint surfaces fp_ok=false with every data
    // field null (no in-band sentinel values), not a crash
    val unknown = EvolutionDecode.decodeOne(
      new SingleObject.Codec(EvolutionDecode.v1Json), bytes)
    assert(!unknown.fp_ok && unknown.writer_version == 0)
    assert(unknown.lsn_long.isEmpty && unknown.pk.isEmpty &&
      unknown.value.isEmpty && unknown.src.isEmpty)
  }

  test("c22 pg-faithful schema matches the reference type mapping") {
    import org.apache.avro.Schema
    val schema = AvroSchemaGen.parse(PgTypeAvro.schemaJson) // valid Avro
    // uuid → string + logicalType uuid (pgtype.go:199-203)
    val u = schema.getField("u").schema().getTypes.get(1)
    assert(u.getType == Schema.Type.STRING && u.getProp("logicalType") == "uuid")
    // jsonb → bytes (pgtype.go:204-205)
    assert(schema.getField("doc").schema().getTypes.get(1).getType == Schema.Type.BYTES)
    // numeric(18,4) → bytes decimal with precision/scale (pgtype.go:206-215)
    val num = schema.getField("num").schema().getTypes.get(1)
    assert(num.getType == Schema.Type.BYTES && num.getProp("logicalType") == "decimal")
    assert(num.getObjectProp("precision") == 18 && num.getObjectProp("scale") == 4)
    // date → ["null", date-int, infinity_modifier] with the reference's
    // magic negative symbol (pgtype.go:10-12, 171-180)
    val d = schema.getField("d").schema()
    assert(d.getTypes.size == 3)
    assert(d.getTypes.get(1).getProp("logicalType") == "date")
    val infEnum = d.getTypes.get(2)
    assert(infEnum.getType == Schema.Type.ENUM && infEnum.getName == "infinity_modifier")
    assert(infEnum.getEnumSymbols.toString ==
      s"[${PgTypeAvro.InfSym}, ${PgTypeAvro.NegInfSym}]")
    // enum defined ONCE, referenced by name in later fields (getInf)
    val ts = schema.getField("ts").schema()
    assert(ts.getTypes.get(1).getProp("logicalType") == "timestamp-micros")
    assert(ts.getTypes.get(2) eq infEnum) // same schema object after parse
    assert(schema.getField("t").schema().getTypes.get(1).getProp("logicalType") == "time-micros")
    // plain timestamp (without tz) ALSO maps to timestamp-micros — the
    // reference handles both in one branch (pgtype.go:192-199)
    val plainTs = AvroSchemaGen.parse(PgTypeAvro.record(
      Seq(PgCol("k", "int8", key = true), PgCol("ts_plain", "timestamp"),
        PgCol("ts_tz", "timestamptz")), "tsrec", "graft"))
    for (f <- Seq("ts_plain", "ts_tz"))
      assert(plainTs.getField(f).schema().getTypes.get(1)
        .getProp("logicalType") == "timestamp-micros", f)
    // key column non-null, non-key nullable union (pgtype.go:108-131)
    assert(schema.getField("id").schema().getType == Schema.Type.LONG)
    assert(schema.getField("flag").schema().getType == Schema.Type.UNION)
    assert(schema.getField("id").getObjectProp("pgKey") == true)
    assert(schema.getField("nums").getObjectProp("pgType") == "_int4")
  }

  test("c22 roundtrip exercises every planted type branch losslessly") {
    implicit val s = spark
    val rows = PgTypeAvro.roundtrip(Tables.events(spark, sf)).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.magic_ok && r.fp_ok))
    // planted branches all present: infinities both signs, null amount
    assert(rows.exists(_.d_inf.contains("infinity")))
    assert(rows.exists(_.d_inf.contains("-infinity")))
    assert(rows.exists(_.ts_inf.contains("infinity")))
    assert(rows.exists(_.ts_inf.contains("-infinity")))
    assert(rows.exists(_.amount.isEmpty))
    // infinity and finite are mutually exclusive per field
    assert(rows.forall(r => r.d_inf.isEmpty != r.d_days.isEmpty))
    assert(rows.forall(r => r.ts_inf.isEmpty != r.ts_us.isEmpty))
    // decoded values equal the input lift field-by-field
    val in = PgTypeAvro.typedRows(Tables.events(spark, sf)).collect()
      .map(r => r.id -> r).toMap
    rows.foreach { r =>
      val i = in(r.id)
      assert(r.flag == i.flag && r.small == i.small && r.med == i.med)
      assert(r.ratio == i.ratio.toDouble && r.amount == i.amount)
      assert(r.name == i.name && r.u == i.u && r.doc == i.doc)
      assert(r.num_unscaled == i.num_unscaled)
      assert(r.d_days == i.d_days && r.d_inf == i.d_inf && r.t_us == i.t_us)
      assert(r.ts_us == i.ts_us && r.ts_inf == i.ts_inf)
      assert(r.tags_str == i.tags.mkString(",") && r.nums_str == i.nums.mkString(","))
    }
  }

  test("schema evolution diff flags exactly the v2-added column") {
    val rows = CdcQueries.c17_schema_evolution(spark, sf).collect()
    assert(rows.length == Tables.names.length)
    rows.foreach { r =>
      val t = r.getAs[String]("subject").split('.').last
      val evolved = Tables.names.zipWithIndex.toMap.apply(t) % 2 == 0
      assert(r.getAs[String]("added_cols") == (if (evolved) "added_v2" else ""))
      assert(r.getAs[String]("removed_cols") == "")
      assert(r.getAs[Long]("n_versions") == (if (evolved) 2L else 1L))
    }
  }

  test("schema registry persists across sessions through the parquet store") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_reg_spec_")
    try {
      val reg = new SchemaRegistry(spark)
      val st1 = StructType(Seq(StructField("r_regionkey", LongType)))
      val fp1 = reg.register("db.public.region", st1, 1L)
      val fp2 = reg.registerJson("db.public.acct", EvolutionDecode.v2Json, 2L)
      reg.save(dir.toString)
      reg.save(dir.toString) // duplicate writes: ON CONFLICT DO NOTHING
      // a BRAND-NEW session rebuilds the registry from disk
      val fresh = spark.newSession()
      val loaded = SchemaRegistry.load(fresh, dir.toString)
      assert(loaded.all().count() == 2) // duplicates collapsed by fingerprint
      assert(loaded.byFingerprint(AvroSchemaGen.fingerprintHex(fp1)).isDefined)
      assert(loaded.jsonByFingerprint(fp2) == EvolutionDecode.v2Json)
      assert(loaded.latestBySubject().count() == 2)
      // the loaded snapshot resolves a writer the consumer doesn't hold
      val v2 = new SingleObject.Codec(EvolutionDecode.v2Json)
      val bytes = EvolutionDecode.encodeOne(v2, 42L, 9L, Some(2.5), Some("v2:9"))
      val dec = EvolutionDecode.decodeOne(
        new SingleObject.Codec(EvolutionDecode.v2Json, loaded.jsonByFingerprint), bytes)
      assert(dec.fp_ok && dec.lsn_long.contains(42L) && dec.src.contains("v2:9"))
      // a v1 consumer holds no v2 schema: the writer resolves only
      // through the loaded snapshot
      val viaRegistry = EvolutionDecode.decodeOne(
        new SingleObject.Codec(EvolutionDecode.v1Json, loaded.jsonByFingerprint), bytes)
      assert(viaRegistry.fp_ok && viaRegistry.writer_version == 2)
      // absent from both the reader's schema and the registry → skip row
      val miss = EvolutionDecode.decodeOne(
        new SingleObject.Codec(EvolutionDecode.v2Json, loaded.jsonByFingerprint),
        withFingerprint(EvolutionDecode.encodeOne(v2, 1L, 1L, None, None), fp2 + 1))
      assert(!miss.fp_ok && miss.lsn_long.isEmpty)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("c27 publication manager: notify protocol, gauge, schema persist") {
    val reg = new SchemaRegistry(spark)
    val pub = new PublicationManager("p", Set("t0", "t1"), reg,
      t => AvroSchemaGen.record(Tables.events(spark, sf).schema, t, "graft"))
    // REMOVE carries the bare regclass name (init.go:96-98)...
    pub.handle(10L, "REMOVE t1")
    assert(!pub.isMember("t1") && pub.isMember("t0"))
    // ...ADD is namespace-qualified (init.go:107-111) and persists the
    // relation schema like initRelationSchema (api.go:84-88)
    assert(reg.all().count() == 0)
    pub.handle(20L, "ADD public.t1")
    assert(pub.isMember("t1"))
    assert(reg.all().count() == 1)
    assert(reg.all().head().getAs[String]("subject") == "testdb.public.t1")
    // malformed payloads are skipped, not fatal (api.go:78-81)
    pub.handle(30L, "garbage")
    pub.handle(31L, "NOPE t0")
    assert(pub.skipped == 2 && pub.isMember("t0"))
    // subscribed-tables gauge series follows the membership
    assert(pub.gauge.toSeq == Seq(2, 1, 2))
    // membership intervals: t1 subscribed on (0,10] and (20,inf]
    val iv = pub.subscribedIntervals(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(iv == Set(("t0", 0L, Long.MaxValue), ("t1", 0L, 10L),
      ("t1", 20L, Long.MaxValue)))
  }

  test("c28 chunk recovery drains exactly the partially-delivered messages") {
    val got = CdcQueries.c28_chunk_recovery(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val all = Envelope.flat(Tables.events(spark, sf))
      .filter(col("op") =!= "t").collect().map(_.getAs[Long]("lsn_long")).toSet
    val lostFirst = all.filter(_ % 997 == 0)
    val lostInterior = all.filter(l => l % 991 == 0 && l % 997 != 0)
    // both corruption classes are actually exercised...
    assert(lostFirst.nonEmpty && lostInterior.nonEmpty)
    // ...and are genuinely PARTIAL: at 16-byte chunks every encoded WAL
    // message spans ≥2 frames, so a dropped frame still leaves frames
    // arriving (the drain logic runs, it's not an absent message)
    val one = AvroEnvelope.encodeOne(AvroEnvelope.codec(),
      EnvRecord(1L, "c", 0L, None, Some(1L), Some(1.0)))
    assert(Chunking.split(1L, one, chunkSize = 16).length >= 2)
    assert(got == all -- lostFirst -- lostInterior)
  }

  test("c26 snapshot producer protocol: header schema, EOF termination") {
    implicit val s = spark
    import spark.implicits._
    val state = Seq((1L, Some(1.5)), (2L, None), (3L, Some(-0.25)))
      .toDF("pk", "value")
    val frames = SnapshotWire.produce(state, snapLsn = 0xAB00000010L,
      txId = 42L, atUs = 1705312496000000L)
    val (header, rows) = SnapshotWire.consume(frames)
    // header carries the protocol metadata the consumer needs — including
    // THE ROW SCHEMA ITSELF (the consumer holds nothing statically)
    assert(header.lsn == "AB/10" && header.tx_id == 42L && header.approx_rows == 3L)
    assert(header.schema == SnapshotWire.rowSchemaJson)
    assert(header.fingerprint == AvroSchemaGen.fingerprintB64(
      AvroSchemaGen.fingerprint64(SnapshotWire.rowSchemaJson)))
    val got = rows.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Double]))).toSet
    assert(got == Set(1L -> Some(1.5), 2L -> None, 3L -> Some(-0.25)))
    // stream accounting: n_messages = rows + 2 (client.go:575 "First and
    // last are not rows")
    assert(frames.select("msg_id").distinct().count() == state.count() + 2)
    // isEof matches the literal 3-byte sentinel, byte for byte
    assert(SnapshotWire.isEof("EOF".getBytes("UTF-8")))
    assert(!SnapshotWire.isEof("EOF ".getBytes("UTF-8")))
    assert(!SnapshotWire.isEof("EOf".getBytes("UTF-8")))
    // an un-terminated stream (no EOF sentinel) is REFUSED as incomplete
    val truncated = frames.filter(col("msg_id") =!= SnapshotWire.EofMsgId)
      .as[Frame]
    val e = intercept[IllegalStateException](SnapshotWire.consume(truncated))
    assert(e.getMessage.contains("EOF"))
    // a headerless stream is refused too (nothing to parse the schema from)
    val headerless = frames.filter(col("msg_id") =!= SnapshotWire.HeaderMsgId)
      .as[Frame]
    intercept[IllegalStateException](SnapshotWire.consume(headerless))
  }

  test("c29 snapshot request/reply: gate, topic naming, ignored no-reply") {
    implicit val s = spark
    import spark.implicits._
    val state = Seq((1L, Some(1.0))).toDF("pk", "value")
    def can(t: String): Boolean = t == "events"
    // no reply subject → silently ignored (snapshots.go:58-60)
    assert(SnapshotApi.handle(SnapshotRequest("public", "events"), None,
      can, state, 1L, 1L, 0L, 42L).isEmpty)
    // table outside the publication → refused (CanSnapshot gate)
    val e = intercept[IllegalStateException](SnapshotApi.handle(
      SnapshotRequest("public", "secrets"), Some("_INBOX.x"),
      can, state, 1L, 1L, 0L, 42L))
    assert(e.getMessage.contains("not allowed"))
    // topic: SNAP_STREAM.ns.table.<ts>_<4 hex>, seeded-deterministic;
    // ListSnapshots strips the last 5 chars when parsing (client.go:565)
    val t1 = SnapshotApi.genSnapTopic(42L, 1705312496123456L,
      SnapshotRequest("public", "events"))
    assert(t1.matches("""CREEK_SNAP\.public\.events\.\d{14}_\d{6}_[0-9a-f]{4}"""), t1)
    assert(t1 == SnapshotApi.genSnapTopic(42L, 1705312496123456L,
      SnapshotRequest("public", "events")))
    assert(t1 != SnapshotApi.genSnapTopic(43L, 1705312496123456L,
      SnapshotRequest("public", "events")))
    // a granted request streams to the replied topic; header carries it
    val Some((topic, frames)) = SnapshotApi.handle(
      SnapshotRequest("public", "events"), Some("_INBOX.x"),
      can, state, 7L, 7L, 0L, 42L)
    val (header, rows) = SnapshotWire.consume(frames)
    assert(header.topic == topic && rows.count() == 1L)
  }

  test("c26 equals the in-memory snapshot-plus-wal merge") {
    val wire = CdcQueries.c26_snapshot_producer_protocol(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val mem = CdcQueries.c08_snapshot_plus_wal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(wire.nonEmpty && wire == mem)
  }

  test("c25 pgoutput decode: replica-identity key extraction per op") {
    implicit val s = spark
    val rows = PgOutput.roundtrip(Envelope.flat(Tables.events(spark, sf))).collect()
    assert(rows.nonEmpty && Set("c", "u", "u_pk", "d", "t").subsetOf(rows.map(_.op).toSet))
    // u_pk: the old tuple is the replica-identity image — KEY COLUMNS ONLY
    // (non-key slots are null), and the new tuple moved the pk
    val upk = rows.filter(_.op == "u_pk")
    assert(upk.nonEmpty)
    assert(upk.forall(r => r.n_before_cols.contains(1) && r.pk_before.isDefined &&
      r.pk_after.contains(r.pk_before.get + Envelope.UpkShift)))
    // plain u: before derives from the NEW tuple's key columns
    // (replication.go:434-441) — so pk_before == pk_after, still key-only
    val u = rows.filter(_.op == "u")
    assert(u.nonEmpty)
    assert(u.forall(r => r.n_before_cols.contains(1) && r.pk_before == r.pk_after))
    // inserts carry no before image; truncates carry neither image
    assert(rows.filter(_.op == "c").forall(r =>
      r.pk_before.isEmpty && r.n_before_cols.isEmpty && r.pk_after.isDefined))
    assert(rows.filter(_.op == "t").forall(r =>
      r.pk_before.isEmpty && r.pk_after.isEmpty && r.after_value.isEmpty))
    // tx context from Begin: commit time is the event ts, xid = lsn
    assert(rows.forall(r => r.tx_id == r.lsn_long && r.tx_at_us > 0))
  }

  test("c25 relations map dispatches interleaved tables independently") {
    import PgOutput._
    val colsB = Seq((1, "user_id", OidInt8), (0, "value", OidFloat8),
      (0, "ts", OidTimestamptz))
    val relA = RelId; val relB = RelId + 1
    def tx(lsn: Long, body: Array[Byte]): Seq[Array[Byte]] = Seq(
      xlog(lsn, beginMsg(lsn, PgEpochMicros + lsn, lsn)),
      xlog(lsn, body),
      xlog(lsn, commitMsg(lsn, PgEpochMicros + lsn)))
    val stream = framed((Seq(
      xlog(1L, relationMsg(relA, "public", "events", eventsCols)),
      xlog(1L, relationMsg(relB, "audit", "trail", colsB))) ++
      tx(10L, insertMsg(relA, Seq(TextCell("1"), NullCell, TextCell(formatTsTz(0L))))) ++
      tx(11L, insertMsg(relB, Seq(TextCell("2"), NullCell, TextCell(formatTsTz(0L))))) ++
      tx(12L, deleteMsg(relA, 'K', Seq(TextCell("1"), NullCell, NullCell))) ++
      tx(13L, truncateMsg(Seq(relB, relA)))): _*)
    val rows = consume(stream).rows
    // each change resolves through the relations map to ITS OWN table
    assert(rows.map(r => (r.lsn_long, r.op, r.schema_name, r.table_name)) == Seq(
      (10L, "c", "public", "events"),
      (11L, "c", "audit", "trail"),
      (12L, "d", "public", "events"),
      (13L, "t", "audit", "trail"),   // one op t per relation id, in
      (13L, "t", "public", "events"))) // message order (replication.go:500-517)
    assert(rows.filter(_.op == "c").map(_.pk_after) == Seq(Some(1L), Some(2L)))
  }

  test("c25 plans exactly one shuffle (the WAL-segment grouping)") {
    implicit val s = spark
    val df = PgOutput.roundtrip(Envelope.flat(Tables.events(spark, sf))).toDF()
    df.collect()
    val shuffles = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // one exchange keys the rows into contiguous LSN segments; generate +
    // decode then run inside the group — no further data movement
    assert(shuffles.length == 1, s"c25 shuffles: $shuffles")
  }

  test("c25 pgoutput wire state machine: toast, keepalive LSN, unknown rel") {
    import PgOutput._
    // 'u' (unchanged toast) cells are ABSENT from the value map; 'n' cells
    // are present-and-null (replication.go:527-530)
    val cols = eventsCols
    val w = new W
    writeTuple(w, Seq(TextCell("7"), ToastCell, NullCell))
    val tuple = readTuple(new R(w.result()), cols)
    assert(tuple.keySet == Set("user_id", "ts"))
    assert(tuple("user_id") == 7L && tuple("ts") == null)
    // keepalive ServerWALEnd advances CurrentLSN monotonically: a data
    // message with a LOWER WALStart must not regress the envelope lsn
    // (replication.go:219-221, 243-245)
    val rel = relationMsg(RelId, "public", "events", cols)
    val stream = framed(
      xlog(10L, rel),
      keepalive(999L, reply = false),
      xlog(5L, beginMsg(5L, PgEpochMicros + 42L, 77L)),
      xlog(5L, truncateMsg(Seq(RelId))),
      xlog(5L, commitMsg(5L, PgEpochMicros + 42L)))
    val decoded = consume(stream).rows
    assert(decoded.length == 1)
    assert(decoded.head.lsn_long == 999L && decoded.head.op == "t")
    // pg-epoch commit time converts back to unix micros; xid is the u32
    assert(decoded.head.tx_at_us == PgEpochMicros + 42L && decoded.head.tx_id == 77L)
    // a change for an unregistered relation id is skipped, not a failure
    val orphan = framed(
      xlog(5L, beginMsg(5L, PgEpochMicros, 1L)),
      xlog(5L, insertMsg(RelId, Seq(TextCell("1"), NullCell, NullCell))),
      xlog(5L, commitMsg(5L, PgEpochMicros)))
    assert(consume(orphan).rows.isEmpty)
    // unknown pgoutput tags (Origin 'O', logical Message 'M') and unknown
    // frame types fall through the reference's type switches — skipped,
    // never fatal; surrounding messages still decode
    val withUnknowns = framed(
      xlog(8L, rel),
      Array[Byte]('q', 1, 2, 3), // unknown FRAME type
      xlog(9L, Array[Byte]('O', 0, 0, 0, 0, 0, 0, 0, 9, 'x', 0)), // Origin
      xlog(10L, beginMsg(10L, PgEpochMicros + 1L, 5L)),
      xlog(10L, insertMsg(RelId, Seq(TextCell("3"), NullCell,
        TextCell(formatTsTz(0L))))),
      xlog(10L, commitMsg(10L, PgEpochMicros + 1L)))
    val survived = consume(withUnknowns).rows
    assert(survived.map(r => (r.lsn_long, r.op, r.pk_after)) ==
      Seq((10L, "c", Some(3L))))
    // float8/timestamptz text decode is lossless by OID
    assert(decodeText(OidFloat8, 3.141592653589793d.toString) == 3.141592653589793d)
    assert(parseTsTz(formatTsTz(1705312496123456L)) == 1705312496123456L)
  }

  test("c31 standby status: reply only when requested, position = max LSN seen") {
    import PgOutput._
    val rel = relationMsg(RelId, "public", "events", eventsCols)
    // no reply bit → no status update, regardless of traffic
    assert(consume(framed(
      xlog(10L, rel), keepalive(999L, reply = false))).replies.isEmpty)
    // reply bit → one status update; position is the MAX of data WALStart
    // and keepalive ServerWALEnd up to that point, and flush/apply default
    // to the write position (pglogrepl semantics the reference relies on)
    val replies = consume(framed(
      xlog(10L, rel),
      xlog(40L, beginMsg(40L, PgEpochMicros, 40L)),
      keepalive(30L, reply = true), // stale ServerWALEnd must not regress
      xlog(55L, beginMsg(55L, PgEpochMicros, 55L)),
      keepalive(80L, reply = true))).replies
    assert(replies.map(r => (r.wal_write, r.wal_flush, r.wal_apply)) ==
      Seq((40L, 40L, 40L), (80L, 80L, 80L)))
    assert(replies.forall(r => !r.reply_requested))
    assert(replies.head.lsn_str == graft.functions.Lsn.format(40L).toString)
    // the 'r' message byte layout roundtrips exactly
    val one = parseStandbyStatus(standbyStatus(0x1234ABCDL, 42L, reply = true))
    assert(one == StandbyReply(0x1234ABCDL, 0x1234ABCDL, 0x1234ABCDL,
      graft.functions.Lsn.format(0x1234ABCDL).toString, reply_requested = true))
  }

  test("x14 replication lag: gauges pinned on a stream with known positions") {
    import PgOutput._
    val rel = relationMsg(RelId, "public", "events", eventsCols)
    val t0 = 1705312000000000L // planted ServerTimes (unix micros)
    val t1 = 1705312400000000L
    // server head at LSN 1000; observation clock 2.5 s after t1
    val (headLsn, nowUs) = (1000L, t1 + 2500000L)
    val stream = framed(
      xlog(10L, rel),
      keepalive(100L, reply = false, serverTimeUs = t0),
      xlog(600L, beginMsg(600L, PgEpochMicros, 600L)),
      keepalive(600L, reply = false, serverTimeUs = t1),
      // a keepalive AHEAD of the recorded head clamps behind to 0
      keepalive(1200L, reply = false, serverTimeUs = nowUs))
    val g = consume(stream).lag(headLsn, nowUs)
    assert(g.map(x => (x.wal_lsn, x.behind_lsn, x.behind_time_ms)) == Seq(
      (100L, 900L, (nowUs - t0) / 1000),
      (600L, 400L, 2500L),
      (1200L, 0L, 0L)))
    assert(g.head.wal_lsn_str == graft.functions.Lsn.format(100L).toString)
    // XLogData frames advance position but never emit gauges (reference:
    // only the keepalive arm calls SetBehind*)
    assert(consume(framed(xlog(999L, rel))).lag(headLsn, nowUs).isEmpty)
    // keepalive ServerTime roundtrips through the pg-epoch wire encoding
    // and the distributed plant produces one gauge row per 97-row cadence
    val df = CdcQueries.queries("x14_replication_lag")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("behind_lsn") >= 0))
    assert(rows.forall(_.getAs[Long]("behind_time_ms") >= 0))
  }

  test("c32 daemon config: prefixes, durations, lists, defaults, bad flags") {
    val c = DaemonConfig.parse(Seq(
      "--tables", "public.a, public.b,,public.c",
      "--pg-uri", "postgres://u@h:5432/db",
      "--pg-message-timeout", "1.5m",
      "--nats-timeout", "250ms",
      "--nats-retention-policy", "interest",
      "--nats-retention-max-bytes", "1048576",
      "--nats-replicas", "3"))
    assert(c.tables == Seq("public.a", "public.b", "public.c"))
    assert(c.pg.uri == "postgres://u@h:5432/db")
    assert(c.pg.messageTimeoutMs == 90000L)
    assert(c.nats.timeoutMs == 250L)
    assert(c.nats.retention.policy == "interest")
    assert(c.nats.retention.maxBytes == 1048576L)
    assert(c.nats.replicas == 3)
    // untouched fields keep the reference defaults
    assert(c.logLevel == "info" && c.prometheusPort == 7779)
    assert(c.pg.publicationName == "creek_publication")
    assert(c.nats.namespace == "CREEK" && c.nats.retention.maxMsgs == -1L)
    // Go duration forms — including compound terms and the full unit set,
    // exactly what time.ParseDuration (the reference's config parser) takes
    assert(DaemonConfig.parseDuration("100ms") == 100L)
    assert(DaemonConfig.parseDuration("24h") == 86400000L)
    assert(DaemonConfig.parseDuration("1h30m") == 5400000L)
    assert(DaemonConfig.parseDuration("2m45s500ms") == 165500L)
    assert(DaemonConfig.parseDuration("1.5h") == 5400000L)
    assert(DaemonConfig.parseDuration("4.35s") == 4350L)
    assert(DaemonConfig.parseDuration("1500us") == 2L) // sub-ms rounds
    assert(DaemonConfig.parseDuration("1500µs") == 2L)
    assert(DaemonConfig.parseDuration("100ns") == 0L)
    assert(DaemonConfig.parseDuration("0") == 0L)
    // sign + Go's three decimal shapes (DecimalDigits ["." [digits]] | "." digits)
    assert(DaemonConfig.parseDuration("-1.5h") == -5400000L)
    assert(DaemonConfig.parseDuration("+2s") == 2000L)
    assert(DaemonConfig.parseDuration(".5s") == 500L)
    assert(DaemonConfig.parseDuration("1.s") == 1000L)
    assert(DaemonConfig.parseDuration("-0") == 0L)
    intercept[IllegalArgumentException](DaemonConfig.parseDuration("10"))
    intercept[IllegalArgumentException](DaemonConfig.parseDuration("1h30"))
    intercept[IllegalArgumentException](DaemonConfig.parseDuration("5s3x"))
    // a typo'd flag or dangling value must not start the daemon
    intercept[IllegalArgumentException](DaemonConfig.parse(Seq("--tabels", "x")))
    intercept[IllegalArgumentException](DaemonConfig.parse(Seq("--tables")))
  }

  test("c33 jdbc ingest: 8-way partitioned snapshot + lsn-poll loop ≡ c04") {
    val (df, nParts, nBatches) = JdbcSource.c33run(spark, sf)
    // the snapshot is ONE logical SELECT * split into 8 stripe queries —
    // the connection-parallel read a 100 TB initial sync depends on
    assert(nParts == 8, s"snapshot jdbc scan has $nParts partitions, want 8")
    // the tail must actually arrive over multiple poll micro-batches
    assert(nBatches >= 2, s"poll loop ran once ($nBatches); not incremental")
    // the materialized replica must come back as a FILE scan — a
    // LocalTableScan / ExistingRDD here would mean the lane collected the
    // full replica through the driver (the 100 TB scale-killer)
    val nodes = Metrics.allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.FileSourceScanExec]),
      s"replica not file-backed:\n${df.queryExecution.executedPlan}")
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]),
      s"replica passed through the driver:\n${df.queryExecution.executedPlan}")
    val got = df.collect().map(_.toString).toSeq
    val want = CdcQueries.c04_apply_latest(spark, sf).collect().map(_.toString).toSeq
    assert(got == want, s"jdbc replay diverged from direct apply " +
      s"(got ${got.length} rows, want ${want.length})")
  }

  test("c37 daemon e2e: config→gate→decode→route→retain→apply ≡ gated c35") {
    val (df, floor, minLsn) = CdcQueries.c37run(spark, sf)
    val rows = df.collect()
    // the retention cut really evicted history — the lane ran the
    // snapshot-fallback resume, not a degenerate keep-everything path
    assert(floor > minLsn, s"retention floor $floor did not evict (min $minLsn)")
    // the publication gate: exactly the allow-listed topics, t2 absent
    val topics = rows.map(_.getAs[String]("topic")).distinct.sorted
    assert(topics.toSeq == Seq("t0", "t1", "t3")
      .map("CREEK.testdb.wal.public." + _), s"topics: ${topics.toSeq}")
    // the composed lane lands on the gated c35 replica exactly
    val got = rows.map(r => (r.getAs[String]("tbl"), r.getAs[Long]("pk"),
      r.getAs[Double]("value"))).toSeq
    val want = CdcQueries.queries("c35_multi_table_stream")(spark, sf)
      .filter(col("tbl") =!= "t2")
      .select("tbl", "pk", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"daemon lane diverged: got ${got.length} rows, " +
      s"want ${want.length}")
  }

  test("c38 partition-root: leaf relations decode, root topics publish") {
    val (df, leaves) = CdcQueries.c38run(spark, sf)
    // the WIRE carried the leaf identities — the decode really went
    // through per-leaf Relation registration, not a pre-collapsed plant
    assert(leaves == Seq("prices_p2022", "prices_p2023", "prices_p2024", "quotes"),
      s"wire relations: $leaves")
    val rows = df.collect()
    // ...but nothing downstream ever sees a leaf: topics and table
    // identities are the ROOT's (TestPartitions' observable contract)
    val topics = rows.map(_.getAs[String]("topic")).distinct.sorted
    assert(topics.toSeq == Seq("CREEK.testdb.wal.public.prices",
      "CREEK.testdb.wal.public.quotes"), s"topics: ${topics.toSeq}")
    // the root replica merged ALL the leaves: prices carries pks from
    // every partition's residue class, quotes only its own
    val pricesRes = rows.filter(_.getAs[String]("tbl") == "prices")
      .map(_.getAs[Long]("pk") % 4).distinct.sorted
    assert(pricesRes.toSeq == Seq(0L, 1L, 3L), s"prices residues: ${pricesRes.toSeq}")
    assert(rows.filter(_.getAs[String]("tbl") == "quotes")
      .forall(_.getAs[Long]("pk") % 4 == 2))
  }

  test("s15 jdbc stream: restart resumes from the checkpointed offset exactly once") {
    val (df, snapLsn, inc1Last, inc2From, nBatches) = JdbcSource.s15run(spark, sf)
    // incarnation 1 really advanced the tail past the snapshot...
    assert(inc1Last > snapLsn, s"inc1 never polled: last=$inc1Last snap=$snapLsn")
    // ...and incarnation 2's FIRST pull started exactly where incarnation
    // 1 durably stopped — no re-pull (would double-apply), no gap (would
    // lose changes); this is the restart boundary
    assert(inc2From == inc1Last,
      s"resume boundary broken: inc2 resumed from $inc2From, inc1 stopped at $inc1Last")
    assert(nBatches >= 2, s"expected ≥2 committed poll batches, got $nBatches")
    // the restarted stream lands on the full-replay replica
    val got = df.collect().map(_.toString).toSeq
    val want = CdcQueries.c04_apply_latest(spark, sf).collect().map(_.toString).toSeq
    assert(got == want, s"streamed replay diverged from direct apply " +
      s"(got ${got.length} rows, want ${want.length})")
    // committing a version retires every one older than its merge base:
    // each bucket keeps at most its base and its latest version, and of
    // the 1 + nBatches committed positions only the last two are left
    val store = java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head))
      .getParent.getParent.getParent
    val buckets = store.toFile.listFiles().filter(_.getName.startsWith("bkt_"))
    assert(buckets.nonEmpty)
    buckets.foreach { b =>
      val versions = b.list().filter(_.startsWith("state_v")).toSeq
      assert(versions.length <= 2, s"${b.getName} versions left: $versions")
    }
    val positions = store.toFile.list().filter(_.startsWith("position_v")).toSeq
    assert(positions.length == 2, s"positions left: $positions")
  }

  test("s15 poll: replaying a batch id leaves the replica and its position unchanged") {
    // the s15 poll step over the same WAL read as a frame instead of
    // through JDBC: snapshot as store batch 0, then the four tail polls
    val flat = Envelope.flat(Tables.events(spark, sf))
      .select("lsn_long", "op", "pk_before", "pk_after", "after_value")
    val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
    val snapLsn = Polls.snapshotCut(b.getLong(0), b.getLong(1))
    val his = snapLsn +: Polls.ranges(snapLsn, b.getLong(1), 4).map(_._2)
    val pull = (lo: Long, hi: Long) =>
      flat.filter(col("lsn_long") > lo && col("lsn_long") <= hi)
    val dir = java.nio.file.Files.createTempDirectory("graft_s15replay")
    try {
      val store = KeyedStore.open(spark, dir, Seq("pk"), "last_ord")
      def replica() = StreamApply.replica(store.panel).collect().map(_.toString).toSeq
      (0 to 2).foreach(i => JdbcSource.poll(store, i, Seq(his(i)), pull))
      val (before, pos) = (replica(), store.position())
      // at-least-once delivery hands batch 2 over again
      assert(JdbcSource.poll(store, 2, Seq(his(2)), pull) == his(1),
        "a replay resumes from the position committed before it")
      assert(replica() == before, "a replayed batch id must leave the replica unchanged")
      assert(store.position() == pos)
      (3 until his.length).foreach(i => JdbcSource.poll(store, i, Seq(his(i)), pull))
      assert(replica() ==
        CdcQueries.c04_apply_latest(spark, sf).collect().map(_.toString).toSeq)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("c39 jdbc evolution: ALTER mid-stream, mixed writers resolve to latest") {
    val (df, fp1, fp2, byWriter) = JdbcEvolution.c39run(spark, sf)
    // the ALTER changed the table's Avro identity (c11's re-fingerprint)
    assert(fp1 != fp2)
    // the replayed stream really mixed writer generations
    assert(byWriter.getOrElse(1, 0L) > 0, s"no v1-writer frames: $byWriter")
    assert(byWriter.getOrElse(2, 0L) > 0, s"no v2-writer frames: $byWriter")
    val rows = df.collect()
    // populated values follow the upstream rule: src = 's' + pk % 3
    rows.filter(r => !r.isNullAt(r.fieldIndex("src"))).foreach { r =>
      assert(r.getAs[String]("src") == s"s${r.getAs[Long]("pk") % 3}",
        s"src drift on pk ${r.getAs[Long]("pk")}: ${r.getAs[String]("src")}")
    }
    // the writer→reader resolution itself, pinned directly: a v1-writer
    // frame read with the latest reader surfaces the added column's
    // null default (every replica row's src at this sf happens to be
    // post-evolution, so the lane alone can't exhibit it)
    import org.apache.spark.sql.types._
    val stV1 = StructType(Seq(StructField("lsn_long", LongType, nullable = false),
      StructField("op", StringType, nullable = true),
      StructField("pk_before", LongType, nullable = true),
      StructField("pk_after", LongType, nullable = true),
      StructField("after_value", DoubleType, nullable = true)))
    val stV2 = stV1.add(StructField("src", StringType, nullable = true))
    val (j1, j2) = (AvroSchemaGen.record(stV1, "wal", "graft"),
      AvroSchemaGen.record(stV2, "wal", "graft"))
    val (f1v, f2v) = (AvroSchemaGen.fingerprint64(stV1, "wal"),
      AvroSchemaGen.fingerprint64(stV2, "wal"))
    val frame = JdbcEvolution.encodeRow(new SingleObject.Codec(j1),
      5L, "c", None, Some(7L), Some(1.25), None)
    val dec = JdbcEvolution.decodeRow(
      new SingleObject.Codec(j2, Map(f1v -> j1, f2v -> j2)), frame)
    assert(dec.writer_version == 1 && dec.src.isEmpty &&
      dec.pk_after.contains(7L) && dec.value.contains(1.25),
      s"v1→v2 resolution drift: $dec")
  }

  test("c36 incremental view: delta-only maintenance ≡ recompute") {
    var log = Vector.empty[(Boolean, Long)]
    val df = ViewMaintenance.c36run(spark, sf,
      onBatch = (inv, t) => log :+= ((inv, t)))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the delta-maintained view equals the GROUP BY recomputed over the
    // fully-replayed replica — integer cents, so exact equality
    val want = ViewMaintenance.viewOf(
        Apply.latest(Envelope.flat(graft.Tables.events(spark, sf)))
          .select(col("pk"), col("last_value")))
      .orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want), s"view drifted:\n got=${got.toSeq}\nwant=${want.toSeq}")
    // incremental discipline: batch 1 bootstraps (and carries this sf's
    // only truncate); every later batch takes the delta path, touching
    // a bounded, non-empty key set — never rebuilding from the replica
    assert(log.length == 4)
    assert(log.head._1, "bootstrap batch must build the view")
    assert(log.tail.forall(!_._1), s"a later batch rebuilt the view: $log")
    assert(log.tail.forall(_._2 > 0))
  }

  test("s14 streaming view ≡ batch c36 ≡ recompute") {
    val streamed = ViewMaintenance.s14_streaming_view(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = ViewMaintenance.c36run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.sameElements(batch),
      s"foreachBatch diverged from the poll loop:\n s=${streamed.toSeq}\n b=${batch.toSeq}")
  }

  test("c36 delta advance: fewer jobs, half the shuffles, none over the state") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    // shuffle map stages as they were submitted: AQE may later drop a
    // stage that returned no rows from the final plan
    val sched = new PlanWalk.Scheduled(spark.sparkContext)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val onQuery = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // count c36's second batch at sf0.01, its first delta advance
    var batch = 0
    ViewMaintenance.c36run(spark, sf01, onBatch = (invalidated, _) => {
      batch += 1
      if (batch == 1) {
        sched.start()
        spark.listenerManager.register(onQuery)
      } else if (batch == 2) {
        assert(!invalidated, "c36's second batch at sf0.01 must take the delta path")
        sched.stop()
        spark.listenerManager.unregister(onQuery)
      }
    })
    // the operators that ran: through AQE stages and into the plans that
    // filled the caches a query read; `builds = false` leaves out the
    // build sides of broadcasts, keeping only rows that flow into `p`
    def walk(p: SparkPlan, builds: Boolean): Seq[SparkPlan] = p +: (p match {
      case _: BroadcastExchangeLike if !builds => Nil
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, builds)
      case q: QueryStageExec => walk(q.plan, builds)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan, builds)
      case o => o.children.flatMap(walk(_, builds))
    })
    import scala.jdk.CollectionConverters._
    // a cache read by several queries ran once: count each node once
    val ran = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    plans.asScala.foreach(p => ran.addAll(walk(p, builds = true).asJava))
    val shuffles = ran.asScala.toSeq.collect { case e: ShuffleExchangeLike => e }
    val broadcasts = ran.asScala.count(_.isInstanceOf[BroadcastExchangeLike])
    info(s"${sched.jobs} jobs, ${sched.mapStages} shuffle map stages, ${shuffles.length} shuffle " +
      s"and $broadcasts broadcast exchanges")
    // the truncate scan, the fold's shuffle and collect, the old rows'
    // pk-IN read and the state checkpoint; the broadcast-join advance
    // before ran 9 jobs and 2 shuffles
    assert(sched.jobs <= 5, s"${sched.jobs} jobs")
    assert(sched.mapStages <= 1, s"${sched.mapStages} shuffle map stages")
    assert(shuffles.length <= 1, s"${shuffles.length} shuffles:\n${shuffles.mkString("\n")}")
    assert(broadcasts == 0, s"$broadcasts broadcast exchanges")
    // the checkpointed state is the advance's only RDD scan
    val overState = shuffles.filter(walk(_, builds = false).exists(_.isInstanceOf[RDDScanExec]))
    assert(overState.isEmpty, s"the state is shuffled:\n${overState.mkString("\n")}")
  }

  test("c35 multi-table stream: lazy relation registration, per-table truncate") {
    import PgOutput._
    // two shards (user_id%4: 0 → t0, 1 → t1), truncate on t0 only; the
    // t1 relation registers mid-stream, first time t1 data appears
    val rows = Seq(
      PgoRow(10L, "c", PgEpochMicros + 1, 0L, None, Some(0L), Some(1.0)),
      PgoRow(11L, "c", PgEpochMicros + 2, 1L, None, Some(1L), Some(2.0)),
      PgoRow(12L, "t", PgEpochMicros + 3, 0L, None, None, None),
      PgoRow(13L, "c", PgEpochMicros + 4, 4L, None, Some(4L), Some(3.0)))
    val dec = consume(encode(rows, uid => s"t${uid % 4}")).rows
    assert(dec.map(r => (r.lsn_long, r.op, r.table_name)) == Seq(
      (10L, "c", "t0"), (11L, "c", "t1"), (12L, "t", "t0"), (13L, "c", "t0")))
    // the truncate message carries ONLY t0's relation id
    assert(dec.filter(_.op == "t").map(_.table_name) == Seq("t0"))
    // end-to-end at sf: table identity comes from the wire; every table's
    // replica materializes, and t-truncates never leak across tables
    val got = CdcQueries.queries("c35_multi_table_stream")(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getString(0)).distinct.sorted.sameElements(
      Array("t0", "t1", "t2", "t3")))
  }

  test("c34 retention: exact floors, gap detection, replay equivalence") {
    // pinned floors on a planted dense 100-message store
    val store = spark.range(1, 101).select(col("id").as("lsn_long"),
      lit("c").as("op"), lit(null).cast("long").as("pk_before"),
      col("id").as("pk_after"), lit(1.0).as("after_value"))
    assert(Retention.ageFloor(store, 10) == 90L)
    assert(Retention.suffixFloor(store, lit(1L), 30) == 71L)
    // 65 bytes/message (op 'c'): budget 200 keeps exactly 3
    assert(Retention.suffixFloor(store, Retention.sizeBytes, 200) == 98L)
    // budget below one message: nothing retained → floor = max + 1
    assert(Retention.suffixFloor(store, Retention.sizeBytes, 64) == 101L)
    // range ≫ cell count: the refinement loop actually narrows
    val big = spark.range(1, 10001)
      .select(col("id").as("lsn_long"), lit("c").as("op"))
    assert(Retention.suffixFloor(big, lit(1L), 5000) == 5001L)
    // resume-after-expiry: consumer parked at 40, floor 71 → its position
    // expired; fallback from snapshot cut 80 ⊕ retained WAL ≡ full replay
    assert(71L > 40L + 1) // the c19 continuity check fires
    val fb = Retention.resumeReplay(store, retainedFloor = 71L, from = 80L)
      .orderBy("pk").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fb.length == 100 && fb.head == ((1L, 1.0)) && fb.last == ((100L, 1.0)))
    // retention expired past even the stored snapshot (floor 95 > 80+1):
    // the consumer takes a FRESH snapshot at the floor; replay still ≡ full
    val fresh = Retention.resumeReplay(store, retainedFloor = 95L, from = 94L)
      .orderBy("pk").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fresh.sameElements(fb),
      "fresh-snapshot fallback diverged from full replay")
    // end-to-end: every setting lands on the identical replica (≡ c04)
    val rows = CdcQueries.queries("c34_retention")(spark, sf).collect()
    val bySetting = rows.groupBy(_.getString(0))
    assert(bySetting.keySet ==
      Set("max_age_150m", "max_msgs_5000", "max_bytes_400k"))
    val want = CdcQueries.c04_apply_latest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    bySetting.values.foreach { g =>
      assert(g.map(r => (r.getLong(2), r.getDouble(3))).toSeq == want)
    }
  }

  /** 120 planted rows cycling u, u_pk, d, t, c (more than 97, so the
    * stream carries a keepalive), some with a null value.
    */
  private val goldenRows: Seq[PgoRow] = (1 to 120).map { i =>
    val op = Seq("c", "u", "u_pk", "d", "t")(i % 5)
    val pk = (i * 7 % 31).toLong
    PgoRow(lsn_long = 1000L + 3L * i, op = op,
      tx_at_us = 1705312000000000L + 1000003L * i, user_id = pk,
      pk_before = if (op == "u_pk" || op == "d") Some(pk) else None,
      pk_after = op match {
        case "c" | "u" => Some(pk)
        case "u_pk" => Some(pk + 100)
        case _ => None
      },
      after_value =
        if (op == "d" || op == "t" || i % 7 == 0) None else Some(i * 1.25 - 40))
  }

  test("pgoutput producer bytes are pinned by SHA-256") {
    import PgOutput._
    def sha(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    // single table without and with reply-requesting keepalives, then
    // three tables registered lazily
    val got = Seq(
      sha(encode(goldenRows)),
      sha(encode(goldenRows, keepaliveReply = true)),
      sha(encode(goldenRows, uid => s"t${uid % 3}")))
    assert(got == Seq(
      "9222babab7f50570ba96bec69c2a53e33cc7200af30d8e38ce6dbedfff3f4dc8",
      "95bed2250e5a80c431c81e60c0d71a9fcc87e50e633c8537b5e755ca4dad49ac",
      "0b1703b8906077a9343159d7fa6d934e4e75e12b1a598f2f629eeb0396c004e0"))
  }

  test("malformed pgoutput streams fail loudly, naming the offset") {
    import PgOutput._
    val rel = framed(xlog(10L, relationMsg(RelId, "public", "events", eventsCols)))
    def failsAt(stream: Array[Byte], offset: Int): Unit = {
      val e = intercept[IllegalArgumentException](consume(stream))
      assert(e.getMessage.contains(s"offset $offset"), e.getMessage)
    }
    // 1-3 bytes after the last whole frame: a cut length prefix
    (1 to 3).foreach(k => failsAt(rel ++ new Array[Byte](k), rel.length))
    // a 'w' frame (payload at offset 4) cut inside its 24-byte header:
    // WALStart at offset 5 has 4 of its 8 bytes
    failsAt(framed(Array[Byte]('w', 0, 0, 0, 0)), 5)
    // a Begin (at offset 29, after the XLogData header) cut one byte
    // into its commit time, which starts at offset 38
    failsAt(framed(xlog(5L, beginMsg(5L, PgEpochMicros, 1L).take(10))), 38)
    // a Relation whose namespace (at offset 34) has no NUL
    failsAt(framed(xlog(5L, new W().u8('R').u32(RelId.toLong)
      .bytes("public".getBytes("UTF-8")).result())), 34)
    // four cells for the relation's three columns (cell count at 35 bytes
    // into the insert's frame)
    failsAt(rel ++ framed(xlog(11L, insertMsg(RelId,
      Seq(TextCell("1"), NullCell, NullCell, NullCell)))), rel.length + 35)
  }

  test("pgoutput reader fails loudly on a truncated frame") {
    // a length prefix pointing past the buffer must raise, not zero-pad
    val buf = new PgOutput.W().u32(10L).bytes(Array[Byte](1, 2, 3)).result()
    val r = new PgOutput.R(buf)
    val n = r.u32().toInt
    val e = intercept[IllegalArgumentException](r.bytes(n))
    assert(e.getMessage.contains("truncated"))
    // an in-bounds read of the same buffer still succeeds
    val r2 = new PgOutput.R(buf)
    r2.u32()
    assert(r2.bytes(3).toSeq == Seq[Byte](1, 2, 3))
  }

  test("c40 snapshot diff: applying the emitted change set reconstructs v2") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark; val sf = SparkTestSession.sf
    val diff = cdc.CdcQueries.c40_snapshot_diff(spark, sf).collect()
    assert(Set("c", "u", "d").subsetOf(diff.map(_.getString(0)).toSet),
      "all three op codes must fire on the planted states")
    // v1 ⊕ diff = v2: start from customer balances, apply d/u/c
    val v1 = Tables.customer(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    val applied = diff.foldLeft(v1) { (m, r) =>
      val k = r.getAs[Long]("c_custkey")
      r.getString(0) match {
        case "d" => m - k
        case _ => m + (k -> r.getAs[Double]("bal_after"))
      }
    }
    val v2 = graft.sources.SourceSinks.x17_merge_upsert(spark, sf)
      .filter(col("c_acctbal") >= 0).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    // rows the diff skipped were bit-identical (round(bal,2) == bal);
    // normalize both sides through round-2 for the comparison
    def r2d(m: Map[Long, Double]) = m.view.mapValues(v => math.rint(v * 100) / 100).toMap
    assert(r2d(applied) == r2d(v2), "v1 + diff must equal v2")
  }

  test("c43 audit catches the planted value drift and ONLY that") {
    val rows = graft.cdc.CdcQueries.c43_replica_audit(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Int]("rows_match") == 1, s"bucket $b row counts")
      assert(r.getAs[Int]("checksum_match") == (if (b == 5) 0 else 1),
        s"bucket $b checksum")
    }
    // the drifted bucket exists (the plant is exercised, not vacuous)
    assert(rows.exists(_.getAs[Long]("bucket") == 5))
  }

  test("c42 heartbeat releases the tail windows append mode holds back") {
    val without = graft.cdc.CdcQueries
      .idleHeartbeatRun(spark, sf, heartbeat = false).collect()
    val withHb = graft.cdc.CdcQueries
      .idleHeartbeatRun(spark, sf, heartbeat = true).collect()
    // the counterfactual must be missing at least the final window
    assert(without.length < withHb.length,
      s"heartbeat changed nothing: ${without.length} vs ${withHb.length}")
    // and the heartbeat output equals the batch aggregation of the
    // sparse table — keepalives advance time, never counts
    import org.apache.spark.sql.functions._
    val batch = graft.cdc.Envelope.flat(Tables.events(spark, sf))
      .filter(pmod(coalesce(col("pk_after"), col("pk_before")), lit(100L)) === 0)
      .groupBy(window(col("tx_at"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withHb.map(r => r.getLong(0) -> r.getLong(1)).toMap == batch)
    // released-vs-held difference is exactly the tail
    val held = batch.keySet -- without.map(_.getLong(0)).toSet
    assert(held.nonEmpty && held.forall(_ >= without.map(_.getLong(0)).max))
  }

  test("c41 skew buckets sum to the op count and flag only >2x-average") {
    val rows = graft.cdc.CdcQueries.c41_apply_skew(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val ns = rows.map(_.getAs[Long]("n"))
    val avg = ns.sum.toDouble / rows.length
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(math.abs(r.getAs[Double]("skew") - n / avg) < 1e-3)
      assert(r.getAs[Int]("hot") == (if (n > 2 * avg) 1 else 0))
    }
    // every keyed op lands in exactly one bucket
    val flat = graft.cdc.Envelope.flat(Tables.events(spark, sf))
    val keyed = flat.filter(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("pk_after"),
        org.apache.spark.sql.functions.col("pk_before")).isNotNull).count()
    assert(ns.sum == keyed)
  }

  test("c45 min-watermark frontier: laggiest publisher holds nothing, others hold its gap") {
    val rows = cdc.CdcQueries.c45_watermark_merge(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("pub")).toSeq == Seq(0, 1, 2))
    val frontiers = rows.map(_.getAs[String]("frontier_lsn")).distinct
    assert(frontiers.length == 1, "one global frontier")
    // watermarks are monotonically non-increasing with lag
    val wms = rows.map(_.getAs[String]("watermark_lsn"))
    // the frontier IS the minimum watermark (publisher 2, laggiest)
    assert(wms.last == frontiers.head)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emittable") <= r.getAs[Long]("n_delivered"))
      assert(r.getAs[Long]("n_held") ==
        r.getAs[Long]("n_delivered") - r.getAs[Long]("n_emittable"))
    }
    // the laggiest publisher's delivered set sits entirely at/below its
    // own watermark = the frontier, so it holds nothing
    assert(rows.last.getAs[Long]("n_held") == 0L)
    // faster publishers genuinely hold rows beyond the frontier
    assert(rows.head.getAs[Long]("n_held") > 0L)
  }

  test("c44 transactions partition the WAL and aggregate their ops exactly") {
    import org.apache.spark.sql.functions._
    val rows = graft.cdc.CdcQueries.c44_tx_boundary(spark, sf).collect()
    assert(rows.nonEmpty)
    val flat = graft.cdc.Envelope.flat(Tables.events(spark, sf))
      .select(col("lsn_long"), col("op"), col("user_id"),
        col("after_value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]).getOrElse(0.0)))
    // partition property: every op lands in exactly one commit group
    assert(rows.map(_.getAs[Long]("n_ops")).sum == flat.length.toLong)
    val byTx = flat.groupBy(e => ((e._1 + 6) / 7) * 7)
    rows.foreach { r =>
      val tx = r.getAs[Long]("tx_commit_lsn")
      val grp = byTx(tx)
      assert(r.getAs[Long]("n_ops") == grp.length.toLong, s"tx $tx n_ops")
      assert(r.getAs[Long]("n_ops") <= 7, s"tx $tx commit cadence bound")
      assert(r.getAs[Long]("first_lsn") > tx - 7 &&
        r.getAs[Long]("last_lsn") <= tx, s"tx $tx LSN range")
      assert(r.getAs[Long]("n_insert") == grp.count(_._2 == "c").toLong)
      assert(r.getAs[Long]("n_delete") == grp.count(_._2 == "d").toLong)
      assert(math.abs(r.getAs[Double]("tx_value") - grp.map(_._4).sum) < 0.01)
      // the LSN text codec renders the commit position
      assert(r.getAs[String]("commit_lsn") ==
        f"${tx >> 32}%X/${tx & 0xFFFFFFFFL}%X", s"tx $tx lsn text")
    }
  }
  test("c47 schema compat matrix follows the constructed version pattern") {
    val rows = cdc.CdcQueries.c47_schema_compat(spark, sf).collect()
    assert(rows.length == Tables.names.length)
    for (r <- rows) {
      val subj = r.getAs[String]("subject")
      val t = subj.stripPrefix("testdb.public.")
      val i = Tables.names.indexOf(t)
      assert(i >= 0, s"unknown subject $subj")
      val (nv, bwd, fwd) =
        if (i % 4 == 0) (3L, false, true) // required v3 col breaks backward
        else if (i % 2 == 0) (2L, true, true) // nullable add: safe both ways
        else (1L, true, true) // single version: vacuously compatible
      assert(r.getAs[Long]("n_versions") == nv, s"$subj versions")
      assert(r.getAs[Boolean]("backward_ok") == bwd, s"$subj backward")
      assert(r.getAs[Boolean]("forward_ok") == fwd, s"$subj forward")
      assert(r.getAs[Boolean]("full_ok") == (bwd && fwd), s"$subj full")
    }
    // the matrix must carry real signal: at least one subject breaks
    assert(rows.exists(!_.getAs[Boolean]("backward_ok")))
  }
  test("c48 conflict audit conserves keys and bounds contest rates") {
    import org.apache.spark.sql.functions._
    val rows = cdc.CdcQueries.c48_conflict_audit(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("pub")).sorted.toSeq == Seq(0, 1, 2))
    val nKeys = Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_keys_won")).sum == nKeys,
      "every key has exactly one last writer")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_contested") <= r.getAs[Long]("n_keys_won"))
      val c = r.getAs[Double]("contest_rate")
      assert(c >= 0.0 && c <= 1.0)
    }
    // round-robin publishers writing shared keys must actually contest
    assert(rows.map(_.getAs[Long]("n_contested")).sum > 0)
  }
}
