package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source/sink specs beyond the DuckDB-verified roundtrips: the bucketed
  * join's PLAN SHAPE — the whole point of x05 is that the join runs with
  * zero shuffle, which the result hash can't prove.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("Tables.load infers a path's schema once, and again after a rewrite") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("graft_tables_")
    val path = dir.resolve("t.parquet").toString
    def jobsIn[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val onJob = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      def drain(): Unit =
        org.apache.spark.graft.SchedulerShim.waitListenerBusEmpty(spark.sparkContext, 60000)
      drain()
      spark.sparkContext.addSparkListener(onJob)
      try (body, { drain(); jobs.get })
      finally spark.sparkContext.removeSparkListener(onJob)
    }
    try {
      spark.range(10).selectExpr("id", "id * 2 as v").repartition(2).write.parquet(path)
      val (first, inferring) = jobsIn(Tables.load(spark, dir.toString, "t"))
      assert(inferring == 1, s"$inferring jobs inferring the schema")
      // an unchanged directory: the schema inferred above, no job
      val (second, reusing) = jobsIn(Tables.load(spark, dir.toString, "t"))
      assert(reusing == 0, s"$reusing jobs loading an unchanged directory")
      assert(second.schema == first.schema && second.count() == 10)
      // rewritten with another schema: inferred again
      spark.range(5).selectExpr("cast(id as string) as name").write.mode("overwrite").parquet(path)
      val (third, again) = jobsIn(Tables.load(spark, dir.toString, "t"))
      assert(again == 1, s"$again jobs loading a rewritten directory")
      assert(third.columns.toSeq == Seq("name") && third.count() == 5)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x37 compaction plan conserves files and bytes in contiguous month order") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x37_compaction_planner(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nMonths = Tables.orders(spark, sf)
      .select(countDistinct(expr(
        "year(to_date(o_orderdate)) * 12 + month(to_date(o_orderdate))")))
      .collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_files")).sum == nMonths)
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("total_bytes")).sum == nOrders * 64)
    // group count is the greedy prediction from total size vs target
    assert(rows.length == ((nOrders * 64 + 131071) / 131072).toInt ||
      rows.length == ((nOrders * 64) / 131072).toInt + 1)
    // bins are contiguous, non-overlapping month ranges in plan order
    val sorted = rows.sortBy(_.getAs[Long]("bin"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Int]("last_mon") < b.getAs[Int]("first_mon"))
      case _ =>
    }
    sorted.foreach(r =>
      assert(r.getAs[Int]("first_mon") <= r.getAs[Int]("last_mon")))
  }

  test("x38 skip rates: clustered layout skips, hash layout cannot") {
    val rows = graft.sources.SourceSinks.x38_skip_effectiveness(spark, sf)
      .collect()
    assert(rows.length == 6)
    val byKey = rows.map(r => ((r.getAs[String]("layout"),
      r.getAs[String]("pred")), r.getAs[Double]("skip_rate"))).toMap
    // every file in the hash layout spans ~the full date range: the
    // planner can never skip
    byKey.filterKeys(_._1 == "by_custkey_hash").values
      .foreach(s0 => assert(s0 == 0.0))
    // the year-clustered layout must skip for the narrow predicates
    assert(byKey(("by_year", "month_1996_06")) > 0.5)
    assert(byKey(("by_year", "quarter_1997_q1")) > 0.5)
    rows.foreach { r =>
      assert(r.getAs[Long]("files_hit") <= r.getAs[Long]("n_files"))
    }
  }

  test("x21 incremental scan reads ONLY the changed filesets, never A") {
    val df = graft.sources.SourceSinks.x21_incremental_scan(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // all four CDF verbs present, update pre/post pairs balanced
    val byType = rows.groupBy(_.getAs[String]("change_type")).view.mapValues(_.length).toMap
    assert(byType.keySet == Set("insert", "delete", "update_preimage", "update_postimage"))
    assert(byType("update_preimage") == byType("update_postimage"))
    // the incremental reader's plan scans the changed filesets (B removed,
    // C added) and NEVER the unchanged fileset A — the whole point of the
    // CDF contract at 100 TB
    val scans = Metrics.allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty)
    assert(roots.forall(p => p.endsWith("/B") || p.endsWith("/C")),
      s"scan touched a non-changed fileset: $roots")
  }

  test("x20 unified metrics sink: all families, lossless, conserved") {
    val rows = Metrics.x20_metrics_sink(spark, sf).collect()
    assert(rows.map(_.getAs[String]("family")).toSet ==
      Set("query", "stream", "replication"))
    // long-format contract: every sample fully labeled, no null values
    rows.foreach { r =>
      assert(r.getAs[String]("metric").nonEmpty)
      assert(r.getAs[String]("instance") != null)
      assert(!r.isNullAt(r.fieldIndex("value")))
    }
    // conservation vs the source gauges: per-query rows_out samples must
    // equal x06's counters exactly (the sink may not mangle a value)
    val sunk = rows.filter(r => r.getAs[String]("family") == "query" &&
        r.getAs[String]("metric") == "rows_out")
      .map(r => r.getAs[String]("instance") -> r.getAs[Long]("value")).toMap
    val src = Metrics.x06_query_metrics(spark, sf).collect()
      .map(r => r.getAs[String]("query") -> r.getAs[Long]("rows_out")).toMap
    assert(sunk == src)
    // replication gauges: one behind_lsn + one behind_time_ms per keepalive
    val rep = rows.filter(_.getAs[String]("family") == "replication")
    assert(rep.map(_.getAs[String]("metric")).toSet ==
      Set("behind_lsn", "behind_time_ms"))
    assert(rep.length % 2 == 0 && rep.nonEmpty)
  }

  test("x06 metrics listener reports true executed-plan counters") {
    val rows = Metrics.x06_query_metrics(spark, sf).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("query")).toSet ==
      Set("q01_pricing_agg", "c04_apply_latest", "d01_exact_dedup"))
    rows.foreach { r =>
      assert(r.getAs[String]("action") == "count")
      assert(r.getAs[Long]("rows_out") > 0)
      assert(r.getAs[Long]("scan_rows") >= r.getAs[Long]("rows_out"))
      assert(r.getAs[Long]("shuffle_records") > 0)
      assert(r.getAs[Long]("n_scans") >= 1 && r.getAs[Long]("n_exchanges") >= 1)
    }
    // rows_out is the true result cardinality, cross-checked per query
    val byName = rows.map(r => r.getAs[String]("query") -> r.getAs[Long]("rows_out")).toMap
    assert(byName("q01_pricing_agg") == ops.Relational.q01_pricing_agg(spark, sf).count())
    assert(byName("d01_exact_dedup") == ops.Dedup.d01_exact_dedup(spark, sf).count())
    // plan-derived counters are deterministic run-to-run
    val again = Metrics.x06_query_metrics(spark, sf).collect()
    assert(rows.map(r => (r.getAs[String]("query"), r.getAs[Long]("rows_out"),
      r.getAs[Long]("scan_rows"), r.getAs[Long]("n_scans"))).toSeq ==
      again.map(r => (r.getAs[String]("query"), r.getAs[Long]("rows_out"),
        r.getAs[Long]("scan_rows"), r.getAs[Long]("n_scans"))).toSeq)
  }

  test("x08 AQE splits the skewed join partition (skew=true in the plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      val (fact, dim) = sources.SourceSinks.skewedSides(spark, sf)
      val agg = sources.SourceSinks.skewJoinAgg(fact, dim)
      val got = agg.collect().map(_.toString).sorted
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in plan:\n${plan.take(2000)}")
      // and splitting must not change the answer
      saved.keys.foreach(conf.unset)
      val plain = sources.SourceSinks
        .skewJoinAgg(sources.SourceSinks.skewedSides(spark, sf)._1,
          sources.SourceSinks.skewedSides(spark, sf)._2)
        .collect().map(_.toString).sorted
      assert(got.sameElements(plain))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("x07 DPP prunes the day-partitioned scan to the dim's days") {
    val dir = Files.createTempDirectory("graft_dpp_spec")
    try {
      val fact = sources.SourceSinks.writeDayPartitioned(spark, sf, dir)
      val totalDays = fact.select("day").distinct().count()
      val selDays = sources.SourceSinks.dppJoin(spark, sf, fact).collect().length
      assert(selDays > 0 && selDays < totalDays / 2,
        s"dim not selective: $selDays of $totalDays days")
      val agg = sources.SourceSinks.dppJoin(spark, sf, fact)
      assert(agg.collect().length == selDays)
      val scans = PlanWalk.allNodes(agg.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
      val dynamic = scans.filter(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning")))
      assert(dynamic.nonEmpty, s"no dynamic-pruning scan among ${scans.size} scans")
      // the pruned scan touched only the selected day partitions
      val p = dynamic.head
      val nParts = p.metrics.get("numPartitions").map(_.value)
      val nFiles = p.metrics.get("numFiles").map(_.value)
      assert(nParts.forall(n => n > 0 && n <= selDays), s"numPartitions=$nParts")
      assert(nFiles.forall(n => n > 0 && n < totalDays), s"numFiles=$nFiles")
      assert(nParts.isDefined || nFiles.isDefined)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x05 bucketed join plans with no exchange and no sort below the join") {
    val dir = Files.createTempDirectory("graft_bucketed_spec")
    try {
      sources.SourceSinks.writeBucketed(spark, sf, dir)
      // force the non-broadcast path: bucketing must carry the join alone
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_lineitem_b")
          .join(spark.table("graft_orders_b"),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
        assert(joined.count() > 0)
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        assert(!plan.contains("Sort ("), s"bucketed join still sorts:\n$plan")
        // and the full x05 aggregate matches the plain (shuffled) join
        val bucketed = sources.SourceSinks.bucketedJoin(spark).collect().map(_.toString)
        val plain = Tables.lineitem(spark, sf)
          .join(Tables.orders(spark, sf),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
          .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_items"),
            org.apache.spark.sql.functions.round(
              org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.col("l_extendedprice") *
                  (org.apache.spark.sql.functions.lit(1.0) -
                    org.apache.spark.sql.functions.col("l_discount"))), 2).as("revenue"))
          .orderBy("o_orderpriority").collect().map(_.toString)
        assert(bucketed.sameElements(plain))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      graft.sources.SourceSinks.deleteDir(dir)
    }
  }

  test("x10 avro container files: per-partition files, embedded schema, exact roundtrip") {
    import graft.sources.AvroFiles
    val df = graft.cdc.Envelope.flat(Tables.events(spark, sf)).repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("graft_x10_spec")
    try {
      AvroFiles.write(df, dir.toString, "flat_event")
      // one container per non-empty partition, self-describing header
      val files = dir.toFile.listFiles().filter(_.getName.endsWith(".avro"))
      assert(files.length == 4)
      val rd = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
        files.head,
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try {
        assert(rd.getMetaString("avro.codec") == "snappy")
        val sch = rd.getSchema
        assert(sch.getName == "flat_event")
        // null unions exactly where Catalyst says nullable
        df.schema.fields.foreach { f =>
          val isUnion = sch.getField(f.name).schema().isUnion
          assert(isUnion == f.nullable, s"${f.name}: union=$isUnion nullable=${f.nullable}")
        }
      } finally rd.close()
      // row-exact roundtrip (timestamps to the micro, nulls preserved)
      val back = AvroFiles.read(spark, dir.toString, df.schema)
      assert(back.schema == df.schema)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x15 z-order layout: both dimensions prune; day-sort prunes one") {
    val rows = graft.sources.SourceSinks.x15_zorder_layout(spark, sf).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Double]("user_prune_frac"), r.getAs[Double]("day_prune_frac"),
          r.getAs[Boolean]("lossless"))).toMap
    val (zU, zD, zOk) = rows("zorder")
    val (sU, sD, sOk) = rows("sorted_day")
    assert(zOk && sOk, "a layout lost rows")
    // day-sorting: near-perfect day pruning, near-zero user pruning
    assert(sD >= 0.7, s"day-sorted layout should prune day probes: $sD")
    assert(sU <= 0.2, s"day-sorted layout cannot prune user probes: $sU")
    // z-order: BOTH dimensions prune meaningfully
    assert(zU >= 0.4, s"z-order should prune user probes: $zU")
    assert(zD >= 0.3, s"z-order should prune day probes: $zD")
  }

  test("x11 compaction: 64-file landing zone → ceil(bytes/target) files, content intact") {
    import org.apache.spark.sql.functions._
    val df = graft.cdc.Envelope.flat(Tables.events(spark, sf))
    val (compacted, before, after, dir) =
      graft.sources.SourceSinks.compactionRun(spark, df, targetBytes = 64L * 1024)
    try {
      assert(before == 64)
      assert(after < before, s"no compaction: $before -> $after")
      // content survives exactly
      assert(compacted.count() == df.count())
      assert(compacted.exceptAll(df).isEmpty && df.exceptAll(compacted).isEmpty)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x13 sorted layout tightens row-group date spans for skipping") {
    val rows = graft.sources.SourceSinks.x13_sorted_layout(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("natural", "sorted"))
    val (natural, sorted) = (rows("natural"), rows("sorted"))
    // natural order interleaves dates: spans near the full range;
    // range-partition + sort: each row group covers a narrow slice
    assert(sorted._2 < natural._2 / 4,
      s"sorted avg span ${sorted._2} not ≪ natural ${natural._2}")
    assert(sorted._3 < natural._3, "sorted max span did not shrink")
    assert(natural._1 > 0 && sorted._1 > 0)
  }

  test("x10 avro container roundtrips binary, date, and decimal columns") {
    import graft.sources.AvroFiles
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sf).limit(50)
      .select(col("event_id"),
        sha2(col("event_type"), 256).cast("binary").as("payload"),
        to_date(col("ts")).as("day"),
        col("value").cast("decimal(12,3)").as("dec"),
        when(col("event_id") % 3 === 0, col("props")).as("maybe_null"))
    val dir = java.nio.file.Files.createTempDirectory("graft_x10b_spec")
    try {
      AvroFiles.write(df, dir.toString, "typed_row")
      val back = AvroFiles.read(spark, dir.toString, df.schema)
      assert(back.schema == df.schema)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x16 time travel: v1 is byte-stable under the v2 commit") {
    val rows = graft.sources.SourceSinks.x16_time_travel(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("version")).toSeq == Seq(1, 2))
    val Seq(v1, v2) = rows.toSeq
    // both snapshots see every row; the commit rewrote, never deleted
    assert(v1.getAs[Long]("n_rows") == v2.getAs[Long]("n_rows"))
    assert(v1.getAs[Long]("n_rows") == Tables.orders(spark, sf).count())
    // v2 = v1 + 10.00 per odd-key order, exactly
    val nOdd = Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 1).count()
    assert(math.abs(v2.getAs[Double]("sum_price") -
      (v1.getAs[Double]("sum_price") + 10.0 * nOdd)) < 0.01)
  }

  test("x19 CDC table sink: two-commit merge ≡ full replay, file-backed") {
    val df = graft.sources.SourceSinks.x19_cdc_table_sink(spark, sf)
    val got = df.collect().map(r =>
      (r.getAs[Long]("pk"), r.getAs[Double]("value"), r.getAs[Long]("last_ord"))).toSet
    val full = graft.cdc.CdcQueries.queries("c04_apply_latest")(spark, sf)
      .collect().map(r =>
        (r.getAs[Long]("pk"), r.getAs[Double]("value"), r.getAs[Long]("last_ord"))).toSet
    assert(got == full, "merged table must equal the full-replay replica")
    // the replica must come back as a FILE scan — a LocalTableScan here
    // would mean the lane collected the replica through the driver
    val nodes = Metrics.allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.FileSourceScanExec]),
      s"replica not file-backed:\n${df.queryExecution.executedPlan}")
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]))
  }

  test("x18 vacuum deletes exactly the unreferenced filesets, v2 intact") {
    val (out, deleted, remaining, dir) = graft.sources.SourceSinks.vacuumRun(spark, sf)
    try {
      assert(deleted == Seq("B", "D_orphan"),
        s"vacuum must GC the expired fileset and the orphan: $deleted")
      assert(remaining.contains("A") && remaining.contains("C") &&
        remaining.contains("manifest"))
      // the expired version is gone from the manifest
      val versions = spark.read.parquet(s"$dir/manifest")
        .select("version").distinct().collect().map(_.getInt(0)).toSet
      assert(versions == Set(2))
      // and the surviving snapshot reads exactly like x16's v2
      val v2 = out.collect().head
      val x16v2 = graft.sources.SourceSinks.x16_time_travel(spark, sf)
        .filter(org.apache.spark.sql.functions.col("version") === 2).collect().head
      assert(v2.getAs[Long]("n_rows") == x16v2.getAs[Long]("n_rows"))
      assert(math.abs(v2.getAs[Double]("sum_price") - x16v2.getAs[Double]("sum_price")) < 0.01)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x17 merge upsert: matched update + unmatched insert + carry-over") {
    import org.apache.spark.sql.functions._
    val merged = graft.sources.SourceSinks.x17_merge_upsert(spark, sf)
    val customers = Tables.customer(spark, sf)
    val nCust = customers.count()
    val inserted = merged.filter(col("c_mktsegment") === "NEW")
    val nIns = inserted.count()
    assert(merged.count() == nCust + nIns, "merge never drops target rows")
    assert(nIns > 0, "the shifted key range must insert")
    inserted.collect().foreach { r =>
      assert(r.getAs[Long]("c_custkey") >= 1000000L)
      assert(r.getAs[String]("c_name").startsWith("Customer#new#"))
    }
    // carry-over rows (no 1997 activity) keep their balance bit-exactly
    val untouched = merged.as("m")
      .join(customers.as("c"), col("m.c_custkey") === col("c.c_custkey"))
      .filter(col("m.c_acctbal") =!= round(col("c.c_acctbal"), 2))
    // every changed row must correspond to a 1997-active customer
    val active = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1997)
      .select(col("o_custkey")).distinct()
    val badChanged = untouched.join(active,
      col("m.c_custkey") === col("o_custkey"), "left_anti").count()
    assert(badChanged == 0, "only 1997-active customers may change balance")
  }

  test("x22 table stats equal direct per-column aggregates, one scan") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.SourceSinks.x22_table_stats(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getAs[String]("column_name")).sorted.toSeq ==
      graft.sources.SourceSinks.statsColumns.sorted)
    val li = Tables.lineitem(spark, sf)
    val byCol = rows.map(r => r.getAs[String]("column_name") -> r).toMap
    // spot-check three columns against independent single-column aggs
    Seq("l_quantity", "l_linenumber", "l_orderkey").foreach { c =>
      val r = byCol(c)
      val direct = li.agg(
        countDistinct(col(c)).as("ndv"),
        min(col(c)).cast("double").as("mn"),
        max(col(c)).cast("double").as("mx")).collect().head
      assert(r.getAs[Long]("n_distinct") == direct.getAs[Long]("ndv"), s"$c ndv")
      assert(r.getAs[Double]("min_v") == direct.getAs[Double]("mn"), s"$c min")
      assert(r.getAs[Double]("max_v") == direct.getAs[Double]("mx"), s"$c max")
      assert(r.getAs[Long]("n_nulls") == 0L, s"$c nulls")
    }
    val ship = byCol("l_shipdate")
    val us = li.agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).cast("double"),
      max(unix_micros(col("l_shipdate").cast("timestamp"))).cast("double")).collect().head
    assert(ship.getAs[Double]("min_v") == us.getDouble(0))
    assert(ship.getAs[Double]("max_v") == us.getDouble(1))
    // ONE pass: exactly one lineitem file scan in the executed plan
    val scans = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"x22 must scan lineitem once, got ${scans.length}")
  }

  test("x23 dynamic overwrite touches ONLY the correction batch's partitions") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_x23spec")
    try {
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("value"),
          to_date(col("ts")).as("day"))
      ev.write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
      def listing(): Map[String, (Long, Long)] = {
        val walk = java.nio.file.Files.walk(dir.resolve("t"))
        try walk.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => dir.resolve("t").relativize(p).toString ->
            (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap
        finally walk.close()
      }
      val before = listing()
      val isTouched = (day: String) => // day=YYYY-MM-DD partition dir prefix
        java.time.LocalDate.parse(day.stripPrefix("day=").take(10))
          .toEpochDay % 5 == 0
      val upd = ev
        .filter(pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(5)) === 0)
        .withColumn("value", col("value") + 1.0)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      try upd.write.partitionBy("day").mode("overwrite").parquet(s"$dir/t")
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      val after = listing()
      val untouchedBefore = before.filter { case (p, _) => !isTouched(p) }
      val untouchedAfter = after.filter { case (p, _) => !isTouched(p) }
      assert(untouchedBefore.nonEmpty && untouchedBefore == untouchedAfter,
        "untouched partitions must keep identical files (path, size, mtime)")
      val touchedBefore = before.keySet.filter(isTouched)
      val touchedAfter = after.keySet.filter(isTouched)
      assert(touchedBefore.nonEmpty, "fixture must touch at least one partition")
      assert(touchedBefore.intersect(touchedAfter).isEmpty,
        "touched partitions must have entirely new files")
      // final state: touched days carry +1.0 per row, untouched unchanged
      val got = spark.read.parquet(s"$dir/t")
        .groupBy("day").agg(round(sum("value"), 2).as("sv"), count(lit(1)).as("n"))
      val exp = ev.withColumn("value",
          when(pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(5)) === 0,
            col("value") + 1.0).otherwise(col("value")))
        .groupBy("day").agg(round(sum("value"), 2).as("sv"), count(lit(1)).as("n"))
      assert(got.collect().map(_.toSeq).toSet == exp.collect().map(_.toSeq).toSet)
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x24 bloom pre-filter cuts the fact side yet the join result is exact") {
    import org.apache.spark.sql.functions._
    val (out, (nPre, nFact)) = graft.sources.SourceSinks.bloomJoinRun(spark, sf)
    val got = out.collect().map(_.toSeq).toSeq
    // transparent vs the plain join (false positives die in the join)
    val exp = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1996),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(month(col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_items"),
        (expr("((sum(cast(round(l_extendedprice * 100) as bigint) * " +
          "(100 - cast(round(l_discount * 100) as bigint))) + 50) div 100)")
          / lit(100.0)).as("revenue"))
      .orderBy("order_month")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp)
    // the point of the op: the shuffle-bound row count actually shrank
    // (urgent-1996 is a small slice; fpp 0.01 adds ~1% of the rest)
    assert(nPre < nFact / 2, s"bloom kept $nPre of $nFact fact rows")
    assert(nPre > 0)
  }

  test("x25 WAP: passing audit publishes, failing audit leaves state untouched") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x25_write_audit_publish(spark, sf)
      .collect()
    assert(rows.length == 3)
    val base = Tables.orders(spark, sf).count()
    val c97 = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1997).count()
    val c98 = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1998).count()
    val r1 = rows(0); val r2 = rows(1); val r3 = rows(2)
    assert(r1.getAs[Boolean]("published") && r1.getAs[Long]("visible_rows") == base)
    // clean batch publishes and becomes visible
    assert(r2.getAs[Boolean]("published"))
    assert(r2.getAs[Long]("audited_rows") == c97 && r2.getAs[Long]("null_keys") == 0)
    assert(r2.getAs[Long]("visible_rows") == base + c97)
    // dirty batch is audited, refused, and INVISIBLE: the reader-facing
    // count after commit 3 equals the count after commit 2
    assert(!r3.getAs[Boolean]("published"))
    assert(r3.getAs[Long]("audited_rows") == c98)
    assert(r3.getAs[Long]("null_keys") > 0)
    assert(r3.getAs[Long]("visible_rows") == base + c97)
  }

  test("x23 operator output equals the in-place recompute") {
    import org.apache.spark.sql.functions._
    val got = graft.sources.SourceSinks.x23_partition_overwrite(spark, sf)
      .collect().map(_.toSeq).toSet
    val exp = Tables.events(spark, sf)
      .select(col("user_id"), col("value"), to_date(col("ts")).as("day"))
      .withColumn("value",
        when(pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(5)) === 0,
          col("value") + 1.0).otherwise(col("value")))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"),
        sum("user_id").as("sum_user"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == exp)
  }

  test("x29 constraints: clean data passes all, planted violations fail") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x29_quality_constraints(spark, sf)
      .collect()
    assert(rows.length == 7)
    // this corpus is clean — every constraint passes at metric 1.0
    rows.foreach { r =>
      assert(r.getAs[Int]("passed") == 1, r.getAs[String]("constraint_name"))
      assert(r.getAs[Double]("metric") == 1.0)
    }
    // counter-check the metrics against direct recomputes
    val li = Tables.lineitem(spark, sf)
    assert(li.filter(col("l_discount") < 0 || col("l_discount") > 0.1).count() == 0)
    assert(li.filter(!col("l_returnflag").isin("A", "N", "R")).count() == 0)
    val o = Tables.orders(spark, sf)
    assert(o.select("o_orderkey").distinct().count() == o.count())
  }

  test("x28 both schemes agree and each prunes to its own directory set") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x28_partition_evolution(spark, sf)
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n_events") == rows(1).getAs[Long]("n_events"))
    assert(rows(0).getAs[Double]("sum_value") == rows(1).getAs[Double]("sum_value"))
    assert(rows(0).getAs[Long]("n_events") > 0, "boundary-crossing range empty")
    // pruning evidence on a fresh layout: the day filter must touch ≤10
    // day dirs, the month filter exactly the two boundary months
    val dir = java.nio.file.Files.createTempDirectory("graft_pevo_spec")
    try {
      val ev = Tables.events(spark, sf)
        .withColumn("ts", when(pmod(col("event_id"), lit(3)) === 0,
          col("ts") + expr("INTERVAL 7 DAYS")).otherwise(col("ts")))
        .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
        .withColumn("month", date_format(to_date(col("ts")), "yyyy-MM"))
      ev.write.partitionBy("day").parquet(s"$dir/v1")
      ev.write.partitionBy("month").parquet(s"$dir/v2")
      // inputFiles reflects the UNPRUNED relation — read the pruned
      // partition counts off the executed scan instead (x07's method)
      def prunedParts(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect() // execute so scan metrics populate
        PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.partitionFilters.nonEmpty => f
        }.head.metrics("numPartitions").value
      }
      val dayQ = spark.read.parquet(s"$dir/v1")
        .filter(col("day") >= graft.sources.SourceSinks.EvoLo &&
          col("day") <= graft.sources.SourceSinks.EvoHi)
        .groupBy().count()
      val nDay = prunedParts(dayQ)
      // 2024-01-25..2024-02-04 inclusive = 11 calendar days
      assert(nDay > 1 && nDay <= 11, s"day partitions scanned: $nDay")
      val monthQ = spark.read.parquet(s"$dir/v2")
        .filter(col("month") >= "2024-01" && col("month") <= "2024-02")
        .groupBy().count()
      assert(prunedParts(monthQ) == 2, "month scheme must scan the 2 boundary months")
    } finally graft.sources.SourceSinks.deleteDir(dir)
  }

  test("x27 row-group stats cover the data and hold the sorted-layout invariant") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x27_rowgroup_stats(spark, sf).collect()
    val orders = Tables.orders(spark, sf)
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).collect().head
    // coverage: row counts sum to the table, stats span the key range
    assert(rows.map(_.getAs[Long]("n_rows")).sum == orders.getLong(0))
    assert(rows.map(_.getAs[Long]("min_key")).min == orders.getLong(1))
    assert(rows.map(_.getAs[Long]("max_key")).max == orders.getLong(2))
    // the 64 KB block size must actually split files into row groups
    val perFile = rows.groupBy(_.getAs[Int]("file_ord"))
    assert(perFile.values.exists(_.length > 1), "no file has >1 row group")
    perFile.values.foreach { rgs =>
      // within a sorted file, consecutive row groups must not overlap —
      // the property that makes min/max stats prunable
      rgs.sortBy(_.getAs[Int]("rg_idx")).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("max_key") <= b.getAs[Long]("min_key"),
            "row-group key ranges overlap in a sorted file")
        case _ => ()
      }
      rgs.foreach(r => assert(r.getAs[Long]("min_key") <= r.getAs[Long]("max_key")))
    }
  }

  test("x26 deletion vectors reconstruct predicate-delete semantics") {
    import org.apache.spark.sql.functions._
    val got = graft.sources.SourceSinks.x26_deletion_vectors(spark, sf)
      .collect().map(_.toSeq).toSet
    val exp = Tables.orders(spark, sf)
      .filter(!(col("o_orderstatus") === "F" &&
        pmod(col("o_orderkey"), lit(7)) === 0))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"),
        sum((pmod(col("o_orderkey"), lit(7)) === 0).cast("long")).as("n_stripe"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == exp)
    // the DV must have deleted real rows: F-status survivors keep ZERO
    // stripe rows, other statuses keep theirs
    val byStatus = graft.sources.SourceSinks.x26_deletion_vectors(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_stripe")).toMap
    assert(byStatus("F") == 0, "deleted stripe rows survived in F")
    assert(byStatus.exists { case (k, v) => k != "F" && v > 0 },
      "non-F statuses must retain stripe rows — otherwise the DV deleted too much")
  }

  test("x30 rollback restores v1 exactly and is metadata-only") {
    val rows = graft.sources.SourceSinks.x30_snapshot_rollback(spark, sf)
      .collect().sortBy(_.getAs[Int]("version"))
    assert(rows.length == 3)
    val Array(v1, v2, v3) = rows
    // rollback target ≡ original content
    assert(v3.getAs[Long]("n_rows") == v1.getAs[Long]("n_rows"))
    assert(v3.getAs[Double]("sum_price") == v1.getAs[Double]("sum_price"))
    // the rewrite actually changed v2 (the rollback is not vacuous)
    assert(v2.getAs[Double]("sum_price") > v1.getAs[Double]("sum_price"))
    // only the rollback commit reuses an earlier fileset list wholesale
    assert(rows.map(_.getAs[Int]("is_rollback")).toSeq == Seq(0, 0, 1))
    rows.foreach(r => assert(r.getAs[Long]("n_filesets") == 2L))
  }

  test("x31 GC reclaims exactly the unreferenced fileset") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x31_orphan_gc(spark, sf)
      .collect().sortBy(_.getAs[String]("fileset"))
    assert(rows.map(_.getAs[String]("fileset")).toSeq == Seq("A", "B", "C"))
    val orders = Tables.orders(spark, sf)
    val expect = Seq(
      ("A", orders.filter(pmod(col("o_orderkey"), lit(2)) === 0).count(), 1, 0),
      ("B", orders.filter(pmod(col("o_orderkey"), lit(2)) === 1).count(), 1, 0),
      ("C", orders.filter(pmod(col("o_orderkey"), lit(5)) === 0).count(), 0, 1))
    rows.zip(expect).foreach { case (r, (f, n, ref, del)) =>
      assert(r.getAs[String]("fileset") == f)
      assert(r.getAs[Long]("n_rows") == n, s"fileset $f rows")
      assert(r.getAs[Int]("referenced") == ref)
      assert(r.getAs[Int]("deleted") == del)
    }
  }

  test("x35 encoding audit covers every column with sane byte accounting") {
    val rows = graft.sources.SourceSinks.x35_encoding_audit(spark, sf).collect()
    val cols = Tables.orders(spark, sf).columns.toSet
    assert(rows.map(_.getAs[String]("column")).toSet == cols,
      "every data column must appear exactly once")
    rows.foreach { r =>
      assert(r.getAs[Long]("compressed_bytes") > 0)
      assert(r.getAs[Long]("uncompressed_bytes") >=
        r.getAs[Long]("compressed_bytes") / 2, // snappy can pad tiny columns
        s"${r.getAs[String]("column")}: byte accounting")
      assert(r.getAs[String]("encodings").nonEmpty)
      assert(r.getAs[Double]("ratio") > 0.0)
    }
    // the low-cardinality status column must dictionary-encode
    val status = rows.find(_.getAs[String]("column") == "o_orderstatus").get
    assert(status.getAs[Boolean]("uses_dictionary"),
      "o_orderstatus (3 distinct values) must use dictionary encoding")
  }

  test("x33 zone-map scan prunes files and equals the full-scan filter") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_zmspec")
    try {
      val layout = graft.sources.SourceSinks.zoneMapLayout(spark, sf, dir)
      assert(layout.length >= 3, "layout must have enough files to prune")
      val hit = layout.filter { case (_, y) => y >= 1995 && y <= 1997 }.map(_._1)
      assert(hit.length < layout.length, "the manifest must actually skip files")
      val pruned = spark.read.parquet(hit: _*)
        .filter(col("o_orderdate") >= lit("1995-06-01") &&
          col("o_orderdate") < lit("1997-03-01"))
      // the executed scan sees ONLY manifest-selected files
      pruned.collect()
      val scanned = pruned.inputFiles
        .map(f => new java.net.URI(f).getPath).toSet
      assert(scanned.subsetOf(hit.map(p =>
        java.nio.file.Paths.get(p).toUri.getPath).toSet))
      // and the pruned answer equals the unpruned one
      val full = spark.read.parquet(layout.map(_._1): _*)
        .filter(col("o_orderdate") >= lit("1995-06-01") &&
          col("o_orderdate") < lit("1997-03-01"))
      assert(pruned.count() == full.count())
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("x34 CoW delete rewrites only candidate files; others byte-identical") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_cowspec")
    try {
      val layout = graft.sources.SourceSinks.zoneMapLayout(spark, sf, dir)
      val untouched = layout.filter(_._2 != 1996).map(_._1)
      val before = untouched.map(p =>
        p -> java.util.Arrays.hashCode(
          Files.readAllBytes(java.nio.file.Paths.get(p)))).toMap
      // same rewrite the lane performs
      layout.filter(_._2 == 1996).foreach { case (path, _) =>
        val p = java.nio.file.Paths.get(path)
        val tmp = p.resolveSibling(p.getFileName.toString + ".rewrite")
        graft.sources.SourceSinks.landSingleParquet(
          spark.read.parquet(path).filter(
            !(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1996-07-01"))), tmp)
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      untouched.foreach { p =>
        assert(java.util.Arrays.hashCode(
          Files.readAllBytes(java.nio.file.Paths.get(p))) == before(p),
          s"non-candidate file was rewritten: $p")
      }
      // the rewritten table holds zero rows in the deleted range and
      // every out-of-range row survived
      val after = spark.read.parquet(layout.map(_._1): _*)
      val inRange = after.filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01")).count()
      assert(inRange == 0L)
      val expect = Tables.orders(spark, sf).filter(
        !(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-07-01"))).count()
      assert(after.count() == expect)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  test("x32 clone diverges copy-on-write; source content untouched") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.SourceSinks.x32_shallow_clone(spark, sf)
      .collect().sortBy(_.getAs[String]("tbl"))
    assert(rows.map(_.getAs[String]("tbl")).toSeq == Seq("clone", "source"))
    val Array(clone, src) = rows
    val orders = Tables.orders(spark, sf)
    val n = orders.count()
    val extra = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0).count()
    // source serves exactly its original rows; clone = source + append
    assert(src.getAs[Long]("n_rows") == n)
    assert(clone.getAs[Long]("n_rows") == n + extra)
    // zero-copy: the clone owns ONLY its divergent fileset
    assert(src.getAs[Long]("n_files_owned") == 2L)
    assert(clone.getAs[Long]("n_files_owned") == 1L)
  }
}
