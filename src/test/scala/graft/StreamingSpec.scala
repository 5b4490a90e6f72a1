package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQueries

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("s10 streaming envelope decode equals the batch per-op stats") {
    import org.apache.spark.sql.functions._
    val streamed = streaming.StreamingQueries
      .s10_stream_envelope_decode(spark, sf).collect()
    assert(streamed.nonEmpty)
    // every decoded message passed the framing + fingerprint check
    streamed.foreach(r =>
      assert(r.getAs[Long]("n_ok") == r.getAs[Long]("n")))
    val batch = cdc.Envelope.flat(Tables.events(spark, sf))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"), max("lsn_long").as("max_lsn"),
        round(sum("after_value"), 2).as("sum_after"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)))).toSet
    val got = streamed.map(r => (r.getString(0), r.getAs[Long]("n"),
      r.getAs[Long]("max_lsn"), Option(r.get(4)))).toSet
    assert(got == batch)
  }

  test("watermarked streaming agg equals batch tumbling agg") {
    val batch = StreamingQueries.s01_tumbling_window(spark, sf)
      .drop("n_users")
      .collect().map(_.toSeq).toSet
    val streamed = StreamingQueries.s05_watermark_agg(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val batch = StreamingQueries.s07_interval_join(spark, sf)
      .collect().map(_.toSeq).toSet
    val streamed = StreamingQueries.s08_stream_stream_join(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful counter equals the batch lifetime aggregate") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        max(unix_micros(col("ts"))).as("last_us"))
      .collect().map(_.toSeq).toSet
    val streamed = StreamingQueries.s09_stateful_counter(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("sessions are disjoint and ordered") {
    val rows = StreamingQueries.s02_sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, sess) =>
      val sorted = sess.sortBy(_.getAs[Long]("session_idx"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts > 30 min after previous ends
          assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") > 30L * 60 * 1000000)
        case _ =>
      }
    }
  }

  test("x09 stream progress gauges: input conservation, state, batch order") {
    val rows = streaming.StreamMetrics.x09_stream_progress(spark, sf).collect()
    assert(rows.nonEmpty)
    // every ingested row is accounted for across the batch series
    val totalIn = rows.map(_.getAs[Long]("num_input_rows")).sum
    assert(totalIn == Tables.events(spark, sf).count())
    // the aggregation holds state, and some batch updated it
    assert(rows.exists(_.getAs[Long]("state_rows_total") > 0))
    assert(rows.exists(_.getAs[Long]("state_rows_updated") > 0))
    assert(rows.forall(_.getAs[Int]("n_state_operators") >= 1))
    // batch ids strictly increase (one progress row per micro-batch);
    // note state_rows_total MAY shrink batch-over-batch — the watermark
    // evicts windows it has closed, which is exactly the bounded-state
    // behavior the gauge exists to observe
    val ids = rows.map(_.getAs[Long]("batch_id"))
    assert(ids.sameElements(ids.sorted) && ids.distinct.length == ids.length)
  }

  test("s13 restart resumes from the checkpoint: second run reads only new files") {
    import org.apache.spark.sql.functions._
    val (res, inputs) = StreamingQueries.checkpointResumeRun(spark, sf)
    val evs = Tables.events(spark, sf)
    val half0 = evs.filter(col("event_id") % 2 === 0).count()
    val half1 = evs.filter(col("event_id") % 2 === 1).count()
    assert(inputs == Seq(half0, half1),
      s"exactly-once violated: inputs=$inputs halves=($half0, $half1)")
    // the restored state + second half = the full aggregation
    val expected = evs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    assert(res.exceptAll(expected).isEmpty && expected.exceptAll(res).isEmpty)
  }

  test("s11 watermark drops exactly the late batch; result = on-time agg") {
    import org.apache.spark.sql.functions._
    val (res, dropped) = StreamingQueries.lateDataRun(spark, sf)
    val evs = Tables.events(spark, sf)
    val cutoff = evs
      .agg((date_trunc("DAY", min(col("ts"))) + expr("INTERVAL 1 DAY")).as("c"))
      .head().getTimestamp(0)
    val late = evs.filter(col("ts") < lit(cutoff)).count()
    assert(late > 0, "no late rows planted — data span shrank?")
    // numRowsDroppedByWatermark counts state-store inputs, i.e. the
    // map-side PARTIAL aggregates of the late rows — bounded below by the
    // distinct late (window, event_type) groups and above by the raw rows
    val lateGroups = evs.filter(col("ts") < lit(cutoff))
      .select((floor(unix_micros(col("ts")) / 21600000000L) * 21600000000L).as("w"),
        col("event_type")).distinct().count()
    assert(dropped >= lateGroups && dropped <= late,
      s"dropped=$dropped lateGroups=$lateGroups late=$late")
    val expected = StreamingQueries.tumblingAgg(
      evs.filter(col("ts") >= lit(cutoff)), distinctUsers = false)
    assert(res.exceptAll(expected).isEmpty && expected.exceptAll(res).isEmpty)
    // and the dropped windows really are absent: nothing before the cutoff
    // (the cutoff is a midnight, so it is 6-hour-window aligned)
    assert(res.agg(min("window_start_us")).head().getLong(0) >=
      cutoff.getTime * 1000L)
  }

  test("s18 streaming anomaly windows equal the batch recompute; flags track z") {
    val rows = StreamingQueries.s18_stream_anomaly(spark, sf).collect()
    val nWindows = StreamingQueries.tumblingAgg(
      Tables.events(spark, sf), distinctUsers = false).count()
    assert(rows.length == nWindows, "one scored row per closed window")
    rows.foreach { r =>
      val z = r.getAs[Double]("z")
      assert(r.getAs[Int]("is_anomaly") == (if (math.abs(z) > 2.0) 1 else 0))
    }
    val nAnom = rows.map(_.getAs[Int]("is_anomaly")).sum
    // the synthetic stream has real outlier windows, but z>2 must stay a
    // minority — a baseline that flags everything (or nothing its own
    // history produced) is miscalibrated
    assert(nAnom > 0 && nAnom < rows.length / 5, s"$nAnom of ${rows.length}")
  }

  test("s23 streaming histogram equals the batch q51 row for row") {
    val got = StreamingQueries.s23_stream_histogram(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q51_histogram(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "streamed per-bucket fold must reproduce the batch histogram exactly")
  }

  test("s22 streaming cusum equals the batch q55 row for row") {
    val got = StreamingQueries.s22_stream_cusum(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q55_cusum_changepoint(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "streaming accumulated state must reproduce the batch CUSUM exactly")
  }

  test("s21 streaming left-outer join equals the batch LEFT JOIN, nulls included") {
    import org.apache.spark.sql.functions._
    val got = StreamingQueries.s21_stream_outer_join(spark, sf)
      .collect().map(_.toSeq).toSet
    val ev = Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("value").as("cv"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val exp = p.join(c, col("user_id") === col("cu") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"), "left_outer")
      .groupBy(col("event_id"))
      .agg(count(col("cu")).as("n_clicks_30m"),
        round(sum("cv"), 2).as("click_value"))
      .collect().map(_.toSeq).toSet
    assert(got == exp, "streaming outer join must equal the batch left join")
    // the outer rows are the point: purchases with zero prior clicks must
    // be present (with a NULL click_value), proving watermark eviction
    // actually emitted the unmatched state instead of dropping it
    val zeros = got.count(_(1) == 0L)
    assert(zeros > 0, "no unmatched purchases emitted — outer rows lost")
    assert(got.size == p.count(), "every purchase appears exactly once")
  }

  test("s28 streaming constraints equal x29's lineitem report rows") {
    val got = StreamingQueries.s28_stream_constraints(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = sources.SourceSinks.x29_quality_constraints(spark, sf)
      .filter(org.apache.spark.sql.functions.col("table_name") === "lineitem")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "the continuous gate must converge to the batch validation")
  }

  test("s27 streaming skyline equals the batch q59 row for row") {
    val got = StreamingQueries.s27_stream_skyline(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q59_skyline(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "late cheap parts must evict previously-reported frontier points")
  }

  test("s26 streaming EWMA equals the batch q65 row for row") {
    val got = StreamingQueries.s26_stream_ewma(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q65_ewma(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "late batches must re-weight the whole smoothed series")
  }

  test("s29 streaming gap fill equals the batch q60 row for row") {
    val got = StreamingQueries.s29_stream_gap_fill(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q60_gap_fill(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "streamed day-map fold + spine rebuild must match the batch gap fill")
  }

  test("s25 splice state is horizon-bounded and beyond-horizon events drop") {
    import spark.implicits._
    // user 0: 11 early events (us 0..100), 11 much-later events
    // (us 10000..10100), then a beyond-horizon straggler at us=5
    val early = (0 until 11).map(i => (i.toLong, 0L,
      Seq("view", "click", "purchase")(i % 3), i * 10L))
    val late = (0 until 11).map(i => (100L + i, 0L,
      Seq("click", "view")(i % 2), 10000L + i * 10L))
    val straggler = Seq((999L, 0L, "purchase", 5L))
    val parts = Seq(early, late, straggler)
      .map(_.toDF("event_id", "user_id", "event_type", "us"))
    val H = 500L // horizon ≪ the 10000-us gap: early prefix finalizes
    val em = StreamingQueries.streamTransitions(spark, parts, H)
      .collect().sortBy(_.getAs[Long]("seq"))
    assert(em.length == 3)
    val fin = em.last
    // the straggler splices before the finalized boundary → dropped
    assert(fin.getAs[Long]("n_dropped") == 1L)
    // state holds only the in-horizon tail, not the 22-event history
    assert(em.map(_.getAs[Int]("n_state")).max <= 11)
    assert(fin.getAs[Int]("n_state") == 11)
    // counts still equal the reference fold over the non-dropped events
    val all = (early ++ late).sortBy(e => (e._4, e._1))
    val expect = all.map(_._3).sliding(2).filter(_.size == 2)
      .map(p => (p.head, p(1))).toSeq
      .groupBy(identity).map { case ((a, b), v) => (a, b, v.size.toLong) }
      .toSeq.sorted
    val got = fin.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(got == expect)
  }

  test("s25 streaming transitions equal the batch q49 row for row") {
    val got = StreamingQueries.s25_stream_transitions(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q49_transition_matrix(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "late-event splices must rewrite already-emitted transitions")
  }

  test("s24 streaming funnel equals the batch q44 row for row") {
    val got = StreamingQueries.s24_stream_funnel(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q44_funnel(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "stateful per-user candidate fold must converge to the batch funnel")
    // the k=8 candidate slots genuinely suffice: no user has more than
    // 8 clicks before their final first view (resp. purchases before
    // their anchor click) — the bound under which the k-min state is
    // exact
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val W = 6L * 3600 * 1000000
    val worst = evs.groupBy(_._1).values.flatMap { g =>
      val vs = g.filter(_._2 == "view")
      if (vs.isEmpty) None
      else {
        val tv = vs.map(_._3).min
        val before = g.count(e => e._2 == "click" && e._3 <= tv)
        val inW = g.filter(e => e._2 == "click" && e._3 > tv && e._3 <= tv + W)
        val pBefore = if (inW.isEmpty) 0
          else g.count(e => e._2 == "purchase" && e._3 <= inW.map(_._3).min)
        Some(math.max(before, pBefore))
      }
    }
    assert(worst.isEmpty || worst.max <= 8,
      s"k=8 insufficient for s24: margin ${worst.max}")
  }

  test("s24/s31 k-min bound violations are observable via n_evicted") {
    import spark.implicits._
    // user 0 is >k-crowded for k=2: 5 clicks and 5 purchases land
    // across two batches; user 1 stays under every bound
    val b0 = Seq((0L, "view", 0L), (0L, "click", 10L), (0L, "click", 20L),
      (0L, "purchase", 30L), (0L, "purchase", 40L), (1L, "view", 0L),
      (1L, "click", 15L))
    val b1 = Seq((0L, "click", 50L), (0L, "click", 60L), (0L, "click", 70L),
      (0L, "purchase", 80L), (0L, "purchase", 90L), (0L, "purchase", 95L),
      (1L, "purchase", 25L))
    val parts = Seq(b0, b1).map(_.toDF("user_id", "event_type", "us"))
    val W = 1000L
    // tight bound: the crowded user MUST report evictions...
    val tight = StreamingQueries.streamFunnel(spark, parts, 2, W)
      .collect()
    val ev0 = tight.filter(_.getAs[Long]("user_id") == 0L)
      .map(_.getAs[Long]("n_evicted")).max
    assert(ev0 > 0, "k=2 on a 5-click/5-purchase user must evict observably")
    // ...and the uncrowded user must not
    assert(tight.filter(_.getAs[Long]("user_id") == 1L)
      .forall(_.getAs[Long]("n_evicted") == 0L))
    // roomy bound: zero evictions ⇒ the fold was provably exact
    val roomy = StreamingQueries.streamFunnel(spark, parts, 64, W)
      .collect()
    assert(roomy.forall(_.getAs[Long]("n_evicted") == 0L))
    // same discipline for the s31 engine
    val t2 = StreamingQueries.streamTimeToConvert(spark, parts, 2)
      .collect()
    assert(t2.filter(_.getAs[Long]("user_id") == 0L)
      .map(_.getAs[Long]("n_evicted")).max > 0)
    assert(t2.filter(_.getAs[Long]("user_id") == 1L)
      .forall(_.getAs[Long]("n_evicted") == 0L))
    val t64 = StreamingQueries.streamTimeToConvert(spark, parts, 64)
      .collect()
    assert(t64.forall(_.getAs[Long]("n_evicted") == 0L))
    // the production lanes run at k=64: this corpus never evicts, so
    // every depth/(fv,fp) the snapshot folds is exact by the counter
    // argument, not just by twin equality
  }

  test("s30 streaming Benford equals the batch q76 row for row") {
    val got = StreamingQueries.s30_stream_benford(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q76_benford(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "streamed digit fold must match the batch first-digit profile")
  }

  test("s32 streaming HHI equals the batch q87 row for row; state is dimension-bounded") {
    val got = StreamingQueries.s32_stream_hhi(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q87_hhi(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "per-market supplier-revenue fold must land q87's profile exactly")
    // the state bound really is the supplier dimension, not the stream:
    // no market can hold more entries than there are suppliers
    val nSup = Tables.supplier(spark, sf).count()
    got.foreach(r => assert(r(1).asInstanceOf[Long] <= nSup))
  }

  test("a streaming twin leaves no temp view, active query or scratch dir behind") {
    // one keyed engine, one global fold, one exploded-array fold, one
    // former driver map and one aggregate twin
    // the harness's scratch prefix: other test JVMs share the temp dir
    // and keep graft_* dirs of other lanes until they exit (x21's)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(): Set[String] =
      Option(tmp.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("graft_twin"))
        .map(_.getName).toSet
    def views(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    Seq("s24_stream_funnel", "s30_stream_benford", "s35_stream_balance",
      "s22_stream_cusum", "s44_stream_abc").foreach { lane =>
      val (views0, scratch0) = (views(), scratch())
      assert(spark.streams.active.isEmpty)
      assert(StreamingQueries.queries(lane)(spark, sf).collect().nonEmpty)
      assert(views() == views0, s"$lane left temp views ${views() -- views0}")
      assert(spark.streams.active.isEmpty,
        s"$lane left active queries ${spark.streams.active.map(_.name).toSeq}")
      // another JVM's twin holds its dirs for a while; a leaked dir is
      // one that never goes away
      var left = scratch() -- scratch0
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (left.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(1000)
        left = left.filter(n => new java.io.File(tmp, n).exists)
      }
      assert(left.isEmpty, s"$lane left scratch dirs $left")
    }
  }

  test("snapshotTwin scratch is bounded by key space after ≥8 triggers") {
    import org.apache.spark.sql.functions._
    // The round-12 design appended every trigger's update-mode emission
    // forever — O(triggers × touched keys) scratch, unbounded on a
    // perpetual stream. The compacting harness must keep the committed
    // state at ≤ one row per key no matter how many triggers ran.
    val feed = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
    val keySpace = feed.select("l_partkey").distinct().count()
    var probed = false
    val panel = StreamingQueries.snapshotTwin(
      spark, feed, col("l_orderkey"), Seq("l_partkey"),
      Seq(sum("cents").as("rc")), nShards = 8,
      probe = (ss, stateRoot, nBatches) => {
        assert(nBatches >= 8,
          s"8 shards at one file per trigger must run ≥8 batches, got $nBatches")
        val scratchRows = StreamingQueries.snapshotPanel(ss, stateRoot).count()
        assert(scratchRows <= keySpace,
          s"compacted scratch ($scratchRows rows) must be bounded by the " +
            s"key space ($keySpace), not by trigger count")
        probed = true
      })(p => p.select(col("l_partkey"), col("rc")))
    assert(probed, "probe must have run before the scratch dirs died")
    // and compaction must not have changed the answer: the panel is the
    // plain batch fold
    val got = panel.collect().map(_.toSeq).toSet
    val exp = feed.groupBy("l_partkey")
      .agg(sum("cents").as("rc")).collect().map(_.toSeq).toSet
    assert(got == exp, "compacted panel must equal the batch fold exactly")
  }

  test("snapshotTwin compaction is incremental: untouched buckets stay byte-identical, rewrites bounded by touched buckets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The round-13 design merged the FULL panel every trigger — a
    // key-space-sized shuffle and rewrite per micro-batch. The bucketed
    // compaction must (a) leave every bucket the batch does not touch
    // byte-identical on disk, (b) rewrite no more rows than the touched
    // buckets hold, and (c) stay batchId-idempotent per bucket.
    val snapDir = java.nio.file.Files.createTempDirectory("graft_bktspec")
    def fingerprints(): Map[String, String] = {
      val st = java.nio.file.Files.walk(snapDir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            val h = md.digest(java.nio.file.Files.readAllBytes(p))
            snapDir.relativize(p).toString -> h.map("%02x".format(_)).mkString
          }.toMap
      } finally st.close()
    }
    try {
      val nKeys = 200
      val b0 = (0 until nKeys).map(k => (k.toLong, k * 10L, 1L))
        .toDF("k", "v", "n")
      StreamingQueries.mergeSnapshotBatch(snapDir, Seq("k"), 0L, b0)
      val before = fingerprints()
      // batch 1 updates a single key — exactly one touched bucket
      val oneKey = 7L
      val b1 = Seq((oneKey, 999L, 2L)).toDF("k", "v", "n")
      StreamingQueries.mergeSnapshotBatch(snapDir, Seq("k"), 1L, b1)
      val after = fingerprints()
      val nB = StreamingQueries.snapshotBuckets
      val bkt = b1.select(pmod(hash(col("k")), lit(nB))).head.getInt(0)
      val touchedPrefix = f"bkt_$bkt%02d"
      // (a) untouched buckets: identical file set, identical bytes
      assert(before.filterNot(_._1.startsWith(touchedPrefix)) ==
        after.filterNot(_._1.startsWith(touchedPrefix)),
        "a trigger must not write, move, or retire files in buckets " +
          "its batch does not touch")
      // the touched bucket DID advance to a committed v1
      assert(after.keys.exists(p => p.startsWith(touchedPrefix) &&
        p.contains("state_v00001")),
        "the touched bucket must commit a new version")
      // (b) rewritten rows ≤ keys hashing into the touched bucket ≪ keys
      val bucketKeys = b0.select(pmod(hash(col("k")), lit(nB)).as("b"))
        .filter(col("b") === bkt).count()
      val rewritten = spark.read.parquet(
        snapDir.resolve(touchedPrefix).resolve("state_v00001").toString)
      assert(rewritten.count() <= bucketKeys && bucketKeys < nKeys,
        s"per-trigger rewrite (${rewritten.count()} rows) must be bounded " +
          s"by the touched bucket's keys ($bucketKeys), not the key space")
      // the merge itself took effect: n=2 wins for the updated key
      assert(rewritten.filter(col("k") === oneKey)
        .select("v").head.getLong(0) == 999L)
      // (c) at-least-once replay of batch 1 is idempotent
      StreamingQueries.mergeSnapshotBatch(snapDir, Seq("k"), 1L, b1)
      val panel = StreamingQueries.snapshotPanel(spark, snapDir)
        .collect().map(_.toSeq).toSet
      val expect = (0 until nKeys).map(k =>
        if (k.toLong == oneKey) Seq[Any](oneKey, 999L, 2L)
        else Seq[Any](k.toLong, k * 10L, 1L)).toSet
      assert(panel == expect,
        "replayed batch must leave the compacted panel unchanged")
      // retention stays bounded: ≤2 committed versions (base + latest)
      // per bucket, never a version per trigger
      (0 until nB).foreach { b =>
        val bd = snapDir.resolve(f"bkt_$b%02d")
        if (java.nio.file.Files.isDirectory(bd)) {
          val st = java.nio.file.Files.list(bd)
          val vs = try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.count(
              _.getFileName.toString.startsWith("state_v"))
          } finally st.close()
          assert(vs <= 2, s"bucket $b holds $vs versions; retention " +
            "must keep only the merge base and the latest commit")
        }
      }
    } finally graft.sources.SourceSinks.deleteDir(snapDir)
  }

  test("s56 per-trigger prefix consistency: after each batch the readout equals the batch lane over delivered shards") {
    import org.apache.spark.sql.functions._
    // The twins' oracles verify only the FINAL drained state; a monitor
    // reads the panel after EVERY trigger. This pins the contract on
    // s56 (4 cells, cheapest): replaying its exact trigger sequence —
    // batch k carries the cumulative agg values of keys shard k touches,
    // which is precisely what the update-mode state store emits — the
    // compacted panel's readout after batch k must equal q116's batch
    // readout over shards 0..k.
    val nShards = 4
    val feed = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), (col("l_discount") >= 0.05).as("e"),
        (col("l_returnflag") === "R").as("r"))
      .withColumn("_shard", pmod(col("l_orderkey"), lit(nShards)))
      .persist()
    val snapDir = java.nio.file.Files.createTempDirectory("graft_prefixspec")
    try {
      (0 until nShards).foreach { k =>
        val sofar = feed.filter(col("_shard") <= k)
        val emitted = sofar.groupBy(col("e"), col("r"))
          .agg(count(lit(1)).as("cnt"), count(lit(1)).as("n"))
          .join(feed.filter(col("_shard") === k).select("e", "r").distinct(),
            Seq("e", "r"), "left_semi")
        StreamingQueries.mergeSnapshotBatch(snapDir, Seq("e", "r"),
          k.toLong, emitted)
        val got = ops.Relational.oddsRatioReadout(
          StreamingQueries.snapshotPanel(spark, snapDir)
            .select(col("e"), col("r"), col("cnt")))
          .collect().map(_.toSeq).toSeq
        val exp = ops.Relational.oddsRatioReadout(
          sofar.groupBy(col("e"), col("r")).agg(count(lit(1)).as("cnt")))
          .collect().map(_.toSeq).toSeq
        assert(got == exp,
          s"after trigger $k the snapshot readout must equal the batch " +
            s"lane over shards 0..$k — the panel is monitor-consistent " +
            "at every trigger, not only when drained")
      }
    } finally {
      feed.unpersist()
      graft.sources.SourceSinks.deleteDir(snapDir)
    }
  }

  test("sizedSnapshotBuckets sizes B from key cardinality; a 1-key batch rewrite is bounded by the bucket, not the key space") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Round-14 residual: snapshotBuckets was a fixed 16, so a touched
    // bucket on a growing key space held key_space/16 rows. The sizing
    // rule B ≈ keySpace / targetKeysPerBucket must (a) follow the rule
    // with floor and cap, and (b) actually plumb through the merge: a
    // 1-key batch over a sized layout rewrites roughly ⌈keys/B⌉ rows
    // (one bucket's occupancy), never O(key space).
    assert(StreamingQueries.sizedSnapshotBuckets(2000, 64) == 32)
    assert(StreamingQueries.sizedSnapshotBuckets(10) ==
      StreamingQueries.snapshotBuckets, "tiny axes keep the floor")
    assert(StreamingQueries.sizedSnapshotBuckets(100000000L) == 4096,
      "the cap bounds state-dir fan-out")
    val nKeys = 2000
    val nB = StreamingQueries.sizedSnapshotBuckets(nKeys, 64) // 32 > default
    val snapDir = java.nio.file.Files.createTempDirectory("graft_sizedspec")
    try {
      val b0 = (0 until nKeys).map(k => (k.toLong, k * 10L, 1L))
        .toDF("k", "v", "n")
      StreamingQueries.mergeSnapshotBatch(snapDir, Seq("k"), 0L, b0, nB)
      // the sized count reached the layout: buckets beyond the default
      // 16 exist on disk
      assert((16 until nB).exists(b => java.nio.file.Files.isDirectory(
        snapDir.resolve(f"bkt_$b%02d"))),
        "bucket dirs beyond the default 16 prove the count was plumbed")
      val oneKey = 7L
      val b1 = Seq((oneKey, 999L, 2L)).toDF("k", "v", "n")
      StreamingQueries.mergeSnapshotBatch(snapDir, Seq("k"), 1L, b1, nB)
      val bkt = b1.select(pmod(hash(col("k")), lit(nB))).head.getInt(0)
      val bucketKeys = b0.select(pmod(hash(col("k")), lit(nB)).as("b"))
        .filter(col("b") === bkt).count()
      val rewritten = spark.read.parquet(snapDir.resolve(f"bkt_$bkt%02d")
        .resolve("state_v00001").toString).count()
      val perBucket = (nKeys + nB - 1) / nB
      // exact bound: the touched bucket's own keys (+ the batch row);
      // hash occupancy scatters around ⌈keys/B⌉, so the rule-level
      // assertion carries a 3× occupancy slack
      assert(rewritten <= bucketKeys + 1 && rewritten <= 3L * perBucket + 1,
        s"1-key batch rewrote $rewritten rows; bucket holds $bucketKeys, " +
          s"⌈keys/B⌉ = $perBucket — rewrite must be bucket-bounded")
      assert(bucketKeys < nKeys / 4,
        "a single bucket must hold a small fraction of the key space")
      // panel is still exact after the sized merge
      val panel = StreamingQueries.snapshotPanel(spark, snapDir, nB)
      assert(panel.count() == nKeys.toLong)
      assert(panel.filter(col("k") === oneKey).select("v").head.getLong(0)
        == 999L)
    } finally graft.sources.SourceSinks.deleteDir(snapDir)
  }

  test("s44 per-trigger prefix consistency on the sf-proportional part axis under the bucketed merge") {
    import org.apache.spark.sql.functions._
    // Round-14 proved the monitor contract on s56's 4-cell axis; the
    // claim only matters if it holds on a DATA-PROPORTIONAL axis under
    // the incremental bucketed merge. Replay s44's trigger sequence —
    // batch k carries the cumulative cent sums of the parts shard k
    // touches (exactly what the update-mode state store emits) — and
    // after every trigger the compacted panel's abcReadout must equal
    // q66's batch readout over shards 0..k, on a SIZED bucket layout.
    val nShards = 4
    val feed = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("cents"))
      .withColumn("_shard", pmod(col("l_orderkey"), lit(nShards)))
      .persist()
    val nB = StreamingQueries.sizedSnapshotBuckets(
      Tables.part(spark, sf).count())
    val snapDir = java.nio.file.Files.createTempDirectory("graft_s44prefix")
    try {
      (0 until nShards).foreach { k =>
        val sofar = feed.filter(col("_shard") <= k)
        val emitted = sofar.groupBy(col("l_partkey"))
          .agg(sum("cents").as("rc"), count(lit(1)).as("n"))
          .join(feed.filter(col("_shard") === k)
            .select("l_partkey").distinct(), Seq("l_partkey"), "left_semi")
        StreamingQueries.mergeSnapshotBatch(snapDir, Seq("l_partkey"),
          k.toLong, emitted, nB)
        val got = ops.Relational.abcReadout(
          StreamingQueries.snapshotPanel(spark, snapDir, nB)
            .select(col("l_partkey"), col("rc")))
          .collect().map(_.toSeq).toSeq
        val exp = ops.Relational.abcReadout(
          sofar.groupBy(col("l_partkey")).agg(sum("cents").as("rc")))
          .collect().map(_.toSeq).toSeq
        assert(got == exp,
          s"after trigger $k the compacted ABC readout must equal the " +
            s"batch lane over shards 0..$k on the part axis")
      }
    } finally {
      feed.unpersist()
      graft.sources.SourceSinks.deleteDir(snapDir)
    }
  }

  test("s44 streaming ABC equals batch q66 under orderkey-sharded delivery") {
    val got = StreamingQueries.s44_stream_abc(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q66_abc_analysis(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "panel fold + shared abcReadout must reproduce the batch classes")
  }

  test("s45 streaming Pareto drift equals batch q110 under orderkey-sharded delivery") {
    val got = StreamingQueries.s45_stream_pareto_drift(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q110_pareto_drift(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "panel fold + shared paretoDriftReadout must reproduce batch shares")
  }

  test("s46 streaming Gini equals batch q85 under customer-sharded delivery") {
    val got = StreamingQueries.s46_stream_gini(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q85_gini(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "spend-panel fold + shared giniReadout must reproduce the batch Gini")
  }

  test("s48 streaming Theil equals batch q86 under customer-sharded delivery") {
    val got = StreamingQueries.s48_stream_theil(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q86_theil(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "spend-panel fold + shared theilReadout must reproduce the batch decomposition")
  }

  test("s49 streaming mutual information equals batch q113 exactly (count fold)") {
    val got = StreamingQueries.s49_stream_mi(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q113_mutual_info(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "value-axis count state + shared miReadout must equal the per-order batch")
  }

  test("s60 streaming YoY equals batch q77 exactly (cent fold)") {
    val got = StreamingQueries.s60_stream_yoy(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q77_yoy_growth(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "month-axis cent state + shared yoyReadout must equal the batch")
  }

  test("s61 streaming contribution equals batch q67 exactly (cent fold)") {
    val got = StreamingQueries.s61_stream_contribution(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q67_contribution(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "segment-month cent state + shared contributionReadout must equal batch")
  }

  test("s59 streaming DiD equals batch q119 (four-cell moment fold)") {
    val got = StreamingQueries.s59_stream_did(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q119_did(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "four cells of moment state + shared didReadout must equal the batch")
  }

  test("s62 streaming DiD power equals batch q121 (shared didPowerReadout)") {
    val got = StreamingQueries.s62_stream_did_power(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q121_did_power(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "four cells of moment state + shared didPowerReadout must equal the batch")
  }

  test("s57 streaming CCF equals batch q92 (count fold through ccfReadout)") {
    val got = StreamingQueries.s57_stream_ccf(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q92_ccf(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "day-axis count state + shared ccfReadout must equal the batch CCF")
  }

  test("s58 streaming ACF equals batch q88 (cent fold through acfReadout)") {
    val got = StreamingQueries.s58_stream_acf(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q88_acf(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "day-axis cent state + shared acfReadout must equal the batch ACF")
  }

  test("s54 streaming SPRT equals batch q118 exactly (count fold)") {
    val got = StreamingQueries.s54_stream_sprt(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q118_sprt(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "day-axis count state + shared sprtReadout must equal the batch path")
  }

  test("s55 streaming Cramér's V equals batch q117 exactly (count fold)") {
    val got = StreamingQueries.s55_stream_cramers_v(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q117_cramers_v(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "value-axis count state + shared cramersVReadout must equal the batch")
  }

  test("s56 streaming odds ratio equals batch q116 exactly (4-cell fold)") {
    val got = StreamingQueries.s56_stream_odds_ratio(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q116_odds_ratio(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "four counters of state + shared oddsRatioReadout must equal the batch")
  }

  test("s51 streaming Mann-Kendall equals batch q91 exactly (cent fold)") {
    val got = StreamingQueries.s51_stream_mann_kendall(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q91_mann_kendall(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "day-axis cent state + shared mkReadout must equal the batch test")
  }

  test("s52 streaming BH-FDR equals batch q114 under customer-sharded delivery") {
    val got = StreamingQueries.s52_stream_fdr(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q114_fdr_bh(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "nation-axis sufficient-stat state + shared fdrReadout must equal batch")
  }

  test("s53 streaming Theil's U equals batch q115 exactly (count fold)") {
    val got = StreamingQueries.s53_stream_theils_u(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q115_theils_u(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "value-axis count state + shared theilsUReadout must equal the batch")
  }

  test("s50 streaming chi-squared equals batch q63 exactly (count fold)") {
    val got = StreamingQueries.s50_stream_chisq(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q63_chisq(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "value-axis count state + shared chisqReadout must equal the batch test")
  }

  test("s47 streaming weighted median equals batch q98 exactly (collapse invariance)") {
    val got = StreamingQueries.s47_stream_wmedian(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q98_weighted_median(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "value-axis state + shared wmedianReadout must equal the per-line batch")
  }

  test("s43 streaming quality yield equals batch t50 under doc-id-sharded delivery") {
    val got = StreamingQueries.s43_stream_quality_yield(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.TextAnalysis.t50_quality_yield(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "per-tau conditional sums must be delivery-order independent")
  }

  test("s42 streaming conflict audit equals batch c48; bitmask fold is idempotent") {
    val got = StreamingQueries.s42_stream_conflict(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = cdc.CdcQueries.c48_conflict_audit(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "bitmask-OR publisher sets must be delivery-order independent")
  }

  test("s41 streaming cohort LTV equals batch q106 under orderkey-sharded delivery") {
    val got = StreamingQueries.s41_stream_ltv(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q106_cohort_ltv(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "panel-derived cohorts need no delivery-order contract")
  }

  test("s40 streaming retention audit equals batch c46 under lsn-sharded delivery") {
    val got = StreamingQueries.s40_stream_retention(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = cdc.CdcQueries.c46_wal_retention_audit(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "commutative segment counters must be delivery-order independent")
  }

  test("s39 streaming price index equals batch q105 under orderkey-sharded delivery") {
    val got = StreamingQueries.s39_stream_price_index(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q105_price_index(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "the commutative panel fold must be delivery-order independent")
  }

  test("s38 streaming bootstrap equals batch q101 under orderkey-sharded delivery") {
    val got = StreamingQueries.s38_stream_bootstrap(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q101_bootstrap_ci(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "commutative replicate sums must be delivery-order independent")
  }

  test("s37 streaming scorecard equals the batch check recompute") {
    import org.apache.spark.sql.functions._
    val got = StreamingQueries.s37_stream_scorecard(spark, sf).collect()
    assert(got.map(_.getAs[String]("check")).toSeq ==
      Seq("fk_orders_customer", "orders_date_domain",
        "orders_price_domain", "orders_suspicious_high"))
    val o = Tables.orders(spark, sf)
    val n = o.count()
    val fk = o.join(Tables.customer(spark, sf).select("c_custkey"),
      col("o_custkey") === col("c_custkey"), "left_anti").count()
    val hi = o.filter(col("o_totalprice") > 450000.0).count()
    val byCheck = got.map(r =>
      r.getAs[String]("check") -> r.getAs[Long]("n_violations")).toMap
    assert(got.forall(_.getAs[Long]("n_total") == n),
      "every check saw the full stream")
    assert(byCheck("fk_orders_customer") == fk)
    assert(byCheck("orders_suspicious_high") == hi && hi > 0,
      "the suspicious-high check must carry real signal")
    got.foreach(r => assert(
      r.getAs[Boolean]("ok") == (r.getAs[Long]("n_violations") == 0L)))
  }

  test("s36 streaming weighted sample equals batch t28 under doc-id-sharded delivery") {
    val got = StreamingQueries.s36_stream_weighted_sample(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.TextAnalysis.t28_weighted_sample(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "the commutative top-3 E-S merge must be delivery-order independent")
  }

  test("s35 streaming balance equals the batch q95 row for row with O(1) brand state") {
    val got = StreamingQueries.s35_stream_balance(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q95_clamped_balance(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "the native max(0, B+δ) fold must land q95's reflection-identity " +
        "result exactly")
  }

  test("s34 streaming stickiness equals the batch q93 row for row under unordered delivery") {
    val got = StreamingQueries.s34_stream_stickiness(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q93_stickiness(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "emit-then-dedup fold must land q93's profile exactly even with " +
        "event_id-sharded (chronologically UNORDERED) delivery")
  }

  test("s33 streaming inter-purchase equals the batch q82 row for row; state is gap-axis bounded") {
    val got = StreamingQueries.s33_stream_interpurchase(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q82_interpurchase(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "per-customer (last order, gap map) fold must land q82's histogram exactly")
    // the per-customer state bound is the gap-week axis (distinct
    // gap-week buckets), never the customer's order count: the widest
    // possible map is one entry per output histogram row
    assert(got.length <= 600, "gap-week axis must stay bounded")
  }

  test("s31 streaming time-to-convert equals the batch q84 row for row") {
    val got = StreamingQueries.s31_stream_time_to_convert(spark, sf)
      .collect().map(_.toSeq).toSeq
    val exp = ops.Relational.q84_time_to_convert(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp,
      "bounded (view, k-min purchases) state must resolve every conversion")
    // the k=8 purchase slots genuinely suffice on this corpus: no user
    // has more than 8 purchases before their final first view
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val worst = evs.groupBy(_._1).values.flatMap { g =>
      val vs = g.filter(_._2 == "view")
      if (vs.isEmpty) None
      else {
        val fv = vs.map(_._3).min
        Some(g.count(e => e._2 == "purchase" && e._3 <= fv))
      }
    }
    assert(worst.isEmpty || worst.max <= 8,
      s"k=8 insufficient: a user has ${worst.max} purchases before first view")
  }
}
