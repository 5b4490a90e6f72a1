package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is rows-only and runs non-empty") {
    // queries that legitimately produce few/zero rows at sf0.001 are exempt
    val mayBeEmpty = Set("q02_filter_pushdown", "q10_antijoin", "q05_multijoin")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("q01 aggregates are consistent") {
    val rows = ops.Relational.q01_pricing_agg(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("count_order")).sum > 0)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") >= r.getAs[Double]("avg_qty"))
    }
  }

  test("q08 topk is sorted descending") {
    val prices = ops.Relational.q08_topk(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q32 approx count-distinct within 5% of exact per group") {
    ops.Relational.q32_approx_distinct(spark, sf).collect().foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val approx = r.getAs[Long]("n_approx")
      assert(math.abs(approx - exact).toDouble / exact <= 0.05,
        s"${r.getAs[String]("o_orderpriority")}: exact=$exact approx=$approx")
    }
  }

  test("q33 heap top-k equals the q07 window formulation") {
    val win = ops.Relational.q07_window_rank(spark, sf)
      .collect().map(_.toSeq).toSet
    val heap = ops.Relational.q33_topk_per_key(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(win.nonEmpty)
    assert(heap == win)
  }

  test("q37 plans with no percentile buffer, no raw-row global window, " +
      "no row-carrying single-partition exchange") {
    val df = ops.Relational.q37_decile_profile(spark, sf)
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      Tables.orders(spark, sf).count())
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    // r15 verdict / r16 optimization: the exact Percentile aggregate
    // buffers every distinct value in one final-merge task (executor
    // OOM at sf5 multi-JVM) — the boundary subplan must not contain it
    val pctile = nodes.flatMap(_.expressions).flatMap(_.collect {
      case e if e.getClass.getSimpleName == "Percentile" => e
    })
    assert(pctile.isEmpty,
      "q37 must not buffer values in a Percentile aggregate")
    // windows: only the bucketed rank machinery's — partitioned by
    // bucket, or global ONLY over a collapsed post-aggregate axis
    // (≤2^14 bucket-offset rows, rankBuckets' cap), never raw rows
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val hasAgg = PlanWalk.allNodes(w.child)
        .exists(_.getClass.getSimpleName.contains("Aggregate"))
      assert(hasAgg, "q37: global window over raw rows")
    }
    // a single-partition exchange may only carry a post-aggregate axis
    // (bucket offsets / the 9-row boundary frame); it must never carry
    // table rows (the q27 ntile shape this query exists to avoid)
    val singleParts = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        if e.outputPartitioning.numPartitions == 1 => e
    }
    val rowCarrying = singleParts.filterNot(e =>
      PlanWalk.allNodes(e.children.head)
        .exists(_.getClass.getSimpleName.contains("Aggregate")))
    assert(rowCarrying.isEmpty,
      s"row-carrying single-partition exchange in q37: $rowCarrying")
  }

  test("q38 HLL rolling distinct within 5% of exact q35 per day") {
    val exact = ops.Relational.q35_rolling_distinct(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("users_7d")).toMap
    val approx = ops.Relational.q38_rolling_distinct_approx(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("users_7d_approx")).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, ex) =>
      val ap = approx(day)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$day: exact=$ex approx=$ap")
    }
  }

  test("q07 rank bounded per partition") {
    val rns = ops.Relational.q07_window_rank(spark, sf)
      .collect().map(_.getAs[Int]("rn"))
    assert(rns.forall(r => r >= 1 && r <= 3))
  }

  test("q40 pushes the order-date filter into the orders scan") {
    val df = ops.Relational.q40_inactive_customers(spark, sf)
    df.collect()
    val scans = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val ordersScan = scans.filter(_.metadata.get("Location").exists(_.contains("orders")))
    assert(ordersScan.nonEmpty, "no orders scan in the q40 plan")
    assert(ordersScan.exists(_.metadata.get("PushedFilters")
      .exists(p => p.contains("GreaterThanOrEqual(o_orderdate"))),
      s"date filter not pushed: ${ordersScan.map(_.metadata.get("PushedFilters"))}")
  }

  test("q39 sketch percentiles track q23's exact percentiles per group") {
    val exact = ops.Relational.q23_percentile(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val approx = ops.Relational.q39_approx_percentile(spark, sf).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (e50, e90, e99, n) = exact(r.getString(0))
      assert(r.getLong(4) == n) // same groups, same membership
      def rel(a: Double, e: Double): Double = math.abs(a - e) / math.abs(e)
      assert(rel(r.getDouble(1), e50) < 0.05, s"${r.getString(0)} p50")
      assert(rel(r.getDouble(2), e90) < 0.05, s"${r.getString(0)} p90")
      assert(rel(r.getDouble(3), e99) < 0.05, s"${r.getString(0)} p99")
    }
  }

  test("pctileExactOrSketch: sketch mode tracks exact mode within the GK rank-error bound on the shared path") {
    import org.apache.spark.sql.functions._
    // q52/q84/q98/q107/t54 route their bounds through this helper in
    // exact mode; this pins the documented 100 TB swap ON THAT PATH:
    // flipping only the mode bit lands within accuracy⁻¹ rank error
    // (q39's argument, proven once on the shared helper).
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    // cast to double up front: exact percentile always lands double, but
    // approx_percentile returns the INPUT type — a bigint column would
    // make the two modes schema-incomparable
    val spend = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("double").as("cents"))
      .persist()
    try {
      def bounds(exact: Boolean): Seq[Double] = spend
        .agg(ops.Relational.pctileExactOrSketch(col("cents"), qs, exact)
          .as("b"))
        .head.getSeq[Double](0)
      val (ex, sk) = (bounds(exact = true), bounds(exact = false))
      assert(ex.length == 4 && sk.length == 4)
      // rank-error bound: the sketch quantile's RANK is within
      // n/accuracy of the target rank; convert via the empirical CDF
      val n = spend.count().toDouble
      def rankOf(v: Double): Double =
        spend.filter(col("cents") <= v).count().toDouble
      qs.zip(sk).foreach { case (q, b) =>
        val err = math.abs(rankOf(b) - q * n) / n
        assert(err <= 1.0 / 10000 + 1.0 / n,
          f"sketch q=$q rank error $err%.6f exceeds the GK bound")
      }
      // weighted mode is exact-only by contract
      intercept[IllegalArgumentException] {
        ops.Relational.pctileExactOrSketch(col("cents"), Seq(0.5),
          exact = false, freq = Some(lit(1L)))
      }
    } finally spend.unpersist()
  }

  test("exactQuantiles: group-less empty/all-null input yields ONE row of " +
      "null qs (Percentile's arity), grouped empty input yields none") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // r16 verdict item 7 / ADVICE: the old group-less percentile()
    // aggregate emitted one row of nulls on empty input; consumers
    // (q84/s31/q52/t54) crossJoin the quantile frame, so a zero-row
    // result would silently drop their summary row. The helper pins
    // the arity with a lazy 1-row left join — no driver-side check.
    val empty = Seq.empty[(String, java.lang.Double)].toDF("g", "x")
    val allNull = Seq(("a", null: java.lang.Double),
      ("b", null: java.lang.Double)).toDF("g", "x")
    for (in <- Seq(empty, allNull)) {
      val rows = ops.Relational.exactQuantiles(in, "x", Seq(0.25, 0.5))
        .collect()
      assert(rows.length == 1, "group-less call must keep the 1-row arity")
      assert(rows.head.isNullAt(0), "qs must be null on no non-null input")
      // grouped calls: no rows, exactly as grouped percentile() behaved
      assert(ops.Relational.exactQuantiles(in, "x", Seq(0.5), Seq("g"))
        .collect().isEmpty)
    }
    // the q84-shaped consumer survives a zero-conversion input: the
    // summary row arrives with null percentiles, not as an empty frame
    val conv = Seq(("u1", null: java.lang.Double),
      ("u2", null: java.lang.Double)).toDF("user_id", "delay_h")
    val qtl = ops.Relational.exactQuantiles(conv, "delay_h", Seq(0.5))
    val out = conv.agg(count(lit(1)).as("n_viewers"))
      .crossJoin(broadcast(qtl))
      .select(col("n_viewers"), col("qs").getItem(0).as("p50"))
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 2 && out.head.isNullAt(1))
  }

  test("exactQuantiles weighted mode equals percentile(col, p, freq) " +
      "bit-for-bit and is collapse-invariant") {
    import org.apache.spark.sql.functions._
    // r16 verdict item 6: q98/s47's weighted medians now ride the rank
    // machinery — this pins the replicated arithmetic against Spark's
    // own weighted Percentile on real data (unit prices x quantities)
    val panel = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice") / col("l_quantity")).as("v"),
        col("l_quantity").cast("long").as("w"))
      .persist()
    try {
      val expect = panel.groupBy("g")
        .agg(percentile(col("v"), array(lit(0.5), lit(0.9)), col("w"))
          .as("qs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val got = ops.Relational.exactQuantiles(panel, "v", Seq(0.5, 0.9),
          Seq("g"), weight = Some(col("w")))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(got.keySet == expect.keySet && got.nonEmpty)
      got.foreach { case (g, qs) =>
        assert(qs == expect(g), s"group $g: $qs != ${expect(g)}")
      }
      // collapse invariance by construction: feeding the value-collapsed
      // panel (s47's state shape) changes nothing, bit-for-bit
      val collapsed = panel.groupBy("g", "v")
        .agg(sum("w").as("w"))
      val gotC = ops.Relational.exactQuantiles(collapsed, "v", Seq(0.5, 0.9),
          Seq("g"), weight = Some(col("w")))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(gotC == got)
      // a negative weight fails the query, as Percentile's freq does
      val neg = spark.createDataFrame(Seq(("A", 1.0, 2L), ("A", 2.0, -1L)))
        .toDF("g", "v", "w")
      val err = intercept[Exception] {
        ops.Relational.exactQuantiles(neg, "v", Seq(0.5), Seq("g"),
          weight = Some(col("w"))).collect()
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("negative weight")),
        s"negative weight must fail loudly: $err")
    } finally panel.unpersist()
  }

  test("q41 binned range join equals the naive non-equi join, BNLJ-free") {
    import org.apache.spark.sql.functions._
    val df = ops.Relational.q41_range_join(spark, sf)
    val got = df.collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    // naive formulation: the range predicate IS the whole join condition
    // (Spark plans this as a broadcast-nested-loop — the shape q41 avoids)
    val bands = spark.range(0, 14).toDF("band")
      .withColumn("lo", lit(900L) + col("band") * (col("band") + 1) / 2)
      .withColumn("hi", lit(900L) + (col("band") + 1) * (col("band") + 2) / 2)
    val naive = Tables.part(spark, sf)
      .join(bands, col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 2).as("avg_price"),
        round(sum(col("p_retailprice")), 2).as("sum_price"))
      .collect().map(_.toSeq).toSet
    assert(got == naive)
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val bad = nodes.filter(n =>
      n.getClass.getSimpleName.contains("BroadcastNestedLoopJoin") ||
        n.getClass.getSimpleName.contains("CartesianProduct"))
    assert(bad.isEmpty, s"q41 must join on the bin equi-key, got: $bad")
    // every part lands in exactly one band (bands partition [900, 1005))
    assert(got.toSeq.map(_(1).asInstanceOf[Long]).sum ==
      Tables.part(spark, sf).count())
  }

  test("q42 co-moment aggregates: one pass, r² consistent with corr") {
    import org.apache.spark.sql.functions._
    val df = ops.Relational.q42_stats_profile(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.lineitem(spark, sf).count())
    // r² = corr² for simple OLS — recompute unrounded and compare
    val raw = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(corr(col("l_extendedprice"), col("l_quantity")).as("c"),
        expr("regr_r2(l_extendedprice, l_quantity)").as("r2"))
      .collect()
    raw.foreach { r =>
      assert(math.abs(r.getDouble(1) * r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"${r.getString(0)}: r2 != corr^2")
    }
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.getClass.getSimpleName.contains("Window")))
  }

  test("q44 funnel: depths partition the users and stage reach is monotone") {
    val rows = ops.Relational.q44_funnel(spark, sf).collect()
    val byDepth = rows.map(r => r.getAs[Int]("depth") -> r.getAs[Long]("n_users")).toMap
    val nUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(byDepth.values.sum == nUsers, "every user has exactly one depth")
    // reach(k) = users at depth >= k must be non-increasing in k
    val reach = (0 to 3).map(k =>
      byDepth.filter(_._1 >= k).values.sum)
    assert(reach.zip(reach.tail).forall { case (a, b) => a >= b })
    assert(reach(1) > 0, "some users must enter the funnel")
  }

  test("q45 time-weighted average is a convex combination of the values") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q45_time_weighted_avg(spark, sf).collect()
    assert(rows.nonEmpty)
    // twa must lie within [min, max] of the group's interval-opening values
    val bounds = Tables.events(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString) ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Long]("n"))).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString)
      val (lo, hi, n) = bounds(k)
      val twa = r.getAs[Double]("twa")
      assert(twa >= lo - 1e-9 && twa <= hi + 1e-9, s"$k: $twa outside [$lo, $hi]")
      assert(r.getAs[Long]("n_intervals") == n - 1, s"$k interval count")
    }
  }

  test("q43 hash sample: exactly k per stratum, window-free, rerun-stable") {
    val df = ops.Relational.q43_stratified_sample(spark, sf)
    val rows = df.collect()
    val bySeg = rows.groupBy(_.getAs[String]("c_mktsegment"))
    bySeg.foreach { case (seg, rs) =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
      assert(rs.length <= 3, s"$seg oversampled")
    }
    // deterministic: a second run (fresh plan) returns identical rows
    val again = ops.Relational.q43_stratified_sample(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
    // the heap aggregate, not a window, must carry the sample
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.getClass.getSimpleName.contains("Window")),
      "q43 must not use a window sort")
  }

  test("q46 cohort retention: offset-0 is full, rates bounded, sizes conserved") {
    val rows = ops.Relational.q46_cohort_retention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val active = r.getAs[Long]("n_active")
      val size = r.getAs[Long]("cohort_size")
      val rate = r.getAs[Double]("retention")
      assert(active >= 1 && active <= size, "actives within cohort size")
      assert(rate > 0.0 && rate <= 1.0, "retention is a rate")
      if (r.getAs[Int]("offset_m") == 0)
        assert(active == size, "every cohort member is active in month 0")
    }
    // cohort sizes must partition the customer base with >=1 order
    val sizes = rows.filter(_.getAs[Int]("offset_m") == 0)
      .map(r => r.getAs[java.sql.Date]("cohort").toString -> r.getAs[Long]("cohort_size"))
    assert(sizes.map(_._1).distinct.length == sizes.length)
    val nBuyers = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(sizes.map(_._2).sum == nBuyers, "cohorts partition the buyers")
  }

  test("q47 attribution: purchases conserved, campaigns in range, single window") {
    import org.apache.spark.sql.functions._
    val df = ops.Relational.q47_attribution(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every purchase is attributed exactly once (direct bucket included)
    val nPurch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum == nPurch)
    val camps = rows.map(_.getAs[Int]("campaign"))
    assert(camps.forall(c => c == -1 || (c >= 0 && c <= 7)))
    assert(camps.contains(-1), "the direct bucket must exist")
    // ONE window pass (= one user_id shuffle), the q21 as-of discipline
    val wins = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName == "WindowExec")
    assert(wins == 1, s"q47 must run exactly one window, got $wins")
  }

  test("q49 transitions conserve events and rows normalize per source state") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q49_transition_matrix(spark, sf).collect()
    assert(rows.nonEmpty)
    // each user contributes (events - 1) transitions
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == nEvents - nUsers)
    // per source state, probabilities sum to ~1 (4-decimal rounding)
    rows.groupBy(_.getAs[String]("a")).foreach { case (a, rs) =>
      val p = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(p - 1.0) < 1e-3, s"state $a sums to $p")
    }
  }

  test("q50 pagerank equals a driver-side power iteration, mass conserved") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q50_pagerank(spark, sf).collect()
    assert(rows.nonEmpty)
    val pr = rows.map(r => r.getAs[String]("brand") -> r.getAs[Double]("pagerank")).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-3, s"mass=${pr.values.sum}")
    assert(pr.values.forall(_ > 0))
    // independent dense recompute from the raw basket sets
    val ob = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val w = ob.groupBy(_._1).values.toSeq.flatMap { g =>
      val bs = g.map(_._2)
      for (a <- bs; b <- bs if a != b) yield ((a, b), 1.0)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val nodes = w.keys.map(_._1).toSeq.distinct.sorted
    val n = nodes.length
    val wout = w.groupBy(_._1._1).map { case (s0, m) => s0 -> m.values.sum }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to ops.Relational.PageRankIters)
      r = nodes.map { d0 =>
        val in = w.collect { case ((s0, d1), wt) if d1 == d0 => r(s0) * wt / wout(s0) }.sum
        d0 -> ((1 - ops.Relational.PageRankDamping) / n +
          ops.Relational.PageRankDamping * in)
      }.toMap
    assert(pr.keySet == r.keySet)
    nodes.foreach { b =>
      assert(math.abs(pr(b) - r(b)) < 2e-6, s"$b: ${pr(b)} vs ${r(b)}")
    }
  }

  test("q48 basket lift equals an independent recompute of lift") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q48_basket_lift(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getAs[String]("brand_a") < r.getAs[String]("brand_b")))
    assert(rows.forall(_.getAs[Long]("n_ab") >= 5))
    // lift ordering is the output ordering
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.sameElements(lifts.sorted(Ordering[Double].reverse)))
    // independent driver-side recompute from the raw basket sets
    val ob = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val nOrders = ob.map(_._1).distinct.length.toDouble
    val singles = ob.groupBy(_._2).map { case (b, v) => b -> v.length.toDouble }
    val pairCounts = ob.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    rows.foreach { r =>
      val k = (r.getAs[String]("brand_a"), r.getAs[String]("brand_b"))
      assert(pairCounts(k) == r.getAs[Long]("n_ab"), s"$k count")
      val lift = pairCounts(k) * nOrders / (singles(k._1) * singles(k._2))
      assert(math.abs(r.getAs[Double]("lift") - math.rint(lift * 1e4) / 1e4) <= 1e-9, s"$k lift")
    }
  }

  /** Spark percentile()'s interpolation, for driver-side recomputes:
    * sorted values, pos = q·(n−1), v[l] + (v[l+1] − v[l])·(pos − l).
    */
  private def pctl(sorted: Array[Double], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val l = pos.toInt
    if (l + 1 >= sorted.length) sorted.last
    else sorted(l) + (sorted(l + 1) - sorted(l)) * (pos - l)
  }

  /** Spark round()'s semantics (HALF_UP over the double's shortest decimal
    * form — NOT math.rint's half-even), for driver-side recomputes.
    */
  private def rnd(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  test("q51 histogram buckets partition the corpus, edges are contiguous") {
    val rows = ops.Relational.q51_histogram(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("bucket")).toSeq ==
      (0 until ops.Relational.HistogramBuckets))
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.lineitem(spark, sf).count())
    // each bucket's hi is the next bucket's lo (same rounded double)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") == b.getAs[Double]("lo"))
    }
    // no window, no driver collect: bounds flow through a broadcast join
    val nodes = PlanWalk.allNodes(
      ops.Relational.q51_histogram(spark, sf).queryExecution.executedPlan)
    assert(!nodes.exists(_.getClass.getSimpleName.contains("Window")))
  }

  test("q52 rfm cells equal a driver-side quintile recompute, no window") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q52_rfm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val v = r.getAs[Int](c); assert(v >= 1 && v <= 5, s"$c=$v")
      }
    }
    // independent recompute of per-customer R/F/M and quintile scores
    val cutoff = java.time.LocalDate.parse(ops.Relational.RfmCutoff).toEpochDay
    val per = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).cast("date").as("last"),
        count(lit(1)).as("n"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("mc"))
      .collect().map { r =>
        ((cutoff - r.getAs[java.sql.Date]("last").toLocalDate.toEpochDay).toDouble,
          r.getAs[Long]("n").toDouble, r.getAs[Long]("mc").toDouble)
      }
    assert(rows.map(_.getAs[Long]("n_customers")).sum == per.length)
    def bounds(xs: Array[Double]) = {
      val s = xs.sorted
      Array(0.2, 0.4, 0.6, 0.8).map(pctl(s, _))
    }
    val (rb, fb, mb) = (bounds(per.map(_._1)), bounds(per.map(_._2)), bounds(per.map(_._3)))
    def sc(x: Double, b: Array[Double]) = 1 + b.count(x >= _)
    val cells = per.groupBy { case (r, f, m) => (6 - sc(r, rb), sc(f, fb), sc(m, mb)) }
      .map { case (k, v) => k -> v.length }
    rows.foreach { r =>
      val k = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"), r.getAs[Int]("m_score"))
      assert(cells(k) == r.getAs[Long]("n_customers"), s"cell $k")
    }
    // plan shape: the quintile bounds ride the bucketed rank machinery
    // (r16) — windows must be partitioned, or global ONLY over a
    // collapsed post-aggregate axis (bucket offsets), never a raw-row
    // global ntile window
    val nodes = PlanWalk.allNodes(
      ops.Relational.q52_rfm(spark, sf).queryExecution.executedPlan)
    nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(PlanWalk.allNodes(w.child)
        .exists(_.getClass.getSimpleName.contains("Aggregate")),
        "q52: global window over raw rows")
    }
  }

  test("q53 MAD outlier counts equal a driver-side exact recompute") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q53_mad_outliers(spark, sf).collect()
    assert(rows.nonEmpty)
    // cents recompute — q53 folds exact integer cents so every
    // materialization (med/dev/mad passes) agrees bit-for-bit
    val spend = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("sc"))
      .collect().map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Long]("sc")))
    rows.foreach { r =>
      val seg = r.getAs[String]("c_mktsegment")
      val xs = spend.filter(_._1 == seg).map(_._2.toDouble)
      assert(r.getAs[Long]("n_customers") == xs.length)
      val med = pctl(xs.sorted, 0.5)
      val devs = xs.map(x => math.abs(x - med))
      val mad = pctl(devs.sorted, 0.5)
      assert(r.getAs[Double]("med") == rnd(med / 100.0, 3))
      assert(r.getAs[Double]("mad") == rnd(mad / 100.0, 3))
      assert(r.getAs[Long]("n_outliers") == devs.count(_ > 3 * mad))
    }
  }

  test("q55 cusum telescopes to ~0, flags exactly the max-|CUSUM| day") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q55_cusum_changepoint(spark, sf).collect()
    val nDays = Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    assert(rows.length == nDays)
    // sum of deviations from the mean telescopes to zero on the last day
    assert(math.abs(rows.last.getAs[Double]("cusum")) < 1e-4)
    // driver recompute of the cusum path
    val daily = rows.map(r => r.getAs[String]("day") -> r.getAs[Long]("n_events"))
    val mu = daily.map(_._2).sum.toDouble / daily.length
    var acc = 0.0
    daily.zip(rows).foreach { case ((_, n), r) =>
      acc += n - mu
      assert(math.abs(r.getAs[Double]("cusum") - acc) < 1e-3)
    }
    val flagged = rows.filter(_.getAs[Int]("is_changepoint") == 1)
    assert(flagged.nonEmpty)
    val maxAbs = rows.map(r => math.abs(r.getAs[Double]("cusum"))).max
    flagged.foreach(r =>
      assert(math.abs(math.abs(r.getAs[Double]("cusum")) - maxAbs) < 1e-9))
  }

  test("q56 sessions equal a driver-side gaps-and-islands recompute; one shuffle") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q56_session_metrics(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent session recompute on the driver
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._4, e._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, String, Long)]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
      sorted.foreach { e =>
        if (cur.nonEmpty && e._4 - cur.last._4 > ops.Relational.SessionGapUs) {
          out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty
        }
        cur += e
      }
      if (cur.nonEmpty) out += cur.toSeq
      out
    }.toSeq
    assert(rows.map(_.getAs[Long]("n_sessions")).sum == sessions.length)
    val byEntry = sessions.groupBy(_.minBy(e => (e._4, e._2))._3)
    rows.foreach { r =>
      val ss = byEntry(r.getAs[String]("entry_type"))
      assert(r.getAs[Long]("n_sessions") == ss.length)
      val conv = ss.count(_.exists(_._3 == "purchase")).toDouble / ss.length
      assert(r.getAs[Double]("conversion_rate") == rnd(conv, 4))
      val avgEv = ss.map(_.length).sum.toDouble / ss.length
      assert(r.getAs[Double]("avg_events") == rnd(avgEv, 4))
    }
    // sessions must not all be singletons (the gap suits this cadence)
    assert(rows.map(r => r.getAs[Double]("avg_events")).max > 1.2)
    // plan shape: ONE user_id exchange feeds both windows (lag + running
    // sum share the partitioning), one (user_id, sid) exchange for the
    // session rollup, one bounded entry-type rollup — never more
    val plan = ops.Relational.q56_session_metrics(spark, sf)
      .queryExecution.executedPlan
    val exchanges = PlanWalk.allNodes(plan)
      .count(_.getClass.getSimpleName.contains("ShuffleExchange"))
    assert(exchanges == 3, s"expected windows + session + rollup " +
      s"exchanges, got $exchanges")
    // lag and the running sum are dependent (sum consumes lag's output),
    // so they plan as two chained WindowExecs — but over the SAME
    // partitioning+ordering: the single user_id exchange above feeds
    // both and the second needs no re-sort
    val windows = PlanWalk.allNodes(plan)
      .count(_.getClass.getSimpleName == "WindowExec")
    assert(windows == 2, s"expected the two chained windows, got $windows")
  }

  test("q57 decomposition reconstructs n = trend + seasonal + residual") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q57_seasonal_decompose(spark, sf).collect()
    val nDays = Tables.events(spark, sf).select(to_date(col("ts"))).distinct().count()
    assert(rows.length == nDays)
    // where trend exists the decomposition is exact (mod 4-dec rounding)
    val withTrend = rows.filter(!_.isNullAt(2))
    assert(withTrend.length == nDays - 6, "trend defined only on full 7-day windows")
    withTrend.foreach { r =>
      val recon = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(recon - r.getAs[Long]("n_events")) < 1e-2,
        s"${r.getAs[String]("day")}: $recon")
    }
    // driver recompute of the centered moving average
    val ns = rows.map(_.getAs[Long]("n_events").toDouble)
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i >= 3 && i < rows.length - 3) {
        val ma = (i - 3 to i + 3).map(ns).sum / 7
        assert(math.abs(r.getAs[Double]("trend") - ma) < 1e-3)
      } else assert(r.isNullAt(2), s"edge day $i must have null trend")
    }
    // the weekday model is centered: seasonal components sum to ~0 when
    // each weekday is equally represented in the trended region — allow
    // slack since 24 trended days cover the 7 weekdays unevenly
    val seasonalByDay = rows.filter(!_.isNullAt(3)).map(_.getAs[Double]("seasonal"))
    assert(seasonalByDay.distinct.length <= 7)
  }

  test("q58 sketch estimates track exact set cardinalities within bounds") {
    import org.apache.spark.sql.functions._
    val r = ops.Relational.q58_sketch_setops(spark, sf).collect().head
    // exact columns against an independent recompute
    val aKeys = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1996)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val bKeys = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1997)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(r.getAs[Long]("n_a") == aKeys.size)
    assert(r.getAs[Long]("n_b") == bKeys.size)
    assert(r.getAs[Long]("n_union") == (aKeys ++ bKeys).size)
    assert(r.getAs[Long]("n_intersect") == (aKeys & bKeys).size)
    // sketch error gates: direct estimates tight, derived intersection looser
    def relErr(est: Double, exact: Long): Double =
      math.abs(est - exact) / math.max(exact, 1).toDouble
    assert(relErr(r.getAs[Double]("est_a"), r.getAs[Long]("n_a")) <= 0.05)
    assert(relErr(r.getAs[Double]("est_b"), r.getAs[Long]("n_b")) <= 0.05)
    assert(relErr(r.getAs[Double]("est_union"), r.getAs[Long]("n_union")) <= 0.05)
    assert(relErr(r.getAs[Double]("est_intersect"),
      r.getAs[Long]("n_intersect")) <= 0.15)
  }

  test("q54 triangles equal an independent unoriented enumeration") {
    import org.apache.spark.sql.functions._
    val row = ops.Relational.q54_triangles(spark, sf).collect().head
    // independent recompute: plain sets, no orientation
    val ob = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // NOTE: .filter(...).keySet, NOT .collect { case (k,_) => k } — Map's
    // collect would rebuild a MAP from the returned (u,v) key tuples,
    // silently deduplicating edges by first endpoint.
    val edges = ob.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val tri = edges.toSeq.map { case (u, v) =>
      (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size.toLong
    }.sum
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(row.getAs[Long]("n_nodes") == nodes.size)
    assert(row.getAs[Long]("n_edges") == edges.size)
    assert(row.getAs[Long]("n_triangles") == tri, s"triangles")
    val degs = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (_, v) => v.size.toLong }
    val wedges = degs.map(d => d * (d - 1) / 2).sum.toDouble
    assert(row.getAs[Double]("clustering") == rnd(3.0 * tri / wedges, 6))
  }

  test("q59 skyline equals the brute-force dominance recompute") {
    import org.apache.spark.sql.functions._
    val got = ops.Relational.q59_skyline(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Int]("p_size"),
        r.getAs[Double]("p_retailprice")))
    val all = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val expect = all.filter { case (_, s0, p0) =>
      !all.exists { case (_, s1, p1) =>
        p1 <= p0 && s1 >= s0 && (p1 < p0 || s1 > s0) }
    }.map(t => (t._1, t._2, t._3)).sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    // every survivor must be the cheapest at its own size
    val minAt = all.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).min }
    got.foreach { case (_, s0, p0) => assert(p0 == minAt(s0)) }
  }

  test("q60 gap fill: dense spine, carried values, flags match the series") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q60_gap_fill(spark, sf).collect()
    val series = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > ops.Relational.GapFillMinQty)
      .groupBy(to_date(col("l_shipdate")).as("day")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    // spine is the full contiguous day range, bounds are present days
    val days = rows.map(r => java.time.LocalDate.parse(r.getAs[String]("day")))
    assert(days.head == series.keys.min(Ordering.by[java.time.LocalDate, Long](_.toEpochDay)))
    assert(days.last == series.keys.max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay)))
    assert(days.length == days.last.toEpochDay - days.head.toEpochDay + 1)
    assert(days.sliding(2).forall(p => p(1).toEpochDay == p(0).toEpochDay + 1))
    // forward fill: present days carry their own value, gaps the last seen
    var carry = -1L
    rows.zip(days).foreach { case (r, day) =>
      series.get(day) match {
        case Some(n) =>
          assert(r.getAs[Int]("was_filled") == 0); carry = n
        case None =>
          assert(r.getAs[Int]("was_filled") == 1)
      }
      assert(r.getAs[Long]("n") == carry, s"$day")
    }
    assert(rows.exists(_.getAs[Int]("was_filled") == 1), "no gaps exercised")
  }

  test("q61 correlation matches a driver-side Pearson recompute, one scan") {
    import org.apache.spark.sql.functions._
    val got = ops.Relational.q61_correlation(spark, sf).collect()
      .map(r => (r.getAs[String]("col_a"), r.getAs[String]("col_b")) ->
        r.getAs[Double]("corr")).toMap
    assert(got.size == 6)
    val xs = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = xs.length.toDouble
    val (mx, my) = (xs.map(_._1).sum / n, xs.map(_._2).sum / n)
    val cov = xs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(xs.map(t => math.pow(t._1 - mx, 2)).sum)
    val sy = math.sqrt(xs.map(t => math.pow(t._2 - my, 2)).sum)
    val expect = rnd(cov / (sx * sy), 4)
    assert(math.abs(got(("l_extendedprice", "l_quantity")) - expect) <= 1e-4)
    // the stack() unpivot must NOT re-execute the agg: exactly one scan
    val plan = ops.Relational.q61_correlation(spark, sf).queryExecution.executedPlan
    val scans = PlanWalk.allNodes(plan)
      .count(n => n.getClass.getSimpleName.contains("FileSourceScan") ||
        n.getClass.getSimpleName.contains("BatchScan"))
    assert(scans == 1, s"expected one lineitem scan, got $scans")
  }

  test("q62 Welch t-test matches the closed-form recompute") {
    import org.apache.spark.sql.functions._
    val r = ops.Relational.q62_welch_ttest(spark, sf).collect().head
    def stats(t: String): (Long, Double, Double) = {
      val v = Tables.events(spark, sf).filter(col("event_type") === t)
        .select("value").collect().map(_.getDouble(0))
      val m = v.sum / v.length
      (v.length.toLong, m, v.map(x => (x - m) * (x - m)).sum / (v.length - 1))
    }
    val (na, ma, va) = stats("purchase")
    val (nb, mb, vb) = stats("click")
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
    assert(math.abs(r.getAs[Double]("mean_a") - ma) < 1e-3)
    val se = va / na + vb / nb
    assert(math.abs(r.getAs[Double]("t_stat") - (ma - mb) / math.sqrt(se)) < 1e-3)
    val dof = se * se /
      (math.pow(va / na, 2) / (na - 1) + math.pow(vb / nb, 2) / (nb - 1))
    assert(math.abs(r.getAs[Double]("dof") - dof) < 0.02)
    // Welch dof bounds: min(na,nb)-1 ≤ dof ≤ na+nb-2
    assert(dof >= math.min(na, nb) - 1 && dof <= na + nb - 2)
  }

  test("q75 peak concurrency equals the driver sweep-line recompute") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val DayUs = 86400000000L
    val sessions = evs.groupBy(_._1).values.flatMap { grp =>
      val sorted = grp.sortBy(e => (e._3, e._2))
      sorted.foldLeft(List.empty[List[Long]]) {
        case (Nil, e) => List(List(e._3))
        case (h :: t, e) if e._3 - h.head <= ops.Relational.SessionGapUs =>
          (e._3 :: h) :: t
        case (acc, e) => List(e._3) :: acc
      }.map(s0 => (s0.min, s0.max))
    }
    val byDay = sessions.flatMap { case (st, en) =>
      (st / DayUs to en / DayUs).map { dayn =>
        (dayn, math.max(st, dayn * DayUs), math.min(en, (dayn + 1) * DayUs - 1))
      }
    }.groupBy(_._1)
    val expect = byDay.map { case (dayn, segs) =>
      val evts = segs.flatMap(s0 => Seq((s0._2, 1), (s0._3 + 1, -1))).toSeq
        .sortBy(e => (e._1, e._2))
      var run = 0; var peak = 0
      // peers at one (t, delta) share a frame — fold matching groups
      evts.groupBy(identity).toSeq.sortBy(e => (e._1._1, e._1._2)).foreach {
        case ((_, dlt), group) => run += dlt * group.size; peak = math.max(peak, run)
      }
      dayn -> (segs.size.toLong, peak.toLong)
    }
    val got = ops.Relational.q75_peak_concurrency(spark, sf).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val dayn = java.time.LocalDate.parse(r.getAs[String]("day")).toEpochDay
      val (nSeg, peak) = expect(dayn)
      assert(r.getAs[Long]("n_segments") == nSeg, s"day $dayn segments")
      assert(r.getAs[Long]("peak_concurrent") == peak, s"day $dayn peak")
    }
  }

  test("q74 paths equal the driver-side sessionize-and-truncate recompute") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val paths = evs.groupBy(_._1).values.flatMap { grp =>
      val sorted = grp.sortBy(e => (e._4, e._2))
      // gaps-and-islands sessionization
      val sessions = sorted.foldLeft(List.empty[List[(Long, Long, String, Long)]]) {
        case (Nil, e) => List(List(e))
        case (h :: t, e) if e._4 - h.head._4 <= ops.Relational.SessionGapUs =>
          (e :: h) :: t
        case (acc, e) => List(e) :: acc
      }.map(_.reverse)
      sessions.map(_.take(ops.Relational.PathDepth).map(_._3).mkString(">"))
    }
    val counts = paths.groupBy(identity).map { case (p, v) => p -> v.size.toLong }
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = ops.Relational.q74_top_paths(spark, sf).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_sessions"))).toSeq
    assert(got == expect, s"got ${got.take(3)} vs ${expect.take(3)}")
  }

  test("q73 Holt recursion matches the sequential recompute and forecasts") {
    val rows = ops.Relational.q73_holt(spark, sf).collect()
    assert(rows.length >= 2)
    val ns = rows.map(_.getAs[Long]("n_events").toDouble)
    val (a, b) = (ops.Relational.HoltAlpha, ops.Relational.HoltBeta)
    var lv = ns(0); var tr = ns(1) - ns(0)
    rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) {
        val l1 = a * ns(i) + (1 - a) * (lv + tr)
        tr = b * (l1 - lv) + (1 - b) * tr; lv = l1
      }
      assert(math.abs(r.getAs[Double]("level") - lv) < 1e-3, s"level row $i")
      assert(math.abs(r.getAs[Double]("trend") - tr) < 1e-3)
      assert(math.abs(r.getAs[Double]("forecast_next") - (lv + tr)) < 2e-3)
    }
  }

  test("q71 bands bracket the mean and flag exactly the breaches") {
    val rows = ops.Relational.q71_bollinger(spark, sf).collect()
    assert(rows.nonEmpty)
    val ns = rows.map(_.getAs[Long]("n_events").toDouble)
    rows.zipWithIndex.foreach { case (r, i) =>
      val win = ns.slice(math.max(0, i - 6), i + 1)
      val m = win.sum / win.length
      assert(math.abs(r.getAs[Double]("ma7") - m) < 1e-3)
      if (win.length < 2) assert(r.isNullAt(r.fieldIndex("breach")))
      else {
        val sd = math.sqrt(win.map(x => (x - m) * (x - m)).sum / (win.length - 1))
        assert(math.abs(r.getAs[Double]("upper") - (m + 2 * sd)) < 1e-3)
        assert(math.abs(r.getAs[Double]("lower") - (m - 2 * sd)) < 1e-3)
        val breach = ns(i) > m + 2 * sd || ns(i) < m - 2 * sd
        assert(r.getAs[Int]("breach") == (if (breach) 1 else 0))
      }
    }
  }

  test("q72 new + returning = active, and news sum to the user count") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q72_new_returning(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_returning") ==
        r.getAs[Long]("n_active"))
    }
    // every user is new exactly once
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum == users)
    // day 1: everyone active is new
    assert(rows.head.getAs[Long]("n_returning") == 0)
  }

  test("q70 rolling median equals the sliding-window recompute") {
    val rows = ops.Relational.q70_rolling_median(spark, sf).collect()
    assert(rows.nonEmpty)
    val ns = rows.map(_.getAs[Long]("n_events").toDouble)
    rows.zipWithIndex.foreach { case (r, i) =>
      val win = ns.slice(math.max(0, i - 6), i + 1).sorted
      val med =
        if (win.length % 2 == 1) win(win.length / 2)
        else (win(win.length / 2 - 1) + win(win.length / 2)) / 2
      assert(math.abs(r.getAs[Double]("med7") - med) < 1e-6,
        s"${r.getAs[String]("day")}")
    }
  }

  test("q69 anomaly flags equal the residual-MAD recompute") {
    val res = ops.Relational.q57_seasonal_decompose(spark, sf).collect()
      .filter(!_.isNullAt(4)).map(r => r.getAs[String]("day") -> r.getAs[Double]("residual"))
    def median(xs: Seq[Double]): Double = {
      val s0 = xs.sorted
      if (s0.length % 2 == 1) s0(s0.length / 2)
      else (s0(s0.length / 2 - 1) + s0(s0.length / 2)) / 2
    }
    val med = median(res.map(_._2).toSeq)
    val mad = median(res.map(t => math.abs(t._2 - med)).toSeq)
    val expect = res.map { case (day, r) =>
      day -> (if (math.abs(r - med) > 3 * 1.4826 * mad) 1 else 0) }.toMap
    val got = ops.Relational.q69_stl_anomaly(spark, sf).collect()
    assert(got.length == res.length)
    got.foreach { r =>
      assert(r.getAs[Int]("is_anomaly") == expect(r.getAs[String]("day")),
        r.getAs[String]("day"))
    }
  }

  test("q68 LPA equals the driver recompute of the synchronous schedule") {
    import org.apache.spark.sql.functions._
    val ob = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = ob.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to ops.Relational.LpaIters)
      lbl = adj.map { case (n, nbrs) =>
        val votes = nbrs.groupBy(lbl).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    val m = edges.size.toDouble
    val ec = edges.groupBy(e => lbl(e._1))
      .map { case (l, es) => l -> es.count(e => lbl(e._1) == lbl(e._2)) }
    val dc = adj.toSeq.groupBy(t => lbl(t._1))
      .map { case (l, ns) => l -> ns.map(_._2.size).sum }
    val comm = lbl.values.groupBy(identity).map { case (l, v) => l -> v.size }
    val modularity = comm.keys.map(l =>
      ec.getOrElse(l, 0) / m - math.pow(dc(l) / (2 * m), 2)).sum
    val r = ops.Relational.q68_label_propagation(spark, sf).collect().head
    assert(r.getAs[Long]("n_nodes") == adj.size)
    assert(r.getAs[Long]("n_communities") == comm.size)
    assert(r.getAs[Long]("largest") == comm.values.max)
    assert(math.abs(r.getAs[Double]("modularity") - modularity) < 1e-4)
    assert(r.getAs[Long]("n_communities") < r.getAs[Long]("n_nodes"),
      "propagation must actually merge labels")
  }

  test("q67 contribution deltas decompose the total move exactly") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q67_contribution(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-segment recompute in cents
    val rev = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-03-01").cast("timestamp"))
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("m"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("rc"))
      .collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, v) => k -> v.map(_.getLong(2)).sum }
    rows.foreach { r =>
      val seg = r.getString(0)
      val prev = rev.getOrElse((seg, "1997-01"), 0L) / 100.0
      val curr = rev.getOrElse((seg, "1997-02"), 0L) / 100.0
      assert(math.abs(r.getAs[Double]("rev_prev") - prev) < 1e-6, seg)
      assert(math.abs(r.getAs[Double]("rev_curr") - curr) < 1e-6, seg)
      assert(math.abs(r.getAs[Double]("delta") - rnd(curr - prev, 2)) < 1e-6)
    }
    // shares decompose the total move
    assert(math.abs(rows.map(_.getAs[Double]("share_of_delta")).sum - 1.0) < 1e-2)
  }

  test("q65 EWMA equals the sequential recursion") {
    val rows = ops.Relational.q65_ewma(spark, sf).collect()
    assert(rows.nonEmpty)
    var s0 = -1.0
    rows.foreach { r =>
      val x = r.getAs[Long]("n_events").toDouble
      s0 = if (s0 < 0) x
           else ops.Relational.EwmaAlpha * x + (1 - ops.Relational.EwmaAlpha) * s0
      assert(math.abs(r.getAs[Double]("ewma") - s0) < 1e-2,
        s"${r.getAs[String]("day")}")
    }
  }

  test("q66 ABC classes partition parts with the declared share cuts") {
    val rows = ops.Relational.q66_abc_analysis(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_parts"),
        r.getAs[Double]("revenue"), r.getAs[Double]("share"))).toMap
    assert(rows.keySet == Set("A", "B", "C"))
    val shares = rows.view.mapValues(_._3).toMap
    assert(math.abs(shares.values.sum - 1.0) < 1e-3, "shares must sum to 1")
    // A carries ~80% of revenue with far fewer parts than C's tail share
    assert(shares("A") >= 0.75 && shares("A") <= 0.81)
    assert(shares("B") >= 0.10 && shares("B") <= 0.20)
    val nParts = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.values.map(_._1).sum == nParts, "every sold part classified")
  }

  test("q63 chi-squared matches the contingency-table recompute") {
    import org.apache.spark.sql.functions._
    val r = ops.Relational.q63_chisq(spark, sf).collect().head
    val cells = Tables.events(spark, sf)
      .groupBy(col("event_type"), (dayofweek(to_date(col("ts"))) - 1).as("wd"))
      .agg(count(lit(1)).as("o")).collect()
      .map(x => (x.getString(0), x.getInt(1)) -> x.getLong(2).toDouble).toMap
    val n = cells.values.sum
    val rowT = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val colT = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val chi2 = cells.map { case ((t, w), o) =>
      val e = rowT(t) * colT(w) / n; (o - e) * (o - e) / e }.sum
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-3)
    assert(r.getAs[Int]("dof") == (rowT.size - 1) * (colT.size - 1))
    assert(r.getAs[Long]("n") == n.toLong)
  }

  test("q64 OLS matches the closed-form moment recompute") {
    val xs = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = xs.length.toDouble
    val (mx, my) = (xs.map(_._1).sum / n, xs.map(_._2).sum / n)
    val sxy = xs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = xs.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val syy = xs.map { case (_, y) => (y - my) * (y - my) }.sum
    val r = ops.Relational.q64_linreg(spark, sf).collect().head
    assert(math.abs(r.getAs[Double]("slope") - sxy / sxx) < 1e-3)
    assert(math.abs(r.getAs[Double]("intercept") - (my - sxy / sxx * mx)) < 1e-2)
    assert(math.abs(r.getAs[Double]("r2") - sxy * sxy / (sxx * syy)) < 1e-5)
    assert(r.getAs[Long]("n") == xs.length.toLong)
  }

  test("q76 Benford digits equal the integer-domain driver recompute") {
    val prices = Tables.orders(spark, sf).select("o_totalprice")
      .collect().map(_.getDouble(0))
    val expect = prices
      .map(p => math.round(p * 100).toString.charAt(0).asDigit)
      .groupBy(identity).map { case (dg, v) => dg -> v.length.toLong }
    val rows = ops.Relational.q76_benford(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == prices.length.toLong)
    rows.foreach { r =>
      val dg = r.getAs[Int]("digit")
      assert(1 <= dg && dg <= 9)
      assert(r.getAs[Long]("n") == expect(dg), s"digit $dg")
      assert(math.abs(r.getAs[Double]("benford_p") -
        math.log10(1 + 1.0 / dg)) < 1e-3)
    }
    // shares are a distribution
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-2)
  }

  test("q77 growth ratios derive from the rounded monthly revenue") {
    val rows = ops.Relational.q77_yoy_growth(spark, sf).collect()
      .map(r => (r.getAs[String]("month"), r.getAs[Double]("revenue"),
        Option(r.getAs[java.lang.Double]("mom")), Option(r.getAs[java.lang.Double]("yoy"))))
      .sortBy(_._1)
    assert(rows.length > 12, "needs more than a year of months for YoY")
    assert(rows.head._3.isEmpty && rows.head._4.isEmpty)
    rows.sliding(2).foreach {
      case Array((_, pr, _, _), (_, cr, Some(mom), _)) =>
        val em = BigDecimal((cr - pr) / pr)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(mom - em) < 1e-9)
      case _ => ()
    }
    for (i <- 12 until rows.length) {
      val yoy = rows(i)._4.getOrElse(fail(s"missing yoy at ${rows(i)._1}"))
      val e = BigDecimal((rows(i)._2 - rows(i - 12)._2) / rows(i - 12)._2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(yoy - e) < 1e-9, s"yoy at ${rows(i)._1}")
    }
  }

  test("q78 bucketed AUC equals the naive pairwise Mann-Whitney") {
    import org.apache.spark.sql.functions._
    val sv = Tables.events(spark, sf)
      .select(col("value"), (col("event_type") === "purchase").cast("int"))
      .collect().map(r => (r.getDouble(0), r.getInt(1)))
    val pos = sv.filter(_._2 == 1).map(_._1)
    val neg = sv.filter(_._2 == 0).map(_._1)
    var u = 0.0
    for (p <- pos; n <- neg)
      u += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    val expect = u / (pos.length.toDouble * neg.length.toDouble)
    val r = ops.Relational.q78_auc(spark, sf).collect().head
    assert(r.getAs[Long]("n_pos") == pos.length.toLong)
    assert(r.getAs[Long]("n_neg") == neg.length.toLong)
    assert(math.abs(r.getAs[Double]("auc") - expect) < 1e-6,
      s"auc ${r.getAs[Double]("auc")} vs naive $expect")
  }

  test("q79 Kaplan-Meier curve equals the driver product-limit fold") {
    import org.apache.spark.sql.functions._
    val lives = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"), max(to_date(col("ts"))).as("ld"))
      .collect().map(r => (r.getDate(1).toLocalDate, r.getDate(2).toLocalDate))
    val mxd = lives.map(_._2).max
    val durs = lives.map { case (fd, ld) =>
      (java.time.temporal.ChronoUnit.DAYS.between(fd, ld),
        ld.isBefore(mxd.minusDays(ops.Relational.SurvivalCensorDays - 1)))
    }
    val byDur = durs.groupBy(_._1).toSeq.sortBy(_._1)
    var atRisk = durs.length.toLong
    var s0 = 1.0
    val expect = byDur.map { case (t, grp) =>
      val deaths = grp.count(_._2).toLong
      val row = (t, grp.length.toLong, deaths, atRisk)
      s0 *= (1.0 - deaths.toDouble / atRisk)
      val out = (row, s0)
      atRisk -= grp.length
      out
    }
    val got = ops.Relational.q79_survival(spark, sf).collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (r, ((t, ne, de, ar), surv)) =>
      assert(r.getAs[Long]("t_days") == t)
      assert(r.getAs[Long]("n_ending") == ne)
      assert(r.getAs[Long]("deaths") == de)
      assert(r.getAs[Long]("at_risk") == ar)
      assert(math.abs(r.getAs[Double]("survival") - surv) < 1e-3,
        s"S($t): ${r.getAs[Double]("survival")} vs $surv")
    }
    // the curve is monotone non-increasing from 1
    val ss = got.map(_.getAs[Double]("survival"))
    assert(ss.head <= 1.0 + 1e-9)
    ss.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-9); case _ => () }
  }

  test("q80 per-brand elasticity equals the closed-form grouped slope") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q80_price_elasticity(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0),
        math.log(r.getDouble(1) / r.getDouble(2)), math.log(r.getDouble(2))))
      .groupBy(_._1)
    rows.foreach { r =>
      val brand = r.getAs[String]("p_brand")
      val pts = raw(brand).map(p => (p._2, p._3))
      val n = pts.length.toDouble
      val mx = pts.map(_._1).sum / n
      val my = pts.map(_._2).sum / n
      val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      assert(r.getAs[Long]("n") == pts.length.toLong)
      assert(math.abs(r.getAs[Double]("elasticity") - sxy / sxx) < 1e-3,
        s"brand $brand")
    }
  }

  test("q81 ANOVA equals the driver two-pass recompute") {
    import org.apache.spark.sql.functions._
    val spend = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"), col("c_mktsegment"))
      .agg(sum("o_totalprice").as("spend"))
      .collect().map(r => (r.getString(1), r.getDouble(2)))
    val groups = spend.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = spend.length.toDouble
    val k = groups.size.toDouble
    val m = spend.map(_._2).sum / n
    val ssb = groups.values.map(g =>
      g.length * math.pow(g.sum / g.length - m, 2)).sum
    val ssw = groups.values.map(g => {
      val mg = g.sum / g.length; g.map(x => math.pow(x - mg, 2)).sum
    }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val r = ops.Relational.q81_anova(spark, sf).collect().head
    assert(r.getAs[Long]("k") == k.toLong)
    assert(r.getAs[Long]("n") == n.toLong)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-3)
    assert(math.abs(r.getAs[Double]("eta_sq") - ssb / (ssb + ssw)) < 1e-5)
  }

  test("q82 gap histogram is a distribution over driver-recomputed gaps") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val gaps = orders.groupBy(_._1).values.flatMap { g =>
      g.sortBy(e => (e._2.toEpochDay, e._3)).sliding(2).collect {
        case Array(a, b) =>
          java.time.temporal.ChronoUnit.DAYS.between(a._2, b._2) / 7
      }
    }.toSeq
    val expect = gaps.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = ops.Relational.q82_interpurchase(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == gaps.length.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_gaps") == expect(r.getAs[Long]("gap_weeks")))
    }
    assert(math.abs(rows.map(_.getAs[Double]("pct")).sum - 1.0) < 1e-2)
  }

  test("q83 backtest scores both models on the same day support") {
    val rows = ops.Relational.q83_forecast_eval(spark, sf).collect()
    assert(rows.length == 2)
    val byModel = rows.map(r => r.getAs[String]("model") -> r).toMap
    assert(byModel.keySet == Set("naive", "snaive7"))
    // same support, positive errors, RMSE ≥ MAE (Jensen)
    assert(byModel("naive").getAs[Long]("n_days") ==
      byModel("snaive7").getAs[Long]("n_days"))
    rows.foreach { r =>
      assert(r.getAs[Double]("mae") >= 0 && r.getAs[Double]("mape") >= 0)
      assert(r.getAs[Double]("rmse") >= r.getAs[Double]("mae") - 1e-9)
    }
  }

  test("q84 conversion profile equals the driver first-view/first-purchase fold") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = evs.groupBy(_._1)
    val delays = byUser.values.flatMap { g =>
      val views = g.filter(_._2 == "view")
      if (views.isEmpty) None
      else {
        val fv = views.map(_._3).min
        val after = g.filter(e => e._2 == "purchase" && e._3 > fv).map(_._3)
        Some(if (after.isEmpty) None
          else Some((after.min - fv) / 3600000000.0))
      }
    }.toSeq
    val r = ops.Relational.q84_time_to_convert(spark, sf).collect().head
    assert(r.getAs[Long]("n_viewers") == delays.length.toLong)
    assert(r.getAs[Long]("n_converted") == delays.count(_.isDefined).toLong)
    val conv = delays.flatten.toArray.sorted
    def pct(q: Double): Double = {
      val pos = q * (conv.length - 1)
      val lo = pos.toInt
      if (lo == conv.length - 1) conv(lo)
      else conv(lo) + (pos - lo) * (conv(lo + 1) - conv(lo))
    }
    assert(math.abs(r.getAs[Double]("p50_h") - pct(0.5)) < 0.02)
    assert(math.abs(r.getAs[Double]("p90_h") - pct(0.9)) < 0.02)
    assert(r.getAs[Double]("p25_h") <= r.getAs[Double]("p50_h"))
    assert(r.getAs[Double]("p75_h") <= r.getAs[Double]("p90_h"))
  }

  test("q85 bucketed Gini equals the sorted driver formula") {
    import org.apache.spark.sql.functions._
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(sum("o_totalprice").as("x"))
      .collect().map(_.getDouble(1)).sorted
    val n = spend.length.toDouble
    val srx = spend.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val gini = 2.0 * srx / (n * spend.sum) - (n + 1.0) / n
    val r = ops.Relational.q85_gini(spark, sf).collect().head
    assert(r.getAs[Long]("n_customers") == spend.length.toLong)
    assert(math.abs(r.getAs[Double]("gini") - gini) < 1e-6)
    assert(r.getAs[Double]("gini") >= 0 && r.getAs[Double]("gini") < 1)
  }

  test("q86 Theil decomposition: total = between + Σ share·within") {
    import org.apache.spark.sql.functions._
    val spend = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(sum("o_totalprice").as("x"))
      .collect().map(_.getDouble(1))
    val mu = spend.sum / spend.length
    val total = spend.map(x => (x / mu) * math.log(x / mu)).sum / spend.length
    val rows = ops.Relational.q86_theil(spark, sf).collect()
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    val recomposed = rows.map(_.getAs[Double]("between_term")).sum +
      rows.map(r => r.getAs[Double]("share") * r.getAs[Double]("theil_within")).sum
    assert(math.abs(recomposed - total) < 1e-4)
    rows.foreach(r => assert(r.getAs[Double]("theil_within") >= -1e-9))
  }

  test("q87 HHI matches a driver recompute for one market; bounds hold") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q87_hhi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_suppliers").toDouble
      val hhi = r.getAs[Double]("hhi"); val cr4 = r.getAs[Double]("cr4")
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-9, s"hhi $hhi n $n")
      assert(cr4 > 0 && cr4 <= 1.0 + 1e-9)
      if (n >= 4) assert(cr4 >= 4.0 / n - 1e-6)
    }
    val market = rows.head.getAs[String]("n_name")
    val revs = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        "o_orderkey")
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")), "o_custkey")
      .join(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name")), "c_nationkey")
      .filter(col("n_name") === market)
      .groupBy("l_suppkey").agg(sum("r").as("rev"))
      .collect().map(_.getDouble(1))
    val t = revs.sum
    val hhiRef = revs.map(v => v * v).sum / (t * t)
    val cr4Ref = revs.sorted(Ordering[Double].reverse).take(4).sum / t
    val got = rows.head
    assert(math.abs(got.getAs[Double]("hhi") - hhiRef) < 1e-5)
    assert(math.abs(got.getAs[Double]("cr4") - cr4Ref) < 1e-5)
    assert(got.getAs[Long]("n_suppliers") == revs.length.toLong)
  }

  test("q88 ACF equals the driver recompute; Ljung-Box is cumulative") {
    import org.apache.spark.sql.functions._
    val y = Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum("o_totalprice").as("y")).orderBy("day")
      .collect().map(_.getDouble(1))
    val n = y.length
    val mu = y.sum / n
    val e = y.map(_ - mu)
    val s0 = e.map(v => v * v).sum
    val rows = ops.Relational.q88_acf(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("lag_k")).toSeq == (1 to 14))
    var qAcc = 0.0
    rows.foreach { r =>
      val k = r.getAs[Int]("lag_k")
      val rk = (k until n).map(i => e(i) * e(i - k)).sum / s0
      assert(math.abs(r.getAs[Double]("acf") - rk) < 1e-5, s"lag $k")
      assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9)
      qAcc += rk * rk / (n - k)
      assert(math.abs(r.getAs[Double]("ljung_box_q") - qAcc * n * (n + 2)) < 1e-2)
    }
    // cumulative Q never decreases
    val qs = rows.map(_.getAs[Double]("ljung_box_q"))
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a - 1e-9 })
  }

  test("q89 Spearman matches a driver midrank recompute; rho in [-1,1]") {
    import org.apache.spark.sql.functions._
    val base = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("double").as("x"), sum("o_totalprice").as("y"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    def midrank(vs: Array[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val below = sorted.count(_ < v); val c = sorted.count(_ == v)
        v -> (below + (c + 1) / 2.0)
      }.toMap
    }
    val rxm = midrank(base.map(_._1)); val rym = midrank(base.map(_._2))
    val xs = base.map(p => rxm(p._1)); val ys = base.map(p => rym(p._2))
    val n = xs.length
    val mx = xs.sum / n; val my = ys.sum / n
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val sx = math.sqrt(xs.map(a => (a - mx) * (a - mx)).sum)
    val sy = math.sqrt(ys.map(b => (b - my) * (b - my)).sum)
    val row = ops.Relational.q89_spearman(spark, sf).collect().head
    assert(row.getAs[Long]("n_customers") == n)
    assert(math.abs(row.getAs[Double]("spearman_rho") - cov / (sx * sy)) < 1e-5)
    assert(math.abs(row.getAs[Double]("spearman_rho")) <= 1.0 + 1e-9)
    assert(math.abs(row.getAs[Double]("pearson_r")) <= 1.0 + 1e-9)
  }

  test("q90 KS equals the brute-force CDF sweep with min-v argmax") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select("value", "event_type").collect()
      .map(r => (r.getDouble(0), r.getString(1) == "purchase"))
    val vs = ev.map(_._1).distinct.sorted
    val n1 = ev.count(_._2); val n0 = ev.length - n1
    var best = 0.0; var bestAt = Double.MaxValue
    for (v <- vs) {
      val k1 = ev.count(p => p._2 && p._1 <= v).toDouble / n1
      val k0 = ev.count(p => !p._2 && p._1 <= v).toDouble / n0
      val dd = math.abs(k1 - k0)
      if (dd > best) { best = dd; bestAt = v }
    }
    val row = ops.Relational.q90_ks(spark, sf).collect().head
    // ks_d reports rounded to 6dp; the brute sweep is unrounded
    assert(math.abs(row.getAs[Double]("ks_d") - best) < 5.1e-7)
    assert(row.getAs[Double]("ks_at") == bestAt)
    assert(row.getAs[Long]("n1") == n1.toLong)
    assert(row.getAs[Long]("n0") == n0.toLong)
    assert(row.getAs[Double]("ks_scaled") >= 0.0)
  }

  test("q91 Mann-Kendall equals the brute pair sweep") {
    import org.apache.spark.sql.functions._
    val y = Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum("o_totalprice").as("y")).orderBy("day")
      .collect().map(_.getDouble(1))
    val n = y.length
    var sStat = 0L
    for (i <- 0 until n; j <- i + 1 until n)
      sStat += math.signum(y(j) - y(i)).toLong
    val ties = y.groupBy(identity).values.map(_.length.toLong)
      .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
    val variance = (n.toDouble * (n - 1) * (2 * n + 5) - ties) / 18.0
    val zExp =
      if (sStat > 0) (sStat - 1) / math.sqrt(variance)
      else if (sStat < 0) (sStat + 1) / math.sqrt(variance) else 0.0
    val row = ops.Relational.q91_mann_kendall(spark, sf).collect().head
    assert(row.getAs[Long]("n_days") == n.toLong)
    assert(row.getAs[Long]("s_stat") == sStat)
    assert(math.abs(row.getAs[Double]("tau") -
      2.0 * sStat / (n.toDouble * (n - 1))) < 1e-5)
    assert(math.abs(row.getAs[Double]("z") - zExp) < 1e-3)
    val expTrend = if (zExp > 1.96) "increasing"
      else if (zExp < -1.96) "decreasing" else "no_trend"
    assert(row.getAs[String]("trend") == expTrend)
  }

  test("q92 CCF equals the brute lag sweep and is bounded in [-1,1]") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      .orderBy("day").collect()
      .map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = daily.length
    val mx = daily.map(_._1).sum / n; val my = daily.map(_._2).sum / n
    val ex = daily.map(_._1 - mx); val ey = daily.map(_._2 - my)
    val den = math.sqrt(ex.map(v => v * v).sum * ey.map(v => v * v).sum)
    val rows = ops.Relational.q92_ccf(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("lag_k")).toSeq == (-7 to 7))
    rows.foreach { r =>
      val k = r.getAs[Int]("lag_k")
      val sk = (0 until n).flatMap { i =>
        val j = i + k
        if (j >= 0 && j < n) Some(ex(i) * ey(j)) else None
      }.sum
      assert(math.abs(r.getAs[Double]("ccf") - sk / den) < 1e-5, s"lag $k")
      assert(math.abs(r.getAs[Double]("ccf")) <= 1.0 + 1e-9)
    }
  }

  test("q93 stickiness equals the brute trailing-7-day recompute") {
    import org.apache.spark.sql.functions._
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    val rows = ops.Relational.q93_stickiness(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val day = java.time.LocalDate.parse(r.getAs[String]("day"))
      val dau = ud.count(_._2 == day).toLong
      val wau = ud.filter { case (_, d0) =>
        !d0.isAfter(day) && d0.isAfter(day.minusDays(7))
      }.map(_._1).distinct.length.toLong
      assert(r.getAs[Long]("dau") == dau, s"dau $day")
      assert(r.getAs[Long]("wau") == wau, s"wau $day")
      assert(math.abs(r.getAs[Double]("stickiness") -
        dau.toDouble / wau) < 1e-3)
    }
  }

  test("q94 CUPED equals the driver recompute and reduces variance") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"),
        col("value")).collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1)),
        r.getDouble(2)))
    val lo = ev.map(_._2).min
    val per = ev.groupBy(_._1).map { case (uid, g) =>
      val x = g.filter(e => java.time.temporal.ChronoUnit.DAYS
        .between(lo, e._2) < 15).map(_._3).sum
      val y = g.filter(e => java.time.temporal.ChronoUnit.DAYS
        .between(lo, e._2) >= 15).map(_._3).sum
      val inExp = g.exists(e => java.time.temporal.ChronoUnit.DAYS
        .between(lo, e._2) >= 15)
      (uid, x, y, inExp)
    }.filter(_._4).toSeq
    val n = per.length
    val mx = per.map(_._2).sum / n; val my = per.map(_._3).sum / n
    val cxy = per.map(p => (p._2 - mx) * (p._3 - my)).sum / (n - 1)
    val vx = per.map(p => math.pow(p._2 - mx, 2)).sum / (n - 1)
    val theta = if (vx > 0) cxy / vx else 0.0
    val adj = per.map(p => (p._1, p._3, p._3 - theta * (p._2 - mx)))
    val rows = ops.Relational.q94_cuped(spark, sf).collect()
    assert(rows.map(_.getAs[String]("variant")).toSeq == Seq("A", "B"))
    rows.foreach { r =>
      val grp = adj.filter(p =>
        (if (p._1 % 2 == 0) "A" else "B") == r.getAs[String]("variant"))
      assert(r.getAs[Long]("n_users") == grp.length.toLong)
      assert(math.abs(r.getAs[Double]("mean_y") -
        grp.map(_._2).sum / grp.length) < 1e-2)
      assert(math.abs(r.getAs[Double]("mean_y_cuped") -
        grp.map(_._3).sum / grp.length) < 1e-2)
      // CUPED must genuinely shrink variance on a correlated covariate
      assert(r.getAs[Double]("var_reduction") > 0.0)
    }
  }

  test("q95 clamped balance equals the sequential recurrence per brand") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q95_clamped_balance(spark, sf).collect()
    assert(rows.nonEmpty)
    // the reflection identity must equal the literal max(0, prev + δ)
    // recurrence, brand by brand, week by week
    rows.groupBy(_.getAs[String]("p_brand")).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getAs[Long]("week"))
      var bal = 0.0
      sorted.foreach { r =>
        bal = math.max(0.0, bal + r.getAs[Double]("delta"))
        assert(math.abs(r.getAs[Double]("balance") - bal) < 1e-9,
          s"${r.getAs[String]("p_brand")} week ${r.getAs[Long]("week")}")
      }
    }
    assert(rows.forall(_.getAs[Double]("balance") >= 0.0))
  }

  test("q96 Markov eval equals the driver train/test recompute") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), to_date(col("ts")).cast("string").as("day"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        java.time.LocalDate.parse(r.getString(4))))
    val lo = evs.map(_._5).min
    val tr = evs.groupBy(_._1).values.flatMap { g =>
      val s0 = g.sortBy(e => (e._3, e._4))
      s0.zip(s0.tail).map { case (a, b) =>
        (a._2, b._2, java.time.temporal.ChronoUnit.DAYS
          .between(lo, b._5) < 15)
      }
    }.toSeq
    val model = tr.filter(_._3).groupBy(t => (t._1, t._2))
      .map { case ((p, n), g) => (p, n, g.size) }
      .groupBy(_._1).map { case (p, cands) =>
        p -> cands.toSeq.sortBy(c => (-c._3, c._2)).head._2
      }
    val rows = ops.Relational.q96_markov_eval(spark, sf).collect()
    rows.foreach { r =>
      val p = r.getAs[String]("prev")
      val test = tr.filter(t => t._1 == p && !t._3)
      assert(r.getAs[Long]("n_test") == test.length.toLong)
      val pred = model.get(p)
      assert(Option(r.getAs[String]("predicted")) == pred)
      val hits = test.count(t => pred.contains(t._2)).toLong
      assert(r.getAs[Long]("n_hit") == hits, s"hits for $p")
      assert(math.abs(r.getAs[Double]("accuracy") -
        hits.toDouble / test.length) < 1e-3)
    }
  }

  test("q97 top-k + OTHERS: shares sum to 1, fold conserves totals") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q97_topk_others(spark, sf).collect()
    assert(rows.length >= 2 && rows.exists(_.getAs[String]("bucket") == "OTHERS"))
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, "shares must sum to 1")
    val total = Tables.lineitem(spark, sf)
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")))
      .collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("cents")).sum == total,
      "the fold must conserve total revenue cents")
    // top rows are genuinely the largest: every named bucket ≥ OTHERS' max member
    val named = rows.filter(_.getAs[String]("bucket") != "OTHERS")
    assert(named.map(_.getAs[Int]("rank")).sorted.toSeq ==
      (1 to named.length))
  }

  test("q98 weighted median equals the expansion-semantics recompute") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_returnflag"),
        (col("l_extendedprice") / col("l_quantity")).as("up"),
        col("l_quantity").cast("long")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val rows = ops.Relational.q98_weighted_median(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val grp = li.filter(_._1 == flag)
      assert(r.getAs[Long]("units") == grp.map(_._3).sum)
      // expansion semantics: value repeated q times, linear interpolation
      val expanded = grp.flatMap(g => Seq.fill(g._3.toInt)(g._2)).sorted
      def q(p: Double): Double = {
        val pos = p * (expanded.length - 1)
        val lo = pos.toInt
        if (lo + 1 < expanded.length)
          expanded(lo) + (pos - lo) * (expanded(lo + 1) - expanded(lo))
        else expanded(lo)
      }
      assert(math.abs(r.getAs[Double]("wmedian") - q(0.5)) < 1e-2, flag)
      assert(math.abs(r.getAs[Double]("wp90") - q(0.9)) < 1e-2, flag)
    }
  }

  test("q99 ABC/XYZ matrix conserves parts and matches a driver recompute") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q99_abc_xyz(spark, sf).collect()
    assert(rows.nonEmpty)
    val nParts = Tables.lineitem(spark, sf)
      .select(countDistinct(col("l_partkey"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_parts")).sum == nParts,
      "every part lands in exactly one matrix cell")
    assert(math.abs(rows.map(_.getAs[Double]("rev_share")).sum - 1.0) < 1e-3)
    val classes = rows.map(r =>
      (r.getAs[String]("abc_class"), r.getAs[String]("xyz_class")))
    assert(classes.distinct.length == classes.length)
    assert(classes.forall { case (a, x) =>
      Set("A", "B", "C")(a) && Set("X", "Y", "Z")(x) })
    // driver recompute of one part's CV pins the zero-week convention
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        (datediff(to_date(col("l_shipdate")),
          lit("1970-01-01").cast("date")) / 7).cast("long").as("week"),
        col("l_quantity")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val w0 = li.map(_._2).min; val w1 = li.map(_._2).max
    val nW = (w1 - w0 + 1).toDouble
    val byPart = li.groupBy(_._1)
    val cvs = byPart.map { case (_, g) =>
      val wq = g.groupBy(_._2).map(_._2.map(_._3).sum).toSeq
      val sq = wq.sum; val sq2 = wq.map(v => v * v).sum
      val mean = sq / nW
      math.sqrt(math.max(sq2 / nW - mean * mean, 0.0)) / mean
    }
    val expX = cvs.count(_ < 0.5).toLong
    assert(rows.filter(_.getAs[String]("xyz_class") == "X")
      .map(_.getAs[Long]("n_parts")).sum == expX, "X-class count")
  }

  test("q100 scorecard: clean synthetic schema passes every check") {
    val rows = ops.Relational.q100_quality_scorecard(spark, sf).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_total") > 0, r.getAs[String]("check"))
      assert(r.getAs[Long]("n_violations") == 0L,
        s"${r.getAs[String]("check")}: synthetic data must be clean")
      assert(r.getAs[Boolean]("ok"))
    }
    // the checks genuinely detect violations: a planted orphan fails FK
    import org.apache.spark.sql.functions._
    val orphan = Tables.lineitem(spark, sf).limit(1)
      .withColumn("l_orderkey", lit(-999L))
    val bad = Tables.lineitem(spark, sf).unionAll(orphan)
      .select("l_orderkey")
      .join(Tables.orders(spark, sf).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(bad == 1L, "a planted orphan must be caught by the FK check")
  }

  test("new dimension-join lanes broadcast their dims (no shuffled dim join)") {
    // q95/q97 join lineitem to the part dimension (q99 needs no join —
    // it keys on l_partkey directly); q80-style lanes proved the
    // pattern — pin it for the round-10 additions too
    for (name <- Seq("q95_clamped_balance", "q97_topk_others")) {
      val df = ops.Relational.queries(name)(spark, sf)
      df.collect()
      val plan = PlanWalk.allNodes(df.queryExecution.executedPlan)
      val bhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.nonEmpty, s"$name: part-dimension join is not broadcast")
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.isEmpty, s"$name: unexpected sort-merge join")
    }
  }

  test("q78/q85/m12 rank windows are partitioned; global windows post-agg only") {
    val cases: Seq[(String, Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame])] =
      Seq("q78_auc" -> ops.Relational.queries,
        "q85_gini" -> ops.Relational.queries,
        // q89's own plan is checkpoint-truncated; its midrank machinery
        // is audited directly below
        "q90_ks" -> ops.Relational.queries,
        "midranks" -> Map("midranks" ->
          ((s: org.apache.spark.sql.SparkSession, d: String) =>
            ops.Relational.midranks(Tables.orders(s, d)
              .groupBy("o_custkey")
              .agg(org.apache.spark.sql.functions.sum("o_totalprice").as("v"))
              .select("v")))),
        "m12_shard_pack" -> ops.Multimodal.queries)
    for ((name, fam) <- cases) {
      val df = fam(name)(spark, sf)
      df.collect()
      val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
      val windows = nodes.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$name: expected window operators")
      windows.foreach { w =>
        if (w.partitionSpec.isEmpty) {
          // a global window may only run on a collapsed post-aggregate
          // axis (bucket offsets: ≤2^14 rows, rankBuckets' cap), never
          // over raw table rows
          val hasAgg = PlanWalk.allNodes(w.child)
            .exists(_.getClass.getSimpleName.contains("Aggregate"))
          assert(hasAgg, s"$name: global window over raw rows")
        }
      }
      // the distributed rank itself must be a PARTITIONED window
      assert(windows.exists(_.partitionSpec.nonEmpty),
        s"$name: no partitioned rank window")
    }
  }

  test("q105 price indices: Fisher between Laspeyres/Paasche bounds, base year near 1") {
    val rows = ops.Relational.q105_price_index(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (l, p, f) = (r.getAs[Double]("laspeyres"),
        r.getAs[Double]("paasche"), r.getAs[Double]("fisher"))
      assert(l > 0 && p > 0 && f > 0)
      // Fisher is the geometric mean: strictly between min and max
      assert(f >= math.min(l, p) - 1e-9 && f <= math.max(l, p) + 1e-9)
      assert(r.getAs[Long]("n_common_parts") > 0)
      // synthetic prices are stationary: indices stay in a sane band
      assert(l > 0.5 && l < 2.0 && p > 0.5 && p < 2.0)
    }
    assert(!rows.map(_.getAs[Int]("yr")).contains(1995))
  }

  test("q111 revenue bridge: effects reconcile to the common-part delta") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q111_revenue_bridge(spark, sf).collect()
    assert(rows.nonEmpty)
    // recompute common-part revenue delta per year pair from the panel
    val panel = ops.Relational.partYearPanel(spark, sf).collect()
      .map(r => ((r.getAs[Long]("l_partkey"), r.getAs[Int]("yr")),
        r.getAs[Long]("c"))).toMap
    rows.foreach { r =>
      val yr = r.getAs[Int]("yr")
      val common = panel.keys.filter(_._2 == yr)
        .map(_._1).toSet & panel.keys.filter(_._2 == yr - 1).map(_._1).toSet
      val delta = common.toSeq.map(p =>
        panel((p, yr)) - panel((p, yr - 1))).sum / 100.0
      val bridged = r.getAs[Double]("price_effect") +
        r.getAs[Double]("volume_effect")
      // two-factor decomposition is exact up to output rounding
      assert(math.abs(bridged - delta) < 0.03,
        s"$yr: $bridged vs $delta")
      assert(r.getAs[Long]("n_common_parts") == common.size)
      assert(r.getAs[Double]("new_revenue") >= 0)
      assert(r.getAs[Double]("dropped_revenue") >= 0)
    }
  }

  test("q109 winbacks match an exact per-customer gap recompute") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q109_dormancy_winback(spark, sf).collect()
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("d"),
        year(to_date(col("o_orderdate"))).as("yr"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val winbacks = orders.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(_._2)
      sorted.zip(sorted.tail).collect {
        case (a, b) if b._2 - a._2 >= 365 => b._3
      }
    }.toSeq
    val byYear = winbacks.groupBy(identity).view.mapValues(_.size.toLong)
    assert(rows.map(_.getAs[Long]("n_winbacks")).sum == winbacks.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_winbacks") == byYear(r.getAs[Int]("yr")))
      assert(r.getAs[Long]("n_customers") <= r.getAs[Long]("n_winbacks"))
      assert(r.getAs[Double]("avg_gap_days") >= 365.0)
    }
  }

  test("q110 pareto share: top-20% share in (0.2, 1] and counts match") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q110_pareto_drift(spark, sf).collect()
    assert(rows.nonEmpty)
    val perYear = Tables.orders(spark, sf)
      .groupBy(year(to_date(col("o_orderdate"))).as("yr"))
      .agg(countDistinct(col("o_custkey")).as("n")).collect()
      .map(r => r.getAs[Int]("yr") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_customers") == perYear(r.getAs[Int]("yr")))
      val s0 = r.getAs[Double]("top20_share")
      // top-20% by construction holds at least ~20% of revenue
      assert(s0 > 0.15 && s0 <= 1.0, s"share $s0")
    }
  }

  test("q108 newsvendor fractiles are ordered and safety stock consistent") {
    val rows = ops.Relational.q108_newsvendor(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, crit, p95) = (r.getAs[Double]("q_p50"),
        r.getAs[Double]("q_crit"), r.getAs[Double]("q_p95"))
      // quantiles of one distribution are monotone in p
      assert(p50 <= crit + 1e-9 && crit <= p95 + 1e-9, s"$p50 $crit $p95")
      assert(math.abs(r.getAs[Double]("safety_stock") - (p95 - p50)) < 0.011)
      assert(r.getAs[Long]("n_weeks") > 0)
    }
  }

  test("q106 cohort LTV is monotone in age and conserves revenue") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q106_cohort_ltv(spark, sf).collect()
    assert(rows.nonEmpty)
    // LTV is a cumulative sum of nonnegative revenue: monotone per cohort
    rows.groupBy(_.getAs[Int]("cohort")).values.foreach { g =>
      val byAge = g.sortBy(_.getAs[Int]("age"))
        .map(_.getAs[Double]("ltv_per_customer"))
      assert(byAge.zip(byAge.tail).forall { case (a, b) => a <= b })
    }
    // cohort sizes partition the customer base
    val nCust = Tables.orders(spark, sf)
      .select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    val sizes = rows.groupBy(_.getAs[Int]("cohort"))
      .map(_._2.head.getAs[Long]("n_customers")).sum
    assert(sizes == nCust)
    // terminal LTV × cohort size sums to total corpus revenue (cents)
    val total = rows.groupBy(_.getAs[Int]("cohort")).values.map { g =>
      val last = g.maxBy(_.getAs[Int]("age"))
      math.round(last.getAs[Double]("ltv_per_customer") * 100) *
        last.getAs[Long]("n_customers")
    }.sum
    val exact = Tables.orders(spark, sf)
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")))
      .collect().head.getLong(0)
    // ltv is rounded to cents per customer: error ≤ half-cent × customers
    assert(math.abs(total - exact) <= nCust)
  }

  test("q107 segment migration conserves customers across both periods") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q107_segment_migration(spark, sf).collect()
    val cells = rows.map(r => ((r.getAs[String]("seg_a"),
      r.getAs[String]("seg_b")), r.getAs[Long]("n_customers"))).toMap
    val o = Tables.orders(spark, sf)
    val custA = o.filter(col("o_orderdate") < lit("1998-01-01"))
      .select(countDistinct("o_custkey")).collect().head.getLong(0)
    val custB = o.filter(col("o_orderdate") >= lit("1998-01-01"))
      .select(countDistinct("o_custkey")).collect().head.getLong(0)
    assert(cells.filterKeys(_._1 != "none").values.sum == custA)
    assert(cells.filterKeys(_._2 != "none").values.sum == custB)
    // quintile rows in A are near-equal fifths
    val rowA = cells.toSeq.filter(_._1._1 != "none")
      .groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    val fifth = custA / 5.0
    rowA.values.foreach(n => assert(math.abs(n - fifth) < fifth * 0.2))
    assert(!cells.contains(("none", "none")))
  }

  test("q101 bootstrap CI brackets the point estimate and is deterministic") {
    import org.apache.spark.sql.functions._
    val rows = ops.Relational.q101_bootstrap_ci(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (lo, mid, hi) = (r.getAs[Double]("ci_lo"),
        r.getAs[Double]("boot_median"), r.getAs[Double]("ci_hi"))
      assert(lo <= mid && mid <= hi, s"CI ordering violated: $lo $mid $hi")
      assert(hi - lo > 0, "degenerate CI")
    }
    // the bootstrap median must sit near the plain mean (same estimand)
    val means = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(avg("o_totalprice").as("m")).collect()
      .map(r => r.getAs[String]("prio") -> r.getAs[Double]("m")).toMap
    rows.foreach { r =>
      val m = means(r.getAs[String]("prio"))
      assert(math.abs(r.getAs[Double]("boot_median") - m) / m < 0.05)
    }
    // hash-not-RNG: a second run reproduces the replicates exactly
    val again = ops.Relational.q101_bootstrap_ci(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("q102 Mann-Whitney matches an exact driver recompute") {
    val g = Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority")
        .isin("1-URGENT", "5-LOW"))
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0) == "1-URGENT", r.getDouble(1)))
    val sorted = g.map(_._2).sorted
    val midrank = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> (xs.map(_._2 + 1.0).sum / xs.length) }
    val n1 = g.count(_._1).toLong
    val n2 = g.length - n1
    val r1 = g.filter(_._1).map(x => midrank(x._2)).sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val ties = g.groupBy(_._2).map(_._2.length.toLong)
      .map(c => c * c * c - c).sum
    val n = g.length.toLong
    val z = (u1 - n1 * n2 / 2.0) / math.sqrt(
      n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1.0))))
    val row = ops.Relational.q102_mannwhitney(spark, sf).collect().head
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(math.abs(row.getAs[Double]("u_stat") - u1) < 0.51)
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-3)
    assert(u1 >= 0 && u1 <= n1.toDouble * n2)
  }

  test("q112 Kruskal-Wallis H matches an exact driver recompute") {
    import org.apache.spark.sql.functions._
    val g = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .select("c_mktsegment", "cents").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = g.length.toDouble
    val midrank = g.map(_._2).sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> (xs.map(_._2 + 1.0).sum / xs.length) }
    val ss = g.groupBy(_._1).values.map { xs =>
      val smr = xs.map(x => midrank(x._2)).sum
      xs.length * math.pow(smr / xs.length - (n + 1) / 2, 2)
    }.sum
    val h = 12.0 / (n * (n + 1)) * ss
    val tt = g.groupBy(_._2).map(_._2.length.toDouble)
      .map(c => c * c * c - c).sum
    val hc = h / (1.0 - tt / (n * n * n - n))
    val row = ops.Relational.q112_kruskal_wallis(spark, sf).collect().head
    assert(row.getAs[Long]("n_groups") == 5L)
    assert(row.getAs[Long]("n_customers") == g.length.toLong)
    assert(math.abs(row.getAs[Double]("h") - h) < 1e-3)
    assert(math.abs(row.getAs[Double]("h_corrected") - hc) < 1e-3)
    // the tie correction divides by C ≤ 1, so it can only grow H
    assert(row.getAs[Double]("h_corrected") >= row.getAs[Double]("h"))
  }

  test("q113 mutual information matches an exact driver recompute") {
    import org.apache.spark.sql.functions._
    val joint = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .groupBy("seg", "pri").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val n = joint.values.sum.toDouble
    val nx = joint.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ny = joint.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val got = ops.Relational.q113_mutual_info(spark, sf).collect()
    assert(got.length == joint.size)
    var mi = 0.0
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val pmi = math.log(joint(k) * n / (nx(k._1).toDouble * ny(k._2)))
      assert(r.getAs[Long]("n_xy") == joint(k))
      assert(math.abs(r.getAs[Double]("pmi") - pmi) < 1e-5)
      assert(math.abs(r.getAs[Double]("mi_term") - joint(k) / n * pmi) < 1e-5)
      mi += r.getAs[Double]("mi_term")
    }
    // MI = Σ mi_term is nonnegative (Gibbs); 6dp-rounded terms can
    // push the sum a hair below zero only by cell-count ulps
    assert(mi >= -1e-4, s"MI must be nonnegative, got $mi")
  }

  test("q114 BH step-up matches an exact driver recompute and is monotone") {
    import org.apache.spark.sql.functions._
    val g = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name")),
        "c_nationkey")
      .select("n_name", "c_acctbal").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val all = g.values.flatten.toSeq
    val (gn, gs1, gs2) =
      (all.size.toDouble, all.sum, all.map(x => x * x).sum)
    def pOf(z: Double): Double = {
      val x = math.abs(z)
      val t = 1.0 / (1.0 + 0.2316419 * x)
      val poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
        t * (-1.821255978 + t * 1.330274429))))
      2.0 * (math.exp(-x * x / 2.0) * 0.3989422804014327) * poly
    }
    val p = g.map { case (name, xs) =>
      val (ng, s1, s2) = (xs.size.toDouble, xs.sum, xs.map(x => x * x).sum)
      val (nc, c1, c2) = (gn - ng, gs1 - s1, gs2 - s2)
      val vg = (s2 - s1 * s1 / ng) / (ng - 1)
      val vc = (c2 - c1 * c1 / nc) / (nc - 1)
      val z = BigDecimal((s1 / ng - c1 / nc) / math.sqrt(vg / ng + vc / nc))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      name -> pOf(z)
    }
    val m = p.size.toDouble
    val ranked = p.toSeq.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((name, pv), i) => (name, pv, pv * m / (i + 1)) }
    val padj = ranked.indices.map { i =>
      ranked(i)._1 -> math.min(ranked.drop(i).map(_._3).min, 1.0)
    }.toMap
    val got = ops.Relational.q114_fdr_bh(spark, sf).collect()
    assert(got.length == p.size)
    got.foreach { r =>
      val name = r.getString(0)
      assert(r.getAs[Long]("n_customers") == g(name).size.toLong)
      assert(math.abs(r.getAs[Double]("p_value") - p(name)) < 1e-5)
      assert(math.abs(r.getAs[Double]("p_adj") - padj(name)) < 1e-5)
      // BH can only raise a p-value, never lower it
      assert(r.getAs[Double]("p_adj") >= r.getAs[Double]("p_value") - 1e-9)
      assert(r.getAs[Int]("discovery") ==
        (if (padj(name) <= 0.05) 1 else 0))
    }
    // step-up is monotone: sorting by p must sort p_adj too
    val byP = got.sortBy(_.getAs[Double]("p_value")).map(_.getAs[Double]("p_adj"))
    assert(byP.zip(byP.tail).forall { case (a, b) => a <= b + 1e-9 })
  }

  test("q115 Theil's U matches an exact driver recompute") {
    import org.apache.spark.sql.functions._
    val joint = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .groupBy("seg", "pri").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val n = joint.values.sum.toDouble
    val nx = joint.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ny = joint.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    def h(m: Map[String, Long]): Double =
      m.values.map(c => -c / n * math.log(c / n)).sum
    val mi = joint.map { case ((x, y), c) =>
      c / n * math.log(c * n / (nx(x).toDouble * ny(y))) }.sum
    val (hx, hy) = (h(nx), h(ny))
    val r = ops.Relational.q115_theils_u(spark, sf).collect().head
    assert(r.getAs[Long]("n") == joint.values.sum)
    assert(math.abs(r.getAs[Double]("h_seg") - hx) < 1e-5)
    assert(math.abs(r.getAs[Double]("h_pri") - hy) < 1e-5)
    assert(math.abs(r.getAs[Double]("mi") - mi) < 1e-5)
    assert(math.abs(r.getAs[Double]("u_seg_given_pri") - mi / hx) < 1e-5)
    assert(math.abs(r.getAs[Double]("u_pri_given_seg") - mi / hy) < 1e-5)
    assert(math.abs(r.getAs[Double]("u_symmetric") -
      2 * mi / (hx + hy)) < 1e-5)
    // U is a normalized MI: every variant must land in [0, 1]
    Seq("u_seg_given_pri", "u_pri_given_seg", "u_symmetric").foreach { c =>
      val u = r.getAs[Double](c)
      assert(u >= -1e-9 && u <= 1 + 1e-9, s"$c out of [0,1]: $u")
    }
  }

  test("q116 odds ratio matches an exact 2x2 driver recompute") {
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select((col("l_discount") >= 0.05).as("e"),
        (col("l_returnflag") === "R").as("r"))
      .groupBy("e", "r").count().collect()
      .map(x => ((x.getBoolean(0), x.getBoolean(1)), x.getLong(2))).toMap
    val (a, b) = (rows((true, true)), rows((true, false)))
    val (c, d) = (rows((false, true)), rows((false, false)))
    val or = a * d.toDouble / (b.toDouble * c)
    val se = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    val got = ops.Relational.q116_odds_ratio(spark, sf).collect().head
    assert(got.getAs[Long]("a") == a && got.getAs[Long]("b") == b &&
      got.getAs[Long]("c") == c && got.getAs[Long]("d") == d)
    assert(math.abs(got.getAs[Double]("odds_ratio") - or) < 1e-5)
    assert(math.abs(got.getAs[Double]("ci_lo") -
      math.exp(math.log(or) - 1.96 * se)) < 1e-5)
    assert(math.abs(got.getAs[Double]("ci_hi") -
      math.exp(math.log(or) + 1.96 * se)) < 1e-5)
    assert(math.abs(got.getAs[Double]("risk_ratio") -
      (a.toDouble / (a + b)) / (c.toDouble / (c + d))) < 1e-5)
    // the CI must bracket the point estimate
    assert(got.getAs[Double]("ci_lo") <= got.getAs[Double]("odds_ratio"))
    assert(got.getAs[Double]("ci_hi") >= got.getAs[Double]("odds_ratio"))
  }

  test("q117 Cramér's V matches q63's chi2 and an exact recompute") {
    import org.apache.spark.sql.functions._
    val cells = Tables.events(spark, sf)
      .select(col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).as("wd"))
      .groupBy("event_type", "wd").count().collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val n = cells.values.sum.toDouble
    val rt = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val chi2 = cells.map { case ((r, c), o) =>
      val e = rt(r) * ct(c) / n
      (o - e) * (o - e) / e
    }.sum
    val (r, c) = (rt.size.toDouble, ct.size.toDouble)
    val phi2 = chi2 / n
    val v = math.sqrt(phi2 / math.min(r - 1, c - 1))
    val phi2c = math.max(0.0, phi2 - (r - 1) * (c - 1) / (n - 1))
    val vc = math.sqrt(phi2c / math.min(
      r - (r - 1) * (r - 1) / (n - 1) - 1,
      c - (c - 1) * (c - 1) / (n - 1) - 1))
    val got = ops.Relational.q117_cramers_v(spark, sf).collect().head
    assert(got.getAs[Long]("n") == cells.values.sum)
    assert(got.getAs[Int]("dof") == ((rt.size - 1) * (ct.size - 1)))
    assert(math.abs(got.getAs[Double]("chi2") - chi2) < 1e-2)
    assert(math.abs(got.getAs[Double]("v") - v) < 1e-5)
    assert(math.abs(got.getAs[Double]("v_corrected") - vc) < 1e-5)
    // chi2 must agree with q63's lane on the same cells
    val q63chi2 = ops.Relational.q63_chisq(spark, sf)
      .collect().head.getAs[Double]("chi2")
    assert(math.abs(got.getAs[Double]("chi2") - q63chi2) < 1e-9)
    // V is scale-free: both variants in [0, 1], corrected ≤ raw + eps
    assert(v >= 0 && v <= 1 && vc >= 0 && vc <= 1)
    assert(got.getAs[Double]("v_corrected") <=
      got.getAs[Double]("v") + 1e-9)
  }

  test("q118 SPRT path matches an exact driver recompute") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("trials"),
        sum((col("event_type") === "purchase").cast("long")).as("conv"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2)))
    val (l1, l0) = (math.log(0.52 / 0.48), math.log(0.48 / 0.52))
    val bHi = math.rint(math.log(19.0) * 1e6) / 1e6
    var cum = 0.0
    var decided = "continue" // a true SPRT stops at the FIRST crossing
    val exp = daily.map { case (day, n, c) =>
      val llr = c * l1 + (n - c) * l0
      cum += llr
      val cumR = math.rint(cum * 1e6) / 1e6
      val st = if (cumR >= bHi) "accept_h1"
        else if (cumR <= -bHi) "accept_h0" else "continue"
      if (decided == "continue" && st != "continue") decided = st
      (day.toString, n, c, math.rint(llr * 1e6) / 1e6, cumR, st, decided)
    }
    val got = ops.Relational.q118_sprt(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5), r.getString(6)))
    assert(got.length == daily.length && got.nonEmpty)
    got.zip(exp).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3)
      assert(math.abs(g._4 - e._4) < 1e-5 && math.abs(g._5 - e._5) < 1e-5)
      assert(g._6 == e._6, s"state diverges at ${g._1}: ${g._6} vs ${e._6}")
      assert(g._7 == e._7,
        s"decision diverges at ${g._1}: ${g._7} vs ${e._7} — the SPRT " +
          "verdict is the first boundary crossing, sticky ever after")
    }
    // the decision column is absorbing: once non-continue, never reverts
    got.sliding(2).foreach {
      case Array(a, b) if a._7 != "continue" =>
        assert(b._7 == a._7, "decision must be absorbing")
      case _ => ()
    }
    // the LLR path is a cumulative sum: successive rows differ by
    // exactly that day's llr (internal consistency of the window)
    got.sliding(2).foreach {
      case Array(a, b) =>
        assert(math.abs((b._5 - a._5) - b._4) < 2e-6)
      case _ => ()
    }
  }

  test("q119 DiD matches an exact four-cell driver recompute") {
    import org.apache.spark.sql.functions._
    val rows = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("t")), "o_custkey")
      .select(col("t"), (col("o_orderdate") >= "1997-01-01").as("p"),
        col("o_totalprice")).collect()
      .map(r => ((r.getBoolean(0), r.getBoolean(1)), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def mv(k: (Boolean, Boolean)): (Double, Double, Double) = {
      val xs = rows(k)
      val n = xs.size.toDouble
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1) / n
      (n, m, v)
    }
    val (t0, t1, c0, c1) =
      (mv((true, false)), mv((true, true)), mv((false, false)),
        mv((false, true)))
    val did = (t1._2 - t0._2) - (c1._2 - c0._2)
    val se = math.sqrt(t1._3 + t0._3 + c1._3 + c0._3)
    val got = ops.Relational.q119_did(spark, sf).collect().head
    assert(math.abs(got.getAs[Double]("pre_treated") - t0._2) < 1e-3)
    assert(math.abs(got.getAs[Double]("post_treated") - t1._2) < 1e-3)
    assert(math.abs(got.getAs[Double]("pre_control") - c0._2) < 1e-3)
    assert(math.abs(got.getAs[Double]("post_control") - c1._2) < 1e-3)
    assert(math.abs(got.getAs[Double]("did") - did) < 1e-3)
    assert(math.abs(got.getAs[Double]("se") - se) < 1e-3)
    assert(math.abs(got.getAs[Double]("z") - did / se) < 1e-3)
    // the DiD identity: did reconstructs from the four reported means
    assert(math.abs(got.getAs[Double]("did") -
      ((got.getAs[Double]("post_treated") - got.getAs[Double]("pre_treated"))
        - (got.getAs[Double]("post_control") -
          got.getAs[Double]("pre_control")))) < 3e-4)
    // uniform generator: segments don't move order value → no effect
    assert(got.getAs[Int]("significant") == 0,
      "planted-null data must not produce a significant DiD")
  }

  test("q120 placebo DiD reads null on planted-null data (parallel trends)") {
    val got = ops.Relational.q120_placebo_did(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    // the whole point of the placebo: a fake treatment date inside the
    // pre-period must NOT find an effect on trend-parallel data
    assert(r.getAs[Int]("significant") == 0,
      s"placebo found an effect: z=${r.getAs[Double]("z")}")
    // same readout as q119: the DiD identity must reconstruct
    assert(math.abs(r.getAs[Double]("did") -
      ((r.getAs[Double]("post_treated") - r.getAs[Double]("pre_treated"))
        - (r.getAs[Double]("post_control") -
          r.getAs[Double]("pre_control")))) < 3e-4)
    assert(r.getAs[Double]("se") > 0)
  }

  test("q103 Theil-Sen slope equals the exact pairwise-median recompute") {
    import org.apache.spark.sql.functions._
    val day = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1996-01-01").cast("date")).as("x"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents")).collect()
      .map(r => (r.getAs[Int]("x"), r.getAs[Long]("cents")))
    def medianExact(xs: Seq[Double]): Double = {
      val s = xs.sorted; val k = s.length
      if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
    }
    val slopes = for {
      (xi, yi) <- day.toSeq; (xj, yj) <- day.toSeq; if xj > xi
    } yield (yj - yi) / ((xj - xi) * 100.0)
    val row = ops.Relational.q103_theilsen(spark, sf).collect().head
    assert(row.getAs[Long]("n_days") == day.length)
    assert(math.abs(row.getAs[Double]("slope_per_day") -
      medianExact(slopes)) < 1e-3)
  }

  test("q104 runs count matches the exact sign-sequence recompute") {
    import org.apache.spark.sql.functions._
    val day = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1996-01-01").cast("date")).as("x"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents")).collect()
      .map(r => (r.getAs[Int]("x"), r.getAs[Long]("cents"))).sortBy(_._1)
    val s0 = day.map(_._2.toDouble).sorted
    val med = if (s0.length % 2 == 1) s0(s0.length / 2)
      else (s0(s0.length / 2 - 1) + s0(s0.length / 2)) / 2
    val signs = day.filter(_._2.toDouble != med).map(_._2.toDouble > med)
    val runs = 1 + signs.sliding(2).count(p =>
      p.length == 2 && p(0) != p(1))
    val n1 = signs.count(identity).toLong
    val row = ops.Relational.q104_runs_test(spark, sf).collect().head
    assert(row.getAs[Long]("r") == runs)
    assert(row.getAs[Long]("n1") == n1)
    assert(row.getAs[Long]("n2") == signs.length - n1)
    // few-runs ⇒ negative z, many-runs ⇒ positive z: sign sanity
    val mu = 2.0 * n1 * (signs.length - n1) / signs.length + 1
    assert((row.getAs[Double]("z") < 0) == (runs < mu))
  }

  test("rankBuckets scales with the axis cardinality between floor and cap") {
    import ops.Relational.{rankBuckets, RankBucketCells}
    assert(rankBuckets(0L) == 64)
    assert(rankBuckets(1000L) == 64) // small axes keep the round-1 shape
    // linear growth once cells exceed 64 buckets' worth
    assert(rankBuckets(100 * RankBucketCells) == 101)
    assert(rankBuckets(1000 * RankBucketCells) == 1001)
    // capped: the cross-bucket offset axis stays ≤16k rows at ANY size
    assert(rankBuckets(Long.MaxValue / 4) == (1 << 14))
  }

  test("rankBucketed: adaptive bucket count, monotone non-overlapping ranges") {
    import org.apache.spark.sql.functions._
    // planted high-cardinality heavy-tailed axis: 5M distinct values
    // spanning >1e3 multiplicative spread forces BOTH the adaptive
    // sizing (>64 buckets) and the log-domain path to actually run
    val in = spark.range(0, 5000000)
      .select((pow(lit(1.000004), col("id")) * 1.0).as("v"))
    val b = ops.Relational.rankBucketed(in, "v")
    val perBucket = b.groupBy("bucket")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
      .collect().sortBy(_.getAs[Long]("bucket"))
    assert(perBucket.length > 64,
      s"adaptive sizing inert: only ${perBucket.length} buckets on a 5M-cell axis")
    // bucket must be a monotone function of v: ranges never overlap
    perBucket.sliding(2).foreach { p =>
      if (p.length == 2)
        assert(p(0).getAs[Double]("mx") <= p(1).getAs[Double]("mn"),
          "bucket value ranges overlap — rank order would straddle buckets")
    }
    // log-domain balance: no bucket holds a majority of the axis
    val maxShare = perBucket.map(_.getAs[Long]("n")).max.toDouble / 5000000
    assert(maxShare < 0.5, s"one bucket holds ${maxShare * 100}% of the axis")
    // nulls route to bucket 0 deterministically
    val withNull = ops.Relational.rankBucketed(
      spark.range(0, 100).select(
        when(col("id") < 5, lit(null)).otherwise(col("id"))
          .cast("double").as("v")), "v")
    val nullBuckets = withNull.filter(col("v").isNull)
      .select("bucket").distinct().collect()
    assert(nullBuckets.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("cumShareDesc and bucketRank equal the single-window recompute exactly") {
    import org.apache.spark.sql.functions._
    // ties included: duplicate rc values must co-bucket and resolve
    // by the tie column identically to the global window
    val in = spark.range(0, 2000)
      .select(col("id").as("k"), (pmod(col("id") * 37, lit(500))).as("rc"))
      .persist()
    val got = ops.Relational.cumShareDesc(in, "k")
      .select("k", "cum").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("cum"))).toMap
    val rows = in.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (k, rc) => (-rc, k) }
    val t = rows.map(_._2).sum.toDouble
    var run = 0L
    rows.foreach { case (k, rc) =>
      run += rc
      assert(got(k) == run / t, s"cumShareDesc diverges at k=$k")
    }
    val rk = ops.Relational.bucketRank(in, "rc", "k")
      .select("k", "rk").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("rk"))).toMap
    rows.zipWithIndex.foreach { case ((k, _), i) =>
      assert(rk(k) == i + 1L, s"bucketRank diverges at k=$k")
    }
    // grouped variant: per-group ranks restart at 1
    val g = in.withColumn("grp", pmod(col("k"), lit(3)))
    val grk = ops.Relational.bucketRank(g, "rc", "k", Seq("grp"))
      .select("grp", "k", "rk").collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("k")) ->
        r.getAs[Long]("rk")).toMap
    val byGrp = in.collect().map(r => (r.getLong(0) % 3, r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
    byGrp.foreach { case (grp, members) =>
      members.sortBy { case (_, k, rc) => (-rc, k) }.zipWithIndex.foreach {
        case ((_, k, _), i) =>
          assert(grk((grp, k)) == i + 1L, s"grouped rank diverges at ($grp,$k)")
      }
    }
    // ascending exclusive counts over distinct-value cells (the midranks
    // and Gini shape) and two sum columns at once (the q90 shape), with
    // a null value cell: null sorts first ascending, last descending
    val cells = in.groupBy("rc")
      .agg(count(lit(1)).as("c"), sum(pmod(col("k"), lit(2L))).as("odd"))
      .union(spark.range(1).select(lit(null).cast("long").as("rc"),
        lit(3L).as("c"), lit(1L).as("odd")))
    val asc = ops.Relational.prefixSums(cells, "rc", Seq("c", "odd"))
      .collect().map(r =>
        Option(r.getAs[java.lang.Long]("rc")).map(_.longValue) ->
          (r.getAs[Long]("c_cum") - r.getAs[Long]("c"), r.getAs[Long]("odd_cum"),
            r.getAs[Long]("c_tot"), r.getAs[Long]("odd_tot"))).toMap
    val plainCells = (None, 3L, 1L) +: rows.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (rc, ms) =>
        (Some(rc), ms.length.toLong, ms.count(_._1 % 2 == 1).toLong) }
    val (cTot, oddTot) = (plainCells.map(_._2).sum, plainCells.map(_._3).sum)
    assert(asc.size == plainCells.length)
    var below, oddRun = 0L
    plainCells.foreach { case (rc, c, odd) =>
      oddRun += odd
      assert(asc(rc) == ((below, oddRun, cTot, oddTot)),
        s"prefixSums diverges at rc=$rc")
      below += c
    }
    val nullLast = ops.Relational.prefixSums(cells, "rc", Seq("c"), desc = true)
      .filter(col("rc").isNull).select("c_cum", "c_tot").head()
    assert(nullLast.getLong(0) == cTot && nullLast.getLong(1) == cTot)
    // empty input: no rows, no failure
    assert(ops.Relational.prefixSums(cells.filter(lit(false)), "rc",
      Seq("c", "odd")).collect().isEmpty)
    in.unpersist()
  }

  test("q66/q99/q110/t34 Pareto machinery: no unpartitioned data-axis window") {
    import org.apache.spark.sql.functions._
    // the lanes themselves are checkpoint-truncated; audit the shared
    // helpers over a real SF-proportional axis (midranks' discipline)
    val rev = Tables.lineitem(spark, sf).groupBy("l_partkey")
      .agg(sum("l_extendedprice").cast("bigint").as("rc")).persist()
    for (df <- Seq(ops.Relational.cumShareDesc(rev, "l_partkey"),
      ops.Relational.bucketRank(rev, "rc", "l_partkey"),
      ops.Relational.bucketRank(rev.withColumn("grp", pmod(col("l_partkey"), lit(5))),
        "rc", "l_partkey", Seq("grp")))) {
      df.collect()
      val windows = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.exists(_.partitionSpec.nonEmpty),
        "no bucket-partitioned window in the Pareto machinery")
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        // a global window may only prefix the collapsed bucket axis
        val hasAgg = PlanWalk.allNodes(w.child)
          .exists(_.getClass.getSimpleName.contains("Aggregate"))
        assert(hasAgg, "global window over raw rows in the Pareto machinery")
      }
    }
    rev.unpersist()
  }
}
