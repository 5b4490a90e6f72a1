package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational / analytics surface (SURVEY.md §2, q01–q20).
  *
  * Every query is a declarative DataFrame plan: filters/projections reach
  * the parquet scan via Catalyst pushdown, dimension joins are broadcast,
  * fact-side aggregations are single-shuffle with map-side partials.
  * Parity rules with the DuckDB oracle (SURVEY.md §5): identical column
  * aliases, round(_, 2) on float aggregates, deterministic total ordering
  * with id tie-breaks, counts as BIGINT on both sides.
  */
object Relational {
  private type Q = (SparkSession, String) => DataFrame

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // q01: multi-aggregate scan (TPC-H Q1 flavor). One shuffle, map-side
  // partial agg; only referenced columns read from parquet.
  // Money totals fold in EXACT INTEGER units (cents; 1e-4 dollars for
  // the discount product, which lives on the 4dp grid): a corpus-scale
  // double sum sits above ~1e11 where parallel-summation fp error
  // exceeds the half-cent, so round(sum(price),2) flips against the
  // oracle's sequential sum — caught live by the r15 sf5 multi-JVM
  // gate on x16, audited onto every coarse-cell money sum.
  val q01_pricing_agg: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        (sum(expr("cast(round(l_extendedprice * 100) as bigint)")) / 100.0)
          .as("sum_base_price"),
        sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as bigint)"))
          .as("s4"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"),
        // half-up from the exact 1e-4 sum to cents: the 4dp total CAN
        // land exactly on a half-cent (s4 ≡ 50 mod 100)
        (expr("(2 * s4 + 100) div 200") / 100.0).as("sum_disc_price"),
        col("avg_qty"), col("avg_price"), col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // q02: selective conjunctive filter + narrow projection — the whole
  // predicate and the 5-column read schema push into the parquet scan.
  val q02_filter_pushdown: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1996-03-31")) &&
        col("l_discount") >= 0.08 && col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // q03: customer⋈orders⋈lineitem revenue top-10. customer/orders side is
  // small relative to lineitem → Catalyst broadcasts under AQE; the topK is
  // a TakeOrdered, not a global sort.
  val q03_join_agg: Q = (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  // q04: EXISTS → left_semi (no row multiplication, broadcast the filter).
  val q04_semijoin: Q = (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  // q05: TPC-H Q5 star join — region/nation/supplier broadcast, single
  // shuffle for the final nation-level aggregate.
  val q05_multijoin: Q = (s, d) => {
    broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
      .join(broadcast(Tables.nation(s, d)), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // q06: TPC-H Q6 — fully-pushed range predicates, single partial+final agg.
  val q06_selective: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      // exact 1e-4-grid fold + half-up to cents (the q01 discipline)
      .agg(sum(expr(
        "cast(round(l_extendedprice * l_discount * 10000) as bigint)"))
        .as("s4"), count(lit(1)).as("n_items"))
      .select((expr("(2 * s4 + 100) div 200") / 100.0).as("revenue"),
        col("n_items"))
  }

  // q07: top-3 customers by balance per nation — one shuffle on the window
  // partition key; rank ties broken by c_custkey for determinism.
  val q07_window_rank: Q = (s, d) => {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_nationkey", "rn", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_nationkey", "rn")
  }

  // q08: global order-by-limit → TakeOrderedAndProject (no full sort).
  val q08_topk: Q = (s, d) => {
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  // q09: exact count-distinct (expands to two-phase agg under Catalyst).
  val q09_count_distinct: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  }

  // q10: NOT EXISTS → left_anti (customers with no pending orders).
  val q10_antijoin: Q = (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // q11: hierarchical rollup; NULL group markers coalesced to 'ALL' on both
  // sides so sort semantics can't diverge between engines.
  val q11_rollup: Q = (s, d) => {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("n_cust"), col("total_bal"))
      .orderBy("region_name", "nation_name")
  }

  // q12: conditional aggregation by ship month.
  val q12_case_agg: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      // exact cents — month×flag cells sit in the 1e10-1e11 band where
      // double-sum order noise reaches the half-cent (q01 sf5 lesson)
      .agg(
        (sum(when(col("l_returnflag") === "R",
          expr("cast(round(l_extendedprice * 100) as bigint)"))
          .otherwise(0L)) / 100.0).as("returned_price"),
        (sum(when(col("l_returnflag") =!= "R",
          expr("cast(round(l_extendedprice * 100) as bigint)"))
          .otherwise(0L)) / 100.0).as("kept_price"),
        count(lit(1)).as("n_items"))
      .orderBy("ship_month")
  }

  // q13: left outer join preserving customers with zero orders.
  val q13_outer_join_agg: Q = (s, d) => {
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
      .orderBy("c_custkey")
  }

  // q14: UNION (distinct) of two selections.
  val q14_union: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .union(o.filter(col("o_totalprice") > 400000.0).select(col("o_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")
  }

  // q15: scalar subquery threshold — single-row agg broadcast-joined, never
  // collected to the driver.
  val q15_scalar_subquery: Q = (s, d) => {
    val p = Tables.part(s, d)
    val a = p.agg(avg("p_retailprice").as("avg_price"))
    p.join(broadcast(a))
      .filter(col("p_retailprice") > col("avg_price"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  // q16: group + HAVING.
  val q16_having: Q = (s, d) => {
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), round(avg("c_acctbal"), 2).as("avg_bal"))
      .filter(col("n_cust") >= 5)
      .orderBy("c_nationkey")
  }

  // q17: correlated per-part average threshold (TPC-H Q17 flavor) — the
  // correlation decorrelates to a self-agg join on l_partkey: one shuffle
  // for the per-part avg, reused partitioning for the probe join.
  val q17_correlated: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val pavg = l.groupBy(col("l_partkey")).agg(avg("l_quantity").as("avg_qty"))
    l.join(pavg, "l_partkey")
      .filter(col("l_quantity") > col("avg_qty") * 1.5)
      .agg(count(lit(1)).as("n_items"),
        // exact cents — the single-cell total crosses the fp half-cent
        // noise floor at scale (q01 discipline)
        (sum(expr("cast(round(l_extendedprice * 100) as bigint)")) / 100.0)
          .as("total_price"))
  }

  // q18: IN subquery → left_semi on broadcast dim selection.
  val q18_in_subquery: Q = (s, d) => {
    Tables.orders(s, d)
      .join(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // q19: disjunctive multi-table predicates (TPC-H Q19 flavor).
  val q19_complex_pred: Q = (s, d) => {
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 20) && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 30) && col("p_size").between(1, 25)) ||
        (col("p_type") === "PROMO" && col("l_discount") >= 0.05))
      // exact 1e-4-grid fold + half-up to cents (the q01 discipline)
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as bigint)"))
        .as("s4"), count(lit(1)).as("n_items"))
      .select((expr("(2 * s4 + 100) div 200") / 100.0).as("revenue"),
        col("n_items"))
  }

  // q20: running total per customer — explicit ROWS frame, window order
  // tie-broken by o_orderkey so the sequential fp summation order is
  // identical on both engines (exact double equality).
  val q20_running_sum: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_total", round(sum("o_totalprice").over(w), 2))
      .select("o_custkey", "o_orderkey", "o_totalprice", "running_total")
      .orderBy("o_custkey", "o_orderkey")
  }

  // q21: as-of join — for each purchase, the most recent strictly-prior
  // click of the same user (funnel attribution). Spark lacks a native
  // as-of join; composed as union + one window pass per user: purchases
  // sort before clicks at equal ts, so `last(click, ignoreNulls)` over
  // the running frame yields exactly the strict-predecessor click. ONE
  // shuffle on user_id — the same cost as a plain window, vs the naive
  // range-join's quadratic blowup. Oracle: DuckDB's native ASOF JOIN.
  val q21_asof_join: Q = (s, d) => {
    val ev = Tables.events(s, d)
    // one click per (user, ts) keeps the as-of target deterministic
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("event_id"), col("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_us", last(
        when(col("click_id").isNotNull, unix_micros(col("ts"))),
        ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("last_click_id").as("click_id"),
        (unix_micros(col("ts")) - col("last_click_us")).as("gap_us"))
      .orderBy("event_id")
  }

  // q22: CUBE over (status, priority) — all four grouping levels in one
  // pass (Catalyst expands to a single Expand + one shuffle, not four
  // scans). NULL markers coalesced to 'ALL' for engine-stable ordering.
  val q22_grouping_sets: Q = (s, d) => {
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        // exact cents — the ALL/ALL cell is the corpus total (q01)
        (sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
          .as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")
  }

  // q23: exact interpolated percentiles per priority class — Spark's
  // `percentile` ≡ DuckDB's `quantile_cont` (linear interpolation). At
  // 100 TB you'd switch to approx_percentile (t-digest) and drop oracle
  // exactness; the plan shape (one partial+final agg) is identical.
  // Percentiles run over EXACT INTEGER CENTS and round at 4dp: the
  // interpolated value a + g·(b−a) over integer cents with g having ≤2
  // decimals is a rational with ≤4 dollar-decimals, so the 4dp round
  // maps both engines' ulp-near doubles onto the SAME grid point — a
  // 2dp round of a raw-dollar percentile can land exactly on a .xx5
  // half-boundary and flip by engine (caught on the planted-effect
  // gate, where the ×1.15 shift manufactured such a boundary).
  val q23_percentile: Q = (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(pctileExactOrSketch(col("cents"), Seq(0.5), exact = true) /
          lit(100.0), 4).as("p50"),
        round(pctileExactOrSketch(col("cents"), Seq(0.9), exact = true) /
          lit(100.0), 4).as("p90"),
        round(pctileExactOrSketch(col("cents"), Seq(0.99), exact = true) /
          lit(100.0), 4).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // q39 (rows-only; spec: tracks q23's exact values): approx_percentile
  // SKETCH percentiles next to q23's exact — the 100 TB percentile path.
  // Exact percentile() buffers every value per group; the sketch
  // (Greenwald-Khanna summary, accuracy 10000 → rank error ≤ n/10000) is
  // fixed-size, MERGEABLE map-side state — one pass, no global sort, no
  // per-group value buffering. Same grouping/output shape as q23 so the
  // spec can pin the error bound group by group.
  val q39_approx_percentile: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 2).as("p50"),
        round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 2).as("p90"),
        round(expr("approx_percentile(o_totalprice, 0.99, 10000)"), 2).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** The 100 TB percentile swap as ROUTED CODE, not prose: a lane
    * whose scale note says "swaps for approx_percentile at 100 TB"
    * computes its bounds through this helper in exact mode, and the
    * error-pinned spec runs the SAME helper in both modes (q39's
    * ≤ rank-error argument) — the swap is proven on the shared path,
    * once, instead of re-asserted in prose per lane. Since the r16
    * optimization the corpus-axis UNWEIGHTED consumers
    * (q52/q84/q107/t54, plus q37/q53/s31) ride [[exactQuantiles]]
    * instead — exact at any scale with bounded per-task state, no swap
    * needed; this helper's exact mode remains for q23 (the
    * percentile ≡ quantile_cont calibration pair with q39) and for
    * q98/s47's weighted medians (whose scale path is the
    * value-COLLAPSED axis — see `freq` below).
    *
    * exact=true → percentile(): buffers every value per group; what the
    * DuckDB oracles replay. exact=false → approx_percentile
    * (Greenwald-Khanna summary, default accuracy 10⁴): fixed-size
    * MERGEABLE map-side state — one pass, no per-group value buffering,
    * rank error ≤ n/accuracy. `freq` (integer repetition weights, q98)
    * is exact-only by design: a weighted percentile's scale path is the
    * value-COLLAPSED axis (wmedianReadout's collapse invariance), which
    * already bounds state — there is nothing left to sketch.
    */
  private[graft] def pctileExactOrSketch(c: Column, fracs: Seq[Double],
      exact: Boolean, freq: Option[Column] = None,
      accuracy: Int = 10000): Column = {
    val pct =
      if (fracs.length == 1) lit(fracs.head) else array(fracs.map(lit): _*)
    freq match {
      case Some(f) =>
        require(exact,
          "weighted percentile scales via value collapse, not a GK sketch")
        percentile(c, pct, f)
      case None =>
        if (exact) percentile(c, pct)
        else percentile_approx(c, pct, lit(accuracy))
    }
  }

  /** Exact `percentile` / quantile_cont values, optionally per group,
    * WITHOUT Spark's Percentile aggregate — the q37 boundary machinery
    * generalized (r16 optimization, guide §5). Percentile is a
    * TypedImperativeAggregate whose buffer holds every distinct value
    * with counts; group-less it funnels the corpus's value set through
    * ONE final merge task (q37's sf5 executor OOM), grouped it still
    * buffers each group's whole value set in one task. Here the input
    * collapses to distinct (group, value, count) cells in ONE keyed
    * hash aggregation (map-side partials, graceful spill), the
    * ascending cumulative count rides [[prefixSums]], and each
    * requested fraction interpolates between the values at 1-based
    * ranks ⌊p(n−1)⌋+1 and ⌈p(n−1)⌉+1 with EXACTLY Percentile's
    * arithmetic ((higher−pos)·v_lo + (pos−lower)·v_hi; v_lo when the
    * ranks coincide or share a value) — bit-identical doubles, so
    * DuckDB quantile_cont oracles are unaffected. Returns one row per
    * group: partCols ++ `qs` array<double> in ascending frac order.
    * Nulls in `v` are excluded (Percentile semantics); a group-less
    * call over no non-null value returns ONE row with a null `qs`
    * (Percentile's arity — consumers crossJoin this frame), a grouped
    * call returns no rows. `weight` gives integer repetition weights
    * (Percentile's `freq`), w ≥ 0: a negative weight fails the query,
    * as Percentile does.
    */
  private[graft] def exactQuantiles(in: DataFrame, v: String,
      fracs: Seq[Double], partCols: Seq[String] = Nil,
      weight: Option[Column] = None): DataFrame = {
    val pc = partCols.map(col)
    // r17 (r16 verdict item 3): the machinery below references `cells`
    // from several subtree positions and chained calls COMPOUND the
    // static plan (q53's formatted plan hit 7,245 lines; q52's embedded
    // 38 scans). Runtime ReusedExchange dedupes the executed work, but
    // AQE re-optimizes the remaining LOGICAL plan at every one of the
    // ~30-40 stage boundaries, so driver-side planning grew with the
    // SQUARE of composition depth — q52/q53 spent 4-7.6 s at sf0.1 on
    // sub-MB data. The fix lives at the CALL SITES, not here: single
    // calls (q37/q84/q107/t54/s31) keep the one-action shape, while
    // composing callers (q52/q53) pin the bounded frames at their
    // composition boundaries so depth never multiplies the plan.
    // Checkpointing `cells` inside the helper was measured and
    // REJECTED: under AQE even a lazy localCheckpoint executes its
    // stages at build time, so it serializes every call into
    // driver-synchronized mini-jobs and regressed the single-call lanes
    // (q37 1.81→3.07 s at sf0.1).
    // With weights a cell's count is the SUM of its rows' weights
    // instead of the row count; every rank/interpolation step below is
    // count-based, so the result is collapse-invariant by construction
    // (grouping equal values and summing their weights yields the same
    // cells). The weight check runs inside the plan — no extra job.
    val cnt = weight.map(w => sum(when(w < 0, raise_error(lit(
        s"exactQuantiles: negative weight in the weighted quantile of $v")))
        .otherwise(w)))
      .getOrElse(count(lit(1)))
    val cells = in.filter(col(v).isNotNull)
      .groupBy(pc :+ col(v).as("__q_v"): _*)
      .agg(cnt.as("__q_cnt"))
    // each distinct value covers ascending 1-based ranks [cum − cnt + 1,
    // cum] of its group's n = cnt_tot; target position p·(n−1) with
    // floor/ceil exactly as Percentile computes them. One value covers
    // each rank, so the filter keeps ≤2 rows per (group, fraction).
    def covers(r: String): Column = (col(r) + 1).between(
      col("__q_cnt_cum") - col("__q_cnt") + 1, col("__q_cnt_cum"))
    val picked = prefixSums(cells, "__q_v", Seq("__q_cnt"), partCols)
      .withColumn("__q_p", explode(array(fracs.map(lit): _*)))
      .withColumn("__q_pos", col("__q_p") * (col("__q_cnt_tot") - 1))
      .withColumn("__q_l", floor(col("__q_pos")))
      .withColumn("__q_h", ceil(col("__q_pos")))
      .filter(covers("__q_l") || covers("__q_h"))
      .groupBy(pc ++ Seq(col("__q_p"), col("__q_pos"),
        col("__q_l"), col("__q_h")): _*)
      .agg(
        min(when(covers("__q_l"), col("__q_v"))).as("__q_vlo"),
        min(when(covers("__q_h"), col("__q_v"))).as("__q_vhi"))
    // NOTE: partCols must stay a low-cardinality axis (today's largest:
    // q53's 5 segments) — prefixSums' per-group offset broadcast
    // assumes it; a corpus-proportional group axis needs a shuffle join
    // on (group, bucket) instead (r16 ADVICE, documented guard).
    picked
      .withColumn("__q_bnd",
        when(col("__q_h") === col("__q_l") ||
            col("__q_vhi") === col("__q_vlo"),
          col("__q_vlo").cast("double"))
          .otherwise((col("__q_h") - col("__q_pos")) * col("__q_vlo") +
            (col("__q_pos") - col("__q_l")) * col("__q_vhi")))
      .groupBy(pc: _*)
      .agg(array_sort(collect_list(struct(col("__q_p"), col("__q_bnd"))))
        .as("__q_ps"))
      // the group-less aggregate over no picked row still yields its one
      // row, with an empty list: report it as null, as Percentile does
      .select(pc :+ when(size(col("__q_ps")) > 0,
        transform(col("__q_ps"), x => x.getField("__q_bnd"))).as("qs"): _*)
  }

  // q24: pivot month × order-status revenue matrix. The pivot values are
  // declared (no extra distinct-collect job); each cell is a conditional
  // sum in ONE aggregation pass.
  val q24_pivot: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(month(col("o_orderdate")).as("order_month"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      // exact cents per cell (q01 discipline)
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")) / 100.0)
      .select(col("order_month"),
        coalesce(col("F"), lit(0.0)).as("f_total"),
        coalesce(col("O"), lit(0.0)).as("o_total"),
        coalesce(col("P"), lit(0.0)).as("p_total"))
      .orderBy("order_month")
  }

  // q25: set ops — customers active in 1996 ∩ 1997 (loyal) and 1996 \ 1997
  // (churned). INTERSECT/EXCEPT plan as hash-distinct joins on the same
  // key partitioning; the union of the two tagged legs reuses it.
  val q25_setops: Q = (s, d) => {
    val o = Tables.orders(s, d)
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey"))
    yr(1996).intersect(yr(1997)).withColumn("cohort", lit("loyal"))
      .union(yr(1996).except(yr(1997)).withColumn("cohort", lit("churned")))
      .orderBy("cohort", "custkey")
  }

  // q26: lead/lag — inter-order gap per customer (one window shuffle on
  // o_custkey, agg reuses the partitioning).
  val q26_lead_lag: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("gap_days",
        datediff(to_date(col("o_orderdate")), to_date(lag(col("o_orderdate"), 1).over(w))))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg("gap_days"), 2).as("avg_gap_days"),
        max("gap_days").as("max_gap_days"))
      .filter(col("n_orders") >= 2)
      .orderBy("o_custkey")
  }

  // q27: decile profile of order values. ntile needs a total order →
  // single-partition window; acceptable for rank-style output. At 100 TB
  // the same result comes from approx_percentile boundaries + a map-side
  // bucket assign — no global sort (noted, not needed at test scale).
  val q27_ntile: Q = (s, d) => {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("decile")
  }

  // q28: ordered string aggregation — premium-customer roster per nation.
  // collect_list + array_sort + array_join ≡ string_agg(... ORDER BY):
  // the sort happens inside the aggregated cell, deterministic on ties.
  val q28_string_agg: Q = (s, d) => {
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000.0)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_premium"),
        array_join(array_sort(collect_list(col("c_name"))), "|").as("roster"))
      .orderBy("c_nationkey")
  }

  // q29: JSON extraction from the events.props payload — get_json_object
  // is codegen'd (Jackson streaming parse, no UDF); grouped stats per key.
  val q29_json_extract: Q = (s, d) => {
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("k")
  }

  // q30: skew-mitigated (salted) join — the fact side gets a deterministic
  // salt in [0,8), the dim side replicates 8×, and the join key becomes
  // (key, salt): a single hot key's rows now land on 8 reducers instead
  // of one. This is the manual form of what AQE skew-join does adaptively;
  // kept explicit because pre-salting also fixes skew in the downstream
  // aggregation, which AQE can't re-key. Result provably equals the plain
  // join (the oracle runs the unsalted SQL).
  val q30_salted_join: Q = (s, d) => {
    val SaltN = 8
    val ev = Tables.events(s, d)
    val dim = ev.groupBy(col("user_id")).agg(min("ts").as("first_ts"))
    val fact = ev.withColumn("salt", pmod(col("event_id"), lit(SaltN)).cast("int"))
    val dimRep = dim
      .withColumn("salt", explode(sequence(lit(0), lit(SaltN - 1))))
      .withColumn("salt", col("salt").cast("int"))
    fact.join(dimRep, Seq("user_id", "salt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        unix_micros(min("first_ts")).as("first_ts_us"))
      .orderBy("user_id")
  }

  // q31: trailing 30-day range-frame window — per order, that customer's
  // order count/spend in the preceding 30 days (inclusive). RANGE frame
  // over an epoch-day ordering key: tie days all enter the frame, so the
  // result is deterministic without a tiebreak. One shuffle on custkey.
  val q31_trailing_window: Q = (s, d) => {
    val dayN = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_n"))
      .rangeBetween(-30, 0)
    Tables.orders(s, d)
      .withColumn("day_n", dayN)
      .withColumn("n_orders_30d", count(lit(1)).over(w))
      .withColumn("spend_30d", round(sum("o_totalprice").over(w), 2))
      .select("o_orderkey", "o_custkey", "day_n", "n_orders_30d", "spend_30d")
      .orderBy("o_orderkey")
  }

  // q32 (rows-only; spec: per-group relative error ≤ 5%): HyperLogLog++
  // approximate count-distinct next to the exact count — the sketch you
  // actually run at 100 TB where exact two-phase distinct is a full
  // re-shuffle of the key universe. rsd 0.02 ≈ 2% typical error.
  val q32_approx_distinct: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"),
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("n_approx"))
      .orderBy("o_orderpriority")
  }

  // q33: top-3 per nation via the custom bounded-heap aggregate
  // (graft.functions.TopK) instead of a window sort — a hash aggregation
  // whose map-side partial state is ≤ k rows per key per partition: at
  // 100 TB the shuffle carries k·keys·partitions rows, not the table,
  // and nothing is ever sorted. Same rows as the q07 window formulation
  // (the oracle is the identical SQL).
  val q33_topk_per_key: Q = (s, d) => {
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(graft.functions.TopK.topk_by(
        struct(col("c_custkey"), col("c_name"), col("c_acctbal")),
        col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_nationkey"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("c_nationkey"), (col("pos") + 1).cast("int").as("rn"),
        col("r.c_custkey"), col("r.c_name"), col("r.c_acctbal"))
      .orderBy("c_nationkey", "rn")
  }

  // q34: combined semi+anti self-joins with aggregation (TPC-H Q21
  // flavor) — orders shipped by ≥2 suppliers with zero returned items,
  // counted per priority. Both the EXISTS (different supplier) and the
  // NOT EXISTS (returned item) plan as one-pass hash semi/anti joins on
  // l_orderkey; no row multiplication anywhere.
  val q34_exists_agg: Q = (s, d) => {
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_returnflag")
    val l2 = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val multiSupp = l
      .join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
    val clean = multiSupp
      .join(l.filter(col("l_returnflag") === "R").select(col("l_orderkey").as("ro")),
        col("l_orderkey") === col("ro"), "left_anti")
    clean.select("l_orderkey").distinct()
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // q40: the TPC-H Q22 shape — "qualified but lapsed" customers:
  // above-average balance within a market-segment set, no RECENT orders
  // (left_anti against the date-filtered orders — the filter pushes to
  // the orders scan), grouped by segment. The global-average threshold
  // is a one-row scalar crossJoin broadcast (no per-row subquery); the
  // anti-join shuffles only customer keys; at scale the orders side is
  // the big relation and the date filter prunes it at the scan.
  val q40_inactive_customers: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(avg("c_acctbal").as("ab"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  // q35: rolling 7-day distinct users per day. The cardinality-heavy work
  // (dedup to per-day user sets) is ONE keyed aggregation over the fact
  // table; the trailing-window distinct then runs on #days rows (tiny at
  // any scale), merging the daily sets. At 100 TB you'd swap the exact
  // sets for HLL sketches with the same two-level shape.
  val q35_rolling_distinct: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day")).agg(collect_set(col("user_id")).as("us"))
      .withColumn("day_n", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy(col("day_n")).rangeBetween(-6, 0)
    daily
      .withColumn("users_7d",
        size(array_distinct(flatten(collect_list(col("us")).over(w)))).cast("bigint"))
      .select(col("day"), col("users_7d"))
      .orderBy("day")
  }

  // q36: distribution window functions — percent_rank / cume_dist of each
  // customer's balance within its market segment (the percentile-placement
  // shape behind quantile-bucketed sampling). One shuffle on the segment
  // key; ordering ties broken on custkey so both engines rank identically.
  val q36_percent_rank: Q = (s, d) => {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .filter(col("pct_rank") >= 0.95)
      .orderBy("c_mktsegment", "c_custkey")
  }

  // q37: SCALE-SAFE decile profile — q27's semantics with no global-sort
  // window and no unbounded aggregation buffer anywhere in the plan.
  // The old boundary row was one exact `percentile(…, array(0.1..0.9))`
  // — Spark's Percentile is a TypedImperativeAggregate whose buffer
  // holds EVERY distinct value with counts, and the group-less
  // aggregation funnels the whole corpus's value set through one final
  // merge task: at sf5 multi-JVM that buffer OOM'd a 4-core/8 GB
  // executor by itself (r16 optimization, guide §5 — per-task state
  // must be bounded). The boundaries now come from the distributed
  // exact-rank machinery the Pareto lanes already use: orders collapse
  // to distinct (price, count) cells in ONE keyed hash aggregation
  // (map-side partials, spills gracefully — the shuffle carries
  // distinct prices, never a growing buffer); the ascending cumulative
  // count rides prefixSums' bucket-partitioned windows plus a prefix
  // over the bounded ≤2^14-row bucket axis; each quantile then
  // interpolates between the values at ranks ⌊p(n−1)⌋+1 and ⌈p(n−1)⌉+1
  // with EXACTLY Percentile's arithmetic ((higher−pos)·v_lo +
  // (pos−lower)·v_hi; v_lo when the ranks coincide or share a value) —
  // bit-identical doubles, so the 4dp-rounded boundaries match the
  // previous form and DuckDB quantile_cont unchanged (q23's grid
  // argument; oracle untouched). Boundaries broadcast to the fact scan;
  // every row then buckets itself map-side by counting boundaries below
  // its value. RelationalSpec asserts the executed plan has no
  // Percentile aggregate, no global window over raw rows, and no
  // row-carrying single-partition exchange.
  val q37_decile_profile: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val bnds = exactQuantiles(o.select("o_totalprice"), "o_totalprice",
      (1 to 9).map(_ / 10.0))
      .select(transform(col("qs"), b => round(b, 4)).as("bnds"))
    o.crossJoin(broadcast(bnds))
      .withColumn("decile",
        (size(filter(col("bnds"), b => col("o_totalprice") > b)) + 1).cast("bigint"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("decile")
  }

  // q38 (rows-only; spec: per-day relative error ≤ 5% vs exact q35):
  // rolling 7-day distinct users via daily HLL sketches — the 100 TB
  // shape q35's exact formulation can't take (its per-day collect_set
  // rows grow with daily actives; a sketch row is ~2^lgK bytes flat).
  // Phase 1: ONE keyed aggregation builds a fixed-size sketch per day
  // (map-side partial merge — shuffle carries sketches, not user ids);
  // phase 2: the 7-day union merge runs on #days rows (tiny at any
  // scale), same two-level shape as q35.
  val q38_rolling_distinct_approx: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .withColumn("day_n", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy(col("day_n")).rangeBetween(-6, 0)
    daily
      .withColumn("users_7d_approx",
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)).over(w)))
      .select(col("day"), col("users_7d_approx"))
      .orderBy("day")
  }

  // q41: PURE range join (no equi key) — the IP-geolocation / price-band
  // lookup shape. Spark's built-in plan for a join whose ONLY condition
  // is a range predicate is a broadcast-nested-loop (every probe row
  // compared against every range); the scalable formulation BINS the
  // domain: each range row explodes to the fixed-width bins it overlaps,
  // each probe computes its single bin, and the join becomes an EQUI
  // join on bin + residual range filter — O(ranges × bins_per_range +
  // matches), shuffle-partitionable on bin, no BNLJ/cartesian (the spec
  // plan-asserts this). Bands are the irregular triangular lattice
  // lo_k = 900 + k(k+1)/2 (widths 1,2,…,14 over [900,1005)) against bin
  // width 8, so band and bin boundaries never align and every band/bin
  // overlap case is exercised. The exploded range side here is ~40 rows
  // → broadcast hint; at 100 TB with millions of ranges the same plan
  // minus the hint shuffles both sides on bin, and a range spanning many
  // bins salts naturally because each (bin, range) replica lands in its
  // own partition. Oracle: DuckDB's native inequality join (IEJoin) over
  // the quadratic formulation — same rows, different algorithm.
  val q41_range_join: Q = (s, d) => {
    val binW = 8L
    val bands = s.range(0, 14).toDF("band")
      .withColumn("lo", lit(900L) + col("band") * (col("band") + 1) / 2)
      .withColumn("hi", lit(900L) + (col("band") + 1) * (col("band") + 2) / 2)
    val binned = bands.withColumn("bin",
      explode(sequence(floor(col("lo") / binW), floor((col("hi") - 1) / binW))))
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"))
      .withColumn("bin", floor(col("p_retailprice") / binW).cast("long"))
      .join(broadcast(binned), Seq("bin"))
      .where(col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 2).as("avg_price"),
        round(sum(col("p_retailprice")), 2).as("sum_price"))
      .orderBy("band")
  }

  // q42: bivariate statistics per group — corr / covar / stddev / OLS
  // regression (slope, intercept, r²) of extendedprice on quantity. All
  // are one-pass co-moment aggregates (Pearson/Welford updates): a single
  // hash aggregation with map-side partials, constant state per group —
  // the same shuffle shape as q01 no matter how many rows feed it. The
  // profiling pass a feature-engineering pipeline runs per segment.
  val q42_stats_profile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_price_qty"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("covar_price_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("std_qty"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 2).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"))
      .orderBy("l_returnflag")

  // q43: deterministic k-per-stratum sampling — "reservoir sampling" as
  // top-k by a content hash. Ordering every stratum member by
  // md5(c_custkey) and keeping the first k is an exact uniform sample
  // that is reproducible on any cluster, partition layout, or rerun (no
  // RNG, no seed plumbing), and composes with resume: re-running over
  // grown data keeps previously-sampled rows iff they still win on hash.
  // Implementation is the q33 bounded-heap aggregate, NOT a window: the
  // map-side partial state is ≤ k rows per stratum per partition, so at
  // 100 TB the shuffle carries k·strata·partitions rows and nothing is
  // globally sorted (a row_number window would shuffle and sort the
  // whole table on 5 skewed stratum keys). Hash order is the numeric
  // value of the first 12 md5 hex chars (48 bits — exact in a Double),
  // negated because the heap keeps maxima; lexicographic hex order in
  // the oracle is the same total order since the prefix is fixed-width.
  val q43_stratified_sample: Q = (s, d) =>
    Tables.customer(s, d)
      .withColumn("h",
        -conv(substring(md5(col("c_custkey").cast("string")), 1, 12), 16, 10)
          .cast("double"))
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.TopK.topk_by(
        struct(col("c_custkey"), col("c_name"), col("c_acctbal")),
        col("h"), col("c_custkey"), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("int").as("rn"),
        col("r.c_custkey"), col("r.c_name"), col("r.c_acctbal"))
      .orderBy("c_mktsegment", "rn")

  // q44: ordered funnel analysis (view → click → purchase) — the product
  // -analytics operator: how deep does each user get, with stage order
  // enforced by STRICT timestamp succession under a 6-hour conversion
  // window (a click only counts within 6 h after that user's first
  // view, a purchase within 6 h of the qualifying click — unwindowed,
  // everyone in a months-long stream eventually converts and the funnel
  // is vacuous). Three keyed min-aggregations chained by equi-joins on
  // user_id — every stage is one shuffle on the same key (no windows,
  // no per-user sort), so the chain re-uses co-partitioning and scales
  // with users, not events. Depth distribution is the ≤4-row output.
  val q44_funnel: Q = (s, d) => {
    val W = 6L * 3600 * 1000000 // 6-hour conversion window, micros
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val tv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min("us").as("tv"))
    val tc = ev.filter(col("event_type") === "click")
      .join(tv, Seq("user_id"))
      .filter(col("us") > col("tv") && col("us") <= col("tv") + W)
      .groupBy(col("user_id")).agg(min("us").as("tc"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tc, Seq("user_id"))
      .filter(col("us") > col("tc") && col("us") <= col("tc") + W)
      .groupBy(col("user_id")).agg(min("us").as("tp"))
    ev.select(col("user_id")).distinct()
      .join(tv, Seq("user_id"), "left")
      .join(tc, Seq("user_id"), "left")
      .join(tp, Seq("user_id"), "left")
      .withColumn("depth",
        when(col("tp").isNotNull, 3)
          .when(col("tc").isNotNull, 2)
          .when(col("tv").isNotNull, 1)
          .otherwise(0).cast("int"))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }

  // q45: time-weighted average (the irregular-time-series mean a
  // metrics/finance pipeline computes when samples arrive at uneven
  // intervals — a plain avg over-weights bursts): per (user, day), each
  // value holds until the next observation; twa = Σ value·Δt / Σ Δt.
  // One lead() window partitioned by (user_id, day) — high-cardinality
  // keys, so the sort is per-small-partition — and the groupBy re-uses
  // the window's partitioning (no second shuffle).
  val q45_time_weighted_avg: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("us"), col("value"), col("event_id"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dt", col("next_us") - col("us"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_intervals"),
        round(sum(col("value") * col("dt")) / sum(col("dt")), 4).as("twa"))
      .orderBy("user_id", "day")
  }

  // q46: cohort retention — the growth-analytics staple: bucket customers
  // by first-order month (the cohort), then measure how many of each
  // cohort order again k months later. The fact table shuffles ONCE on
  // o_custkey (first-order month), the cohort×offset rollup re-uses that
  // derived frame, and the cohort-size join is a broadcast of ≤n_months
  // rows — so the lane scales with customers, never customers×months.
  val q46_cohort_retention: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("mon"))
    val first = o.groupBy("o_custkey").agg(min("mon").as("cohort"))
    val active = o.join(first, Seq("o_custkey"))
      .withColumn("offset_m", months_between(col("mon"), col("cohort")).cast("int"))
      .groupBy(col("cohort"), col("offset_m"))
      .agg(countDistinct("o_custkey").as("n_active"))
    val size = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    active.join(broadcast(size), Seq("cohort"))
      // retention in pure integer half-up division (the q106/x24
      // discipline, r15 audit): n_active/cohort_size is an exact
      // long/long rational, and any odd/32-reduced cohort size lands
      // EXACTLY on the 5th-decimal 5 (odd·3125/10^5) — the one spot
      // where Spark's shortest-repr HALF_UP and DuckDB's rint diverge.
      // Small cohort cells make 32|size realistic, unlike the
      // data-sized denominators elsewhere.
      .select(col("cohort"), col("offset_m"), col("n_active"), col("cohort_size"),
        (expr("(n_active * 20000 + cohort_size) div (cohort_size * 2)")
          / 10000.0).as("retention"))
      .orderBy("cohort", "offset_m")
  }

  // q47: last-touch channel attribution — the marketing-analytics
  // workhorse: each purchase is credited to the user's most recent
  // strictly-prior click (campaign = click's props.k mod 8) if that
  // click happened within a 24-hour lookback, else to "direct" (-1).
  // Same union+window engine as q21's as-of join — clicks deduped per
  // (user, ts) for a deterministic target, ONE shuffle on user_id, and
  // the campaign rollup is a ≤9-row aggregation. No per-purchase range
  // join (the naive formulation is quadratic in events per user).
  val q47_attribution: Q = (s, d) => {
    val W = 24L * 3600 * 1000000 // 24-hour lookback, micros
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(pmod(get_json_object(col("props"), "$.k").cast("long"), lit(8)),
        col("event_id")).as("campaign"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        lit(null).cast("double").as("value"), lit(1).as("kind"),
        col("campaign"), unix_micros(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"), lit(0).as("kind"),
        lit(null).cast("long").as("campaign"), lit(null).cast("long").as("c_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("last_campaign", last(col("campaign"), ignoreNulls = true).over(w))
      .withColumn("last_click_us", last(col("c_us"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .withColumn("attributed", when(
        col("last_click_us").isNotNull && col("us") - col("last_click_us") <= W,
        col("last_campaign")).otherwise(lit(-1L)).cast("int"))
      .groupBy(col("attributed").as("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("attributed_value"))
      .orderBy("campaign")
  }

  // q48: market-basket affinity (association-rule lift over brands
  // co-purchased in one order): per-order distinct brand sets, pair
  // counts from an orderkey-equi self-join, lift = P(a,b)/(P(a)·P(b)).
  // The self-join key is l_orderkey, so both sides co-partition on the
  // SAME shuffle and the pair blowup is bounded by per-order brand-set
  // size (≤7 lineitems in this schema), never corpus-quadratic; brand
  // lookup and the singles/total denominators are broadcasts. Top-20
  // by lift is a TakeOrdered — no global sort.
  val q48_basket_lift: Q = (s, d) => {
    val ob = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
      .persist() // scanned 4× (total, singles, both self-join sides)
    val nOrders = ob.select(countDistinct("ok").cast("double").as("n_orders"))
    val singles = ob.groupBy(col("brand"))
      .agg(count(lit(1)).cast("double").as("n_b"))
    val pairs = ob.as("a")
      .join(ob.as("b"), col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    pairs
      .join(broadcast(singles.withColumnRenamed("brand", "brand_a")
        .withColumnRenamed("n_b", "na")), Seq("brand_a"))
      .join(broadcast(singles.withColumnRenamed("brand", "brand_b")
        .withColumnRenamed("n_b", "nb")), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        round(col("n_ab") * col("n_orders") / (col("na") * col("nb")), 4).as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  // q49: behavioral TRANSITION MATRIX (Markov path analysis — the
  // "what do users do next" product-analytics staple): consecutive
  // event-type pairs per user ordered by time, with per-source-state
  // transition probabilities. ONE lead() window on user_id (ties broken
  // by event_id — deterministic) feeding a ≤|types|² count agg; the
  // row-normalizing denominator join is a broadcast of ≤|types| rows.
  // Scales with events, state stays the bounded type alphabet.
  val q49_transition_matrix: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type").as("a"),
        unix_micros(col("ts")).as("us"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("a")).agg(sum("n").cast("double").as("na"))
    tr.join(broadcast(tot), Seq("a"))
      .select(col("a"), col("b"), col("n"),
        round(col("n") / col("na"), 4).as("p"))
      .orderBy("a", "b")
  }

  /** q50's fixed power-iteration count and damping (shared with the
    * recursive-CTE oracle via interpolation).
    */
  val PageRankIters = 10
  val PageRankDamping = 0.85

  // q50: PAGERANK by power iteration — the canonical iterative
  // distributed-graph computation, run over the q48 brand co-occurrence
  // graph (symmetric weighted edges from the co-partitioned orderkey
  // self-join, row-normalized to transition probabilities). Each of the
  // 10 iterations is one keyed join + one aggregation with the rank
  // table broadcast (≤|brands| rows here) and localCheckpoint truncating
  // the iteration lineage (d07's discipline — without it the plan tree
  // doubles per iteration). At web scale the rank table stays
  // DISTRIBUTED and the broadcast becomes a src-keyed shuffle join —
  // same loop body, and the edge relation never moves (it is the
  // iteration-invariant side). Ranks sum to 1 by construction.
  val q50_pagerank: Q = (s, d) => {
    val ob = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
      .persist()
    val e0 = ob.as("a")
      .join(ob.as("b"), col("a.ok") === col("b.ok") && col("a.brand") =!= col("b.brand"))
      .groupBy(col("a.brand").as("src"), col("b.brand").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    val outw = e0.groupBy("src").agg(sum("w").as("wout"))
    val edges = e0.join(outw, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("wout")).as("p"))
      .persist()
    val n = edges.select(countDistinct("src")).head().getLong(0).toDouble
    var ranks = edges.select(col("src").as("brand")).distinct()
      .withColumn("r", lit(1.0 / n))
      .localCheckpoint(true)
    for (_ <- 1 to PageRankIters)
      ranks = edges.join(broadcast(ranks), col("src") === col("brand"))
        .groupBy(col("dst"))
        .agg((lit((1 - PageRankDamping) / n) +
          lit(PageRankDamping) * sum(col("r") * col("p"))).as("r"))
        .withColumnRenamed("dst", "brand")
        .localCheckpoint(true)
    ob.unpersist()
    edges.unpersist()
    ranks.select(col("brand"), round(col("r"), 6).as("pagerank"))
      .orderBy("brand")
  }

  /** q51's bucket count (shared with the oracle via interpolation). */
  val HistogramBuckets = 20

  // q51: equi-width HISTOGRAM (the EDA/CBO companion to x22's catalog
  // stats and q37's equi-depth deciles): 20 equal-width buckets over
  // l_extendedprice. The min/max bounds are a ONE-ROW aggregate
  // broadcast to the bucketing scan (BroadcastNestedLoopJoin of a
  // single row — never a driver collect), then one keyed count agg on
  // the ≤20-value bucket id; the max value clamps into the last bucket.
  // Bucket ASSIGNMENT is the IDENTICAL double expression on both
  // engines so no cell can flip; the displayed EDGES are exact
  // rationals (mn_cents + b·span_cents/20) that CAN land on a
  // half-cent — the r15 planted gate caught the flip — so they report
  // via pure integer half-up division over exact cents (the q106/q23
  // discipline). Scales as two scans + one 20-key shuffle at any
  // corpus size (and the second scan reuses the first's pushed
  // 1-column read schema).
  val q51_histogram: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
    val bounds = li.agg(min("x").as("mn"), max("x").as("mx"))
    val b2 = 2 * HistogramBuckets
    li.crossJoin(broadcast(bounds))
      .withColumn("w", (col("mx") - col("mn")) / lit(HistogramBuckets))
      // degenerate all-equal column (mx == mn → w = 0): everything lands
      // in bucket 0 rather than tripping ANSI DIVIDE_BY_ZERO
      .withColumn("bucket",
        when(col("w") > 0,
          least(floor((col("x") - col("mn")) / col("w")),
            lit(HistogramBuckets - 1L)))
          .otherwise(lit(0L)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), first("mn").as("mn"), first("mx").as("mx"))
      .withColumn("mnc", expr("cast(round(mn * 100) as bigint)"))
      .withColumn("kc", expr("cast(round(mx * 100) as bigint)") - col("mnc"))
      .select(col("bucket"),
        (expr(s"(2*($HistogramBuckets*mnc + bucket*kc) + $HistogramBuckets)" +
          s" div $b2") / 100.0).as("lo"),
        (expr(s"(2*($HistogramBuckets*mnc + (bucket+1)*kc) + " +
          s"$HistogramBuckets) div $b2") / 100.0).as("hi"),
        col("n"))
      .orderBy("bucket")
  }

  /** q52's recency anchor — the day after the corpus's last order date
    * (shared with the oracle via interpolation).
    */
  val RfmCutoff = "2001-09-01"

  // q52: RFM SEGMENTATION (recency/frequency/monetary — the classic
  // customer-value segmentation): per-customer R/F/M from ONE keyed
  // aggregation over orders, quintile boundaries from ONE 3-array exact
  // percentile agg (a single bounded row, broadcast back — q37's
  // boundary-bucket discipline: no global ntile window, nothing sorts
  // the corpus), scores = 1 + #boundaries ≤ value (recency inverted:
  // recent = high score), then a ≤125-row (r,f,m)-cell rollup. The
  // interpolated quintile fractions are multiples of 0.2, so boundary
  // doubles are bit-identical across engines. At 100 TB the exact
  // percentile swaps for approx_percentile (q39's discipline); scores
  // at sketch boundaries can then differ by design.
  val q52_rfm: Q = (s, d) => {
    // monetary folds in EXACT INTEGER CENTS: the bounds pass and the
    // scoring pass each materialize `per`, and under multi-JVM
    // executors a parallel double sum's merge order can differ between
    // the two — a sum landing ulp-near a half-cent then rounds to a
    // different monetary in each pass and a customer's quintile flips
    // (q89's double-key class, comparison flavor). Exact longs make
    // both materializations bit-identical; quintile boundaries are the
    // same cut points ×100.
    // r17: `per` is referenced by the three bounds passes AND the
    // scoring probe; with exactQuantiles' internal checkpoints those
    // run as separate jobs, so without pinning `per` the orders
    // scan+agg would execute 4x. One localCheckpoint = one scan+agg,
    // every consumer reads the materialized customer axis (and the
    // "both materializations bit-identical" note above becomes
    // literal: there is exactly one materialization now).
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit(RfmCutoff).cast("date"), max(col("o_orderdate")).cast("date"))
          .cast("double").as("recency"),
        count(lit(1)).cast("double").as("frequency"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("mc"))
      .localCheckpoint(false)
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    // three per-metric quintile bounds via the bounded rank machinery
    // (r16: each of the three customer-axis Percentile buffers was
    // q37's funnel class); ReuseExchange dedupes the shared `per`
    // reduction under the three passes and the scoring probe
    val bounds = exactQuantiles(per, "recency", qs)
      .select(col("qs").as("rb"))
      .crossJoin(exactQuantiles(per, "frequency", qs)
        .select(col("qs").as("fb")))
      .crossJoin(exactQuantiles(
        per.select(col("mc").cast("double").as("mcd")), "mcd", qs)
        .select(col("qs").as("mb")))
      // r17: pin the ONE-ROW bounds frame — the probe below then plans
      // against a leaf instead of re-embedding three exactQuantiles
      // DAGs (composition-boundary discipline, guide §3.3)
      .localCheckpoint(false)
    def score(c: Column, b: Column): Column =
      (0 to 3).map(i => (c >= element_at(b, i + 1)).cast("int"))
        .foldLeft(lit(1))(_ + _)
    per.crossJoin(broadcast(bounds))
      .select(
        (lit(6) - score(col("recency"), col("rb"))).as("r_score"),
        score(col("frequency"), col("fb")).as("f_score"),
        score(col("mc").cast("double"), col("mb")).as("m_score"),
        col("mc"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        // cell average half-up in PURE INTEGER MATH (the q106
        // discipline): a double division + round flips engines when
        // the exact value is x.xx5 (bitten at sf1, cell row 22:
        // 1602341.195)
        (expr("(2 * sum(mc) + count(1)) div (2 * count(1))") /
          lit(100.0)).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  // q53: robust OUTLIER DETECTION by median absolute deviation (the
  // rank-based alternative to s18's z-score — immune to the outliers
  // it hunts): per-segment customer-spend median, then the median of
  // absolute deviations, flag |x − med| > 3·MAD. Two grouped exact
  // medians chained by ≤5-row broadcast joins. The medians ride
  // exactQuantiles (r16 optimization): the former grouped percentile()
  // buffered each segment's ENTIRE distinct-spend set (customer-axis ∝
  // corpus) in one task's aggregation buffer — q37's sf5 OOM class,
  // merely spread across 5 tasks; the rank machinery keeps per-task
  // state bounded AND the result exact at any scale, so the documented
  // exact→approx swap is no longer needed here.
  // All deviation doubles derive from the same formula on both engines.
  // spend folds in EXACT INTEGER CENTS: the med pass, the dev pass, and
  // the mad pass each re-materialize `spend`, so a parallel double sum
  // rounding differently between materializations (multi-JVM merge
  // order, q89's class) could move a customer across the 3·MAD line.
  // With exact longs every pass agrees bit-for-bit; medians of longs
  // interpolate to integers-or-halves (exactly representable), dev is
  // exact halves, and the readout divides once onto the ≤3dp grid.
  val q53_mad_outliers: Q = (s, d) => {
    // r17: spend feeds the med pass, the dev frame (hence the mad pass)
    // and the final readout; pinned once so the join+agg executes once
    // (the "each pass re-materializes spend" note above is now a single
    // materialization — exact cents keep it bit-stable regardless).
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("sc"))
      .localCheckpoint(false)
    // r17: med/mad are bounded ≤5-row frames; pinning them at the
    // composition boundary keeps the mad pass and the readout planning
    // against leaves — the former CHAINED plan re-embedded the med
    // DAG inside the mad DAG (7,245 formatted lines; AQE re-optimized
    // it at every stage boundary, 7.6 s at sf0.1 on sub-MB data)
    val med = exactQuantiles(spend, "sc", Seq(0.5), Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("qs").getItem(0).as("med_c"))
      .localCheckpoint(false)
    val dev = spend.join(broadcast(med), Seq("c_mktsegment"))
      .withColumn("dev_c", abs(col("sc") - col("med_c")))
    val mad = exactQuantiles(dev, "dev_c", Seq(0.5), Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("qs").getItem(0).as("mad_c"))
      .localCheckpoint(false)
    dev.join(broadcast(mad), Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        // med/mad cents are integers-or-halves → /100 lands on the
        // exact 3dp grid; round(·,3) is a deterministic no-op normalize
        round(first("med_c") / lit(100.0), 3).as("med"),
        round(first("mad_c") / lit(100.0), 3).as("mad"),
        sum(when(col("dev_c") > lit(3) * col("mad_c"), 1L).otherwise(0L))
          .as("n_outliers"),
        round(sum(when(col("dev_c") > lit(3) * col("mad_c"), 1L)
          .otherwise(0L)) / count(lit(1)), 4).as("pct_outliers"))
      .orderBy("c_mktsegment")
  }

  // q54: TRIANGLE COUNTING with degree-ordered orientation — the third
  // distributed-graph op (d07 components, q50 PageRank, q54 triangles),
  // over the part co-purchase graph (pairs bought together in ≥2
  // orders; the pair generation is q48's co-partitioned orderkey
  // self-join, bounded by per-order basket size). Each undirected edge
  // is oriented from its (degree, id)-smaller endpoint, so every
  // wedge-join fan-out is bounded by ORIENTED out-degree ≤ O(√|E|)
  // regardless of raw hub degree — the standard MR triangle-count skew
  // bound (Suri & Vassilvitskii, WWW'11); a plain id-orientation would
  // let one celebrity node generate O(deg²) wedges. Wedge pairs and the
  // closing edge compare in the SAME (deg, id) total order, so each
  // triangle is counted exactly once from its ≺-smallest vertex. Output
  // also carries the global clustering coefficient (3·triangles /
  // wedges-over-raw-degrees).
  val q54_triangles: Q = (s, d) => {
    val ob = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = ob.as("a")
      .join(ob.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select("u", "v")
    triangleStats(e)
  }

  /** q54's engine over ANY undirected edge set (columns u < v, distinct)
    * — public so the ScalaCheck property can pin oriented ≡ naive
    * enumeration on random graphs, not just the one co-purchase graph.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.persist() // degree pass + orientation join both consume it
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val uFirst = (col("du") < col("dv")) || (col("du") === col("dv") && col("u") < col("v"))
    val o = e
      .join(deg.select(col("n"), col("d").as("du")), col("u") === col("n")).drop("n")
      .join(deg.select(col("n"), col("d").as("dv")), col("v") === col("n")).drop("n")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
      .persist() // wedge sides x/y + closing side z
    val xBeforeY = (col("x.ddst") < col("y.ddst")) ||
      (col("x.ddst") === col("y.ddst") && col("x.dst") < col("y.dst"))
    val tri = o.as("x")
      .join(o.as("y"), col("x.src") === col("y.src") && xBeforeY)
      .join(o.as("z"), col("z.src") === col("x.dst") && col("z.dst") === col("y.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val out = tri
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("d") * (col("d") - 1) / 2).as("wedges"))))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        // wedge-free graphs (no node of degree ≥ 2) have an undefined
        // clustering coefficient — NULL, never DIVIDE_BY_ZERO under ANSI
        when(col("wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("wedges"), 6))
          .otherwise(lit(null).cast("double")).as("clustering"))
      // single row — materialize eagerly so the two persisted frames can
      // be released here instead of leaking cached blocks across a
      // 272-lane run
      .localCheckpoint(true)
    e.unpersist(); o.unpersist()
    out
  }

  // q55: offline CUSUM CHANGE-POINT detection over the daily event
  // volume (the "when did the level shift" batch twin of s18's
  // streaming z-score): per-day counts (ONE keyed agg over the raw
  // stream — the only data-proportional step), then the cumulative sum
  // of deviations from the corpus-mean daily level; the change-point
  // estimate is the day with max |CUSUM| (Page's estimator). Every
  // post-agg step — running sum, global max, flag — runs on the
  // BOUNDED day axis (≤ corpus days, never rows), so the
  // single-partition windows carry ~30 rows at any corpus size; at
  // 100 TB only the first agg grows.
  val q55_cusum_changepoint: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val mu = daily.agg(avg("n").as("mu"))
    val wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = daily.crossJoin(broadcast(mu))
      .withColumn("cusum", sum(col("n") - col("mu")).over(wc))
    cus
      .withColumn("max_abs", max(abs(col("cusum"))).over(Window.partitionBy()))
      .select(col("day"), col("n").cast("long").as("n_events"),
        round(col("cusum"), 4).as("cusum"),
        (abs(col("cusum")) === col("max_abs")).cast("int").as("is_changepoint"))
      .orderBy("day")
  }

  /** q56's inactivity gap (micros) — 6 h, matching this stream's visit
    * cadence (a 30-min web gap makes every session a singleton here);
    * shared with the oracle.
    */
  val SessionGapUs = 6L * 3600 * 1000000

  // q56: batch SESSIONIZATION + conversion metrics (the product-
  // analytics counterpart of s02's streaming sessionize and s06's
  // native session_window): sessions are ≥6-h inactivity gaps via
  // gaps-and-islands (lag marks session starts, a running sum numbers
  // them — two chained window ops fed by ONE user_id exchange, the
  // second needs no re-sort), then per-session entry page / depth /
  // duration /
  // converted-flag, rolled up per entry type. Two data-proportional
  // shuffles total — user_id for the window, (user_id, sid) for the
  // session rollup (a refinement Catalyst cannot prove co-partitioned)
  // — plus the ≤|types| rollup; plan-shape spec-pinned. The
  // session-entry pick is a lexicographic struct-min — deterministic
  // under the (us, event_id) unique key, identical on both engines.
  val q56_session_metrics: Q = (s, d) =>
    sessionMetrics(Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")), SessionGapUs)

  /** q56's engine over ANY (user_id, event_id, event_type, us) frame —
    * public so the ScalaCheck property can pin the gaps-and-islands
    * sessionizer against a reference fold on random streams.
    */
  def sessionMetrics(ev: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = ev
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull || col("us") - col("prev") > gapUs).cast("int"))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        ((max("us") - min("us")) / 1000000.0).as("dur_s"),
        max((col("event_type") === "purchase").cast("int")).as("converted"),
        min(struct(col("us"), col("event_id"), col("event_type").as("et")))
          .getField("et").as("entry_type"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        round(avg("n_events"), 4).as("avg_events"),
        round(avg("dur_s"), 4).as("avg_duration_s"),
        round(avg(col("converted")), 4).as("conversion_rate"))
      .orderBy("entry_type")
  }

  // q57: SEASONAL DECOMPOSITION of the daily event volume (STL-lite:
  // trend = centered 7-day moving average, seasonality = mean detrended
  // value per weekday, residual = the anomaly signal q55/s18 would
  // consume): the raw stream collapses in ONE keyed agg (the only
  // data-proportional step — q55's discipline); every window after it
  // runs on the bounded ~30-row day axis, and the 7-row weekday model
  // joins back as a broadcast. Trend is defined only where the centered
  // window is FULL (7 observations) — partial-edge averages would bias
  // the weekday model on both engines identically, so both null them.
  val q57_seasonal_decompose: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
      // Spark dayofweek is 1=Sunday..7; shift to DuckDB's 0=Sunday..6
      .withColumn("wd", dayofweek(to_date(col("day"))) - 1)
    val wMa = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend",
        when(count(lit(1)).over(wMa) === 7, avg(col("n")).over(wMa)))
      .withColumn("detrended", col("n") - col("trend"))
    val seasonal = trended.filter(col("trend").isNotNull)
      .groupBy(col("wd")).agg(avg(col("detrended")).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("wd"))
      .select(col("day"), col("n").cast("long").as("n_events"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("detrended") - col("seasonal"), 4).as("residual"))
      .orderBy("day")
  }

  // q58 (rows-only; spec: ≤5% relative error on direct estimates, ≤15%
  // on the derived intersection, exact columns ≡ recompute): SKETCH SET
  // OPERATIONS — the mergeable-cardinality algebra a CBO (and every
  // cross-partition distinct-count rollup) runs: per-cohort Apache
  // DataSketches HLL aggregates (native hll_sketch_agg, lgK=14) give
  // |A| and |B|; sketches MERGE for |A∪B| (hll_union — the property
  // that lets per-partition/per-day sketches roll up without rescans);
  // |A∩B| derives by inclusion–exclusion. Exact counterparts computed
  // side by side (q32's audit shape). Each side is one aggregation;
  // the 1-row sketch frames cross-join broadcast. At 100 TB the exact
  // columns drop and ONLY the sketches move — kilobytes per cohort.
  val q58_sketch_setops: Q = (s, d) => {
    val a = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1996)
      .select(col("o_custkey"))
    val b = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1997)
      .select(col("o_custkey"))
    val exact = a.agg(countDistinct("o_custkey").as("n_a")).crossJoin(
      b.agg(countDistinct("o_custkey").as("n_b"))).crossJoin(
      a.union(b).agg(countDistinct("o_custkey").as("n_union"))).crossJoin(
      a.intersect(b).agg(count(lit(1)).as("n_intersect")))
    val sk = a.agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk_a")).crossJoin(
      b.agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk_b")))
      .select(
        expr("hll_sketch_estimate(sk_a)").cast("double").as("est_a"),
        expr("hll_sketch_estimate(sk_b)").cast("double").as("est_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").cast("double")
          .as("est_union"))
      .withColumn("est_intersect",
        col("est_a") + col("est_b") - col("est_union"))
    exact.crossJoin(broadcast(sk))
      .select(col("n_a"), col("est_a"), col("n_b"), col("est_b"),
        col("n_union"), col("est_union"), col("n_intersect"),
        round(col("est_intersect"), 1).as("est_intersect"))
  }

  // q59: SKYLINE (Pareto frontier) over part under (minimize
  // p_retailprice, maximize p_size) — the multi-criteria shortlist query
  // (cheapest-for-at-least-this-size). NOT the textbook O(n²) dominance
  // self-join: one keyed agg collapses the fact to a ≤50-row per-size
  // min-price axis (the ONLY data-proportional shuffle), the frontier
  // test runs on that bounded axis (running min over strictly-larger
  // sizes), and membership broadcasts back. A point survives iff it is
  // the min price AT its size and every strictly larger size costs
  // strictly more — equivalent to the oracle's NOT EXISTS dominance.
  val q59_skyline: Q = (s, d) => {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
    val perSize = p.groupBy(col("p_size"))
      .agg(min(col("p_retailprice")).as("mprice"))
    // one row per size → preceding rows under desc order are strictly larger
    val wDesc = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val axis = perSize.withColumn("rmin", min(col("mprice")).over(wDesc))
    p.join(broadcast(axis), Seq("p_size"))
      .filter(col("p_retailprice") === col("mprice") &&
        (col("rmin").isNull || col("rmin") > col("p_retailprice")))
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** q60's sparse-series predicate — shared with the oracle. */
  val GapFillMinQty = 49.0

  // q60: DATE-SPINE GAP FILL + forward fill over a sparse daily series
  // (the report-ready time-series shape: every calendar day present,
  // missing observations carried forward and flagged). The series is ONE
  // keyed agg; the spine is sequence()+explode over the observed bounds
  // (bounded by the day span, not the data); the fill window runs on
  // that bounded day axis — q57's discipline. First spine day is a
  // present observation by construction (the bounds come from the
  // series), so the forward fill never emits a leading null.
  val q60_gap_fill: Q = (s, d) => {
    val series = Tables.lineitem(s, d)
      .filter(col("l_quantity") > GapFillMinQty)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = series.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(series, Seq("day"), "left")
      .withColumn("was_filled", col("n").isNull.cast("int"))
      .withColumn("nf", last(col("n"), ignoreNulls = true)
        .over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("nf").as("n"), col("was_filled"))
      .orderBy("day")
  }

  // q61: PEARSON CORRELATION MATRIX over lineitem's numeric measures —
  // the EDA/feature-selection primitive. All six pairwise corr()
  // aggregates compute in ONE pass (single agg, map-side partials: each
  // corr is a streaming (n, Σx, Σy, Σxy, Σx², Σy²) moment sketch);
  // stack() unpivots the single result row to tidy (col_a, col_b, corr)
  // rows WITHOUT re-executing the agg subtree (a union of per-pair
  // selects would scan lineitem six times).
  val q61_correlation: Q = (s, d) => {
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    val pairs = for { a <- cols; b <- cols if a < b } yield (a, b)
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 4).as(s"${a}__$b") }
    Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      .select(expr(pairs.map { case (a, b) => s"'$a', '$b', ${a}__$b" }
        .mkString(s"stack(${pairs.size}, ", ", ", ") AS (col_a, col_b, corr)")))
      .orderBy("col_a", "col_b")
  }

  // q62: WELCH'S UNEQUAL-VARIANCE T-TEST between two event cohorts
  // (purchase vs click values) — the A/B-test significance readout. The
  // whole test is ONE conditional aggregation (count/avg/var_samp under
  // when(), null-skipped — six moment sketches in one scan, no
  // per-cohort branches that would re-execute the source); the t
  // statistic and Welch–Satterthwaite degrees of freedom are scalar
  // arithmetic on the single result row.
  val q62_welch_ttest: Q = (s, d) => {
    val a = when(col("event_type") === "purchase", col("value"))
    val b = when(col("event_type") === "click", col("value"))
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .agg(
        count(a).cast("double").as("na"), count(b).cast("double").as("nb"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
        round((col("ma") - col("mb")) /
          sqrt(col("va") / col("na") + col("vb") / col("nb")), 4).as("t_stat"),
        round(pow(col("va") / col("na") + col("vb") / col("nb"), 2) /
          (pow(col("va") / col("na"), 2) / (col("na") - 1) +
            pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 2).as("dof"))
  }

  // q63: CHI-SQUARED INDEPENDENCE TEST between event type and weekday —
  // "does behavior depend on the day?", the categorical counterpart of
  // q62. ONE keyed agg collapses the stream to the ≤|types|·7-row
  // contingency table (the only data-proportional step); marginals and
  // expected counts are window sums over that bounded table, and the
  // statistic/dof fold is a scalar aggregation of it.
  val q63_chisq: Q = (s, d) =>
    chisqReadout(Tables.events(s, d)
      .groupBy(col("event_type"), (dayofweek(to_date(col("ts"))) - 1).as("wd"))
      .agg(count(lit(1)).cast("double").as("o")))

  /** q63's statistic over any (event_type, wd, o) contingency cells.
    * Shared with s50's streaming fold: the cells are exact integer
    * counts widened to double (every count ≪ 2^53), so twin equality
    * is EXACT — the marginal/expected/χ² arithmetic runs on identical
    * operands in an identical tree on both paths.
    */
  private[graft] def chisqReadout(obs: DataFrame): DataFrame =
    obs
      .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
      .withColumn("ct", sum("o").over(Window.partitionBy("wd")))
      .withColumn("n", sum("o").over(Window.partitionBy()))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"),
        ((countDistinct("event_type") - 1) * (countDistinct("wd") - 1))
          .cast("int").as("dof"),
        sum("o").cast("long").as("n"))

  // q64: ORDINARY-LEAST-SQUARES simple regression of extended price on
  // quantity — slope/intercept/R², entirely via the native streaming
  // regr_* moment aggregates (one pass, map-side partials; at 100 TB
  // only the six moments move).
  val q64_linreg: Q = (s, d) =>
    Tables.lineitem(s, d).agg(
      round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
      round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
        .as("intercept"),
      round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
      expr("regr_count(l_extendedprice, l_quantity)").as("n"))

  /** q65's smoothing factor (shared with the oracle and s26). NOT a
    * terminating decimal on purpose: with α=0.3 the EWMA of integer
    * counts is itself an exact finite decimal, so landing EXACTLY on a
    * 4dp half-way boundary is structural (measured at sf1: day 6 =
    * 33372.27415 precisely, and fp noise decided the rounding side
    * differently per engine). An irrational-expansion α makes exact
    * boundary landings measure-zero.
    */
  val EwmaAlpha = 1.0 / 3

  // q65: EXPONENTIALLY-WEIGHTED MOVING AVERAGE over the daily event
  // volume (the alerting baseline s18's z-score would track) — the
  // recursion s_i = α·x_i + (1−α)·s_{i−1} unrolled to its closed form
  // Σ w(i,j)·x_j so it stays declarative: the raw stream collapses in
  // ONE keyed agg (q55's discipline), and the triangular weighted join
  // runs on the bounded ~30-row day axis (O(days²) of scalar math, not
  // a data-proportional cost).
  val q65_ewma: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("rn", row_number().over(Window.orderBy("day")) - 1)
    val b = daily.select(col("rn").as("brn"), col("n").as("bn"))
    daily.join(b, col("brn") <= col("rn"))
      .groupBy(col("day"), col("n"))
      .agg(round(sum(
        pow(lit(1 - EwmaAlpha), col("rn") - col("brn")) *
          when(col("brn") === 0, 1.0).otherwise(EwmaAlpha) * col("bn")), 4)
        .as("ewma"))
      .select(col("day"), col("n").cast("long").as("n_events"), col("ewma"))
      .orderBy("day")
  }

  /** q66/q99's running revenue share under (rc desc, tieCol asc) order:
    * [[prefixSums]] over integer cents with `rc` as both the order and
    * the summed column; cum = rc_cum/rc_tot is the exact integer
    * running sum divided once by the long total (the long/long column
    * division promotes both to double). Adds `rc_cum`, `rc_tot` and
    * `cum`.
    */
  private[graft] def cumShareDesc(in: DataFrame, tieCol: String): DataFrame =
    prefixSums(in, "rc", Seq("rc"), desc = true, tie = Some(tieCol))
      .withColumn("cum", col("rc_cum") / col("rc_tot"))

  /** Exact 1-based descending rank (row_number under (v desc, tieCol
    * asc) order), optionally per `partCols` group, WITHOUT a
    * single-partition rank window over a data-proportional axis: the
    * [[prefixSums]] running count of a constant 1. Callers should
    * persist `in`. Adds `rk` (long) and `rk_tot`, the row count of the
    * row's partCols group.
    */
  private[graft] def bucketRank(in: DataFrame, v: String, tieCol: String,
      partCols: Seq[String] = Nil): DataFrame =
    prefixSums(in.withColumn("rk", lit(1L)), v, Seq("rk"), partCols,
        desc = true, tie = Some(tieCol))
      .drop("rk").withColumnRenamed("rk_cum", "rk")

  // q66: ABC ANALYSIS — the cumulative-share Pareto classification
  // (A = first 80% of revenue, B = next 15%, C = tail) every inventory/
  // curriculum prioritization runs. Revenue per part in INTEGER CENTS
  // (x17's exactness discipline — a float running sum would flip class
  // boundaries between engines), ONE data-proportional agg from
  // lineitem to the part axis; the running share rides cumShareDesc's
  // bucket-partitioned prefix (no global window over the part axis —
  // the part dimension scales with SF), and the final rollup is ≤3
  // rows.
  /** q66's classification readout over a per-part integer-cents
    * revenue panel (l_partkey, rc): ABC classes via cumShareDesc +
    * the ≤3-row rollup. Shared by the batch lane and s44's streaming
    * twin (which folds the SAME panel at the ingest edge — twin
    * equality is structural, not re-derived). Caller persists `rev`
    * (the bucket stats pass is one extra action over it).
    */
  private[graft] def abcReadout(rev: DataFrame): DataFrame =
    cumShareDesc(rev, "l_partkey")
      .withColumn("abc_class",
        when(col("cum") <= 0.8, "A").when(col("cum") <= 0.95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum("rc") / 100.0, 2).as("revenue"),
        round(sum("rc") / first(col("rc_tot")), 4).as("share"))
      .orderBy("abc_class")

  val q66_abc_analysis: Q = (s, d) =>
    // plan-only build: persist() is LAZY — no job runs here. The cache
    // is what dedupes the panel across the stats/window/offset branches:
    // per-branch column pruning makes their exchanges canonically
    // DIFFERENT, so exchange reuse alone recomputes the lineitem
    // reduction per branch (the q99 sf10 2× found at r13). The harness
    // clears the cache between lanes/runs (Verify/Bench), so nothing
    // leaks across a 375-lane run.
    abcReadout(Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
        .as("rc"))
      .persist())

  // q67: PERIOD-OVER-PERIOD CONTRIBUTION ANALYSIS — "revenue moved X;
  // which segments moved it?": the BI decomposition behind every
  // why-did-the-metric-change dashboard. Revenue per (month, segment)
  // in INTEGER CENTS (q66's discipline) via ONE agg over the
  // broadcast-joined fact; the two compared months pivot out of the
  // bounded segment axis with conditional sums, delta and
  // share-of-total-delta as window math on ≤|segments| rows.
  val q67_contribution: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1997-03-01"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("rc"))
    contributionReadout(rev)
  }

  /** q67's delta/share readout over any (c_mktsegment, m, rc) cell
    * frame — rc in exact integer cents (commutative fold), so s61's
    * streaming state feeds an identical panel. The share window rides
    * the bounded ≤5-segment axis.
    */
  private[graft] def contributionReadout(rev: DataFrame): DataFrame = {
    rev.groupBy(col("c_mktsegment"))
      .agg(
        (sum(when(col("m") === "1997-01", col("rc")).otherwise(0L)) / 100.0)
          .as("rev_prev"),
        (sum(when(col("m") === "1997-02", col("rc")).otherwise(0L)) / 100.0)
          .as("rev_curr"))
      .withColumn("delta", round(col("rev_curr") - col("rev_prev"), 2))
      .withColumn("share_of_delta",
        round(col("delta") / sum(col("delta")).over(Window.partitionBy()), 4))
      .select(col("c_mktsegment"), round(col("rev_prev"), 2).as("rev_prev"),
        round(col("rev_curr"), 2).as("rev_curr"), col("delta"),
        col("share_of_delta"))
      .orderBy("c_mktsegment")
  }

  /** q68's fixed synchronous iteration count (spec recomputes the same
    * schedule; LPA without a fixed schedule is nondeterministic).
    */
  val LpaIters = 5

  // q68 (rows-only; spec: exact driver recompute of the same
  // synchronous schedule): LABEL PROPAGATION community detection over
  // q54's co-purchase graph — the cheap communities pass (PageRank
  // ranks, triangles measure closure, THIS partitions): labels start as
  // node ids; each synchronous round every node adopts its neighbors'
  // most frequent label, ties to the smallest (the damping that makes
  // the schedule deterministic). Per round: one join of the edge list
  // against the label table (both hash-partitioned on the node key —
  // the same shuffle every round), a (node, label) vote count, and an
  // argmax; localCheckpoint truncates the growing lineage exactly as
  // q50's PageRank loop does. Output: community-structure summary +
  // MODULARITY (the quality score community detection is judged by).
  val q68_label_propagation: Q = (s, d) => {
    val ob = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val und = ob.as("a")
      .join(ob.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select("u", "v")
      .persist()
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("n")).distinct()
      .withColumn("lbl", col("n")).localCheckpoint(true)
    for (_ <- 1 to LpaIters)
      labels = edges
        .join(labels.select(col("n").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl")))
          .getField("lbl").as("lbl"))
        .withColumnRenamed("src", "n")
        .localCheckpoint(true)
    // modularity Q = Σ_c e_c/m − (d_c/2m)² over the undirected graph
    val lu = labels.select(col("n").as("u"), col("lbl").as("lu"))
    val lv = labels.select(col("n").as("v"), col("lbl").as("lv"))
    val m = und.count().toDouble
    val within = und.join(lu, Seq("u")).join(lv, Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("ec"))
    val degs = edges.groupBy(col("src").as("n")).agg(count(lit(1)).as("deg"))
      .join(labels, Seq("n"))
      .groupBy(col("lbl")).agg(sum("deg").as("dc"))
    val comm = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
    val out = comm.join(within, Seq("lbl"), "left")
      .join(degs, Seq("lbl"))
      .agg(sum("sz").as("n_nodes"), count(lit(1)).as("n_communities"),
        max("sz").as("largest"),
        // m is a driver-side constant; an edgeless graph has undefined
        // modularity (guarded here so the per-row divide never sees 0)
        (if (m > 0)
          round(sum(coalesce(col("ec"), lit(0L)) / m -
            pow(col("dc") / (2 * m), 2)), 6)
        else lit(null).cast("double")).as("modularity"))
    und.unpersist(); edges.unpersist()
    out
  }

  // q69: STL-RESIDUAL ANOMALY DETECTION — the composed alerting lane
  // (q57's decomposition strips trend+weekday seasonality so a Monday
  // peak isn't an "anomaly"; q53's robust MAD threshold on the residual
  // flags what's left): anomaly ⇔ |residual − median| > 3·1.4826·MAD.
  // Every step after q57's single keyed agg runs on the bounded day
  // axis; the exact-percentile medians are two aggregations of ≤30
  // rows and broadcast back.
  val q69_stl_anomaly: Q = (s, d) => {
    val res = q57_seasonal_decompose(s, d).filter(col("residual").isNotNull)
    val med = res.agg(expr("percentile(residual, 0.5)").as("med"))
    val mad = res.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(residual - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
    res.crossJoin(broadcast(mad))
      .select(col("day"), col("n_events"), col("residual"),
        (abs(col("residual") - col("med")) > lit(3 * 1.4826) * col("mad"))
          .cast("int").as("is_anomaly"))
      .orderBy("day")
  }

  // q70: EXACT ROLLING MEDIAN over the daily series (the robust
  // counterpart of q65's EWMA — one outlier day cannot drag it): the
  // raw stream collapses in ONE keyed agg, then the 7-day trailing
  // median runs on the bounded day axis as an in-row sorted-frame pick
  // (collect_list window + array_sort + the same middle-interpolation
  // DuckDB's median uses — no per-row shuffle, no UDF).
  val q70_rolling_median: Q = (s, d) => {
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    val sorted = array_sort(collect_list(col("n")).over(w))
    val sz = size(sorted)
    val med = (element_at(sorted, ((sz + 1) / 2).cast("int")) +
      element_at(sorted, (sz / 2 + 1).cast("int"))) / 2.0
    Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("med7", round(med, 2))
      .select(col("day"), col("n").cast("long").as("n_events"), col("med7"))
      .orderBy("day")
  }

  // q71: BOLLINGER BANDS over the daily series — q70's dispersion
  // companion (rolling mean ± 2·rolling sample-stddev, the volatility
  // envelope): one keyed agg to the day axis, trailing-frame mean and
  // stddev_samp windows on it, band breach flagged. Frames under 2
  // observations have no sample stddev — both engines emit NULL bands
  // there (day 1 only, since the frame is trailing).
  val q71_bollinger: Q = (s, d) => {
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("ma", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .select(col("day"), col("n").cast("long").as("n_events"),
        round(col("ma"), 4).as("ma7"),
        round(col("ma") + lit(2) * col("sd"), 4).as("upper"),
        round(col("ma") - lit(2) * col("sd"), 4).as("lower"),
        when(col("sd").isNotNull,
          (col("n") > col("ma") + lit(2) * col("sd") ||
            col("n") < col("ma") - lit(2) * col("sd")).cast("int")).as("breach"))
      .orderBy("day")
  }

  // q72: NEW vs RETURNING daily actives (the growth-accounting split
  // every product dashboard leads with): first-seen day per user is ONE
  // keyed agg; the daily-active frame joins it on user_id (both sides
  // hash-partitioned on the same key) and the rollup reuses the day
  // grouping. Two data-proportional shuffles total.
  val q72_new_returning: Q = (s, d) => {
    val act = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = act.groupBy(col("user_id")).agg(min("day").as("first_day"))
    act.join(first, Seq("user_id"))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_active"),
        sum((col("day") === col("first_day")).cast("long")).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .orderBy("day")
  }

  /** q73's smoothing factors — both non-terminating expansions (q65's
    * boundary lesson applies doubly to a two-recursion model).
    */
  val HoltAlpha = 1.0 / 3
  val HoltBeta = 1.0 / 6

  // q73: HOLT DOUBLE-EXPONENTIAL SMOOTHING (level + trend — the
  // one-step forecaster q65's EWMA can't be when the series drifts):
  // the stream collapses in ONE keyed agg; the coupled two-term
  // recursion then runs over the BOUNDED day axis on the driver (≤366
  // rows — the same bounded-collect discipline as the IVF centroids;
  // there is no clean declarative closed form for coupled recursions,
  // and the oracle proves the semantics via DuckDB's WITH RECURSIVE,
  // which executes the IDENTICAL sequential fp path — so the hash
  // match is exact, not rounding-lucky).
  val q73_holt: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def r4(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    var level = daily(0)._2.toDouble
    var trend = daily(1)._2.toDouble - daily(0)._2.toDouble
    val out = daily.zipWithIndex.map { case ((day, n), i) =>
      if (i > 0) {
        val l1 = HoltAlpha * n + (1 - HoltAlpha) * (level + trend)
        trend = HoltBeta * (l1 - level) + (1 - HoltBeta) * trend
        level = l1
      }
      (day, n, r4(level), r4(trend), r4(level + trend))
    }
    out.toSeq.toDF("day", "n_events", "level", "trend", "forecast_next")
      .orderBy("day")
  }

  /** q74's path truncation depth (shared with the oracle). */
  val PathDepth = 5

  // q74: TOP SESSION PATHS — the Sankey/user-flow source data ("what
  // do the first five steps of a session look like?"): q56's
  // gaps-and-islands sessionizer (same single user_id exchange feeding
  // two chained windows), per-session path = the first 5 events
  // concatenated in (us, event_id) order — assembled as an in-row
  // array_sort over (rn, type) structs, so no per-session re-shuffle —
  // then ONE path rollup and a TakeOrdered top-20.
  val q74_top_paths: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull || col("us") - col("prev") > SessionGapUs).cast("int"))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val first = sess
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("user_id"), col("sid"))
        .orderBy(col("us"), col("event_id"))))
      .filter(col("rn") <= PathDepth)
    first.groupBy(col("user_id"), col("sid"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type").as("t")))),
        x => x.getField("t"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  // q75: PEAK CONCURRENCY per day (capacity planning: "how many
  // sessions were open at once?") — the classic sweep-line: sessions
  // (q56's gaps-and-islands engine) split at day boundaries, ±1 events
  // at segment start/end+1, running sum per day, max per day. The
  // sweep windows are partitioned BY DAY (the split exists exactly so
  // the global-order sort never happens — each day sorts
  // independently); ties at one instant resolve by (t, delta) with the
  // default RANGE frame aggregating peers identically on both engines.
  val q75_peak_concurrency: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull || col("us") - col("prev") > SessionGapUs).cast("int"))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min("us").as("st"), max("us").as("en"))
    val DayUs = 86400000000L
    val segs = sess
      .select(col("st"), col("en"), explode(sequence(
        (col("st") / DayUs).cast("long"),
        (col("en") / DayUs).cast("long"))).as("dayn"))
      .select(col("dayn"),
        greatest(col("st"), col("dayn") * DayUs).as("seg_st"),
        least(col("en"), (col("dayn") + 1) * DayUs - 1).as("seg_en"))
    val evts = segs.select(col("dayn"), col("seg_st").as("t"), lit(1).as("delta"))
      .unionAll(segs.select(col("dayn"), (col("seg_en") + 1).as("t"),
        lit(-1).as("delta")))
    evts
      .withColumn("run", sum(col("delta")).over(
        Window.partitionBy("dayn").orderBy(col("t"), col("delta"))))
      .groupBy(col("dayn"))
      .agg(max("run").cast("long").as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_segments"))
      .select(date_format(to_date(
        (col("dayn") * DayUs / 1000000).cast("timestamp")), "yyyy-MM-dd")
        .as("day"), col("n_segments"), col("peak_concurrent"))
      .orderBy("day")
  }

  // q76: BENFORD FIRST-DIGIT AUDIT — the classic fraud/data-quality
  // screen over order totals. The first significant digit is extracted
  // in the exact integer domain (cents-scaled BIGINT → leading char of
  // its decimal string — no log10 float hazard near powers of ten where
  // floor(log10(1000.0)) can land on 2.999…), ONE keyed agg collapses
  // the corpus to the 9-digit axis, then observed share vs Benford's
  // log10(1+1/d) and the per-digit χ² contribution — bounded-axis math
  // only after the first agg.
  val q76_benford: Q = (s, d) => {
    val digits = Tables.orders(s, d)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").cast("double").as("total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("bp", log10(lit(1.0) + lit(1.0) / col("digit")))
      .select(col("digit"), col("n"),
        round(col("n") / col("total"), 4).as("share"),
        round(col("bp"), 4).as("benford_p"),
        round(pow(col("n") - col("total") * col("bp"), 2) /
          (col("total") * col("bp")), 4).as("chi2_term"))
      .orderBy("digit")
  }

  // q77: YEAR-OVER-YEAR / MONTH-OVER-MONTH growth — the board-deck
  // lane: monthly revenue collapses in ONE keyed agg (the only
  // data-proportional step), growth ratios are computed from the
  // ROUNDED monthly revenue (2dp doubles both engines agree on, so the
  // ratio is deterministic regardless of parallel-sum order), lag(1) =
  // MoM and lag(12) = YoY on the bounded month axis.
  val q77_yoy_growth: Q = (s, d) =>
    yoyReadout(Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("rc"),
        count(lit(1)).as("n_orders")))

  /** q77's growth readout over any (month, rc, n_orders) monthly panel
    * — rc in EXACT INTEGER CENTS (the q91 discipline: the per-month
    * fold is a commutative long sum, so s60 streams it and feeds an
    * IDENTICAL panel; revenue = rc/100 rounds to the same 2dp the
    * double formulation produced, growth ratios derive from it).
    */
  private[graft] def yoyReadout(monthly: DataFrame): DataFrame = {
    val w = Window.orderBy("month")
    monthly
      .withColumn("revenue", round(col("rc") / 100.0, 2))
      .withColumn("pm", lag(col("revenue"), 1).over(w))
      .withColumn("py", lag(col("revenue"), 12).over(w))
      .select(col("month"), col("n_orders"), col("revenue"),
        round((col("revenue") - col("pm")) / col("pm"), 4).as("mom"),
        round((col("revenue") - col("py")) / col("py"), 4).as("yoy"))
      .orderBy("month")
  }

  /** Distinct-value cells a single rank bucket should carry — the knob
    * that makes the exact-rank machinery's bucket count a DETERMINISTIC
    * FUNCTION OF THE AXIS SIZE (m11's collateBuckets discipline): window
    * parallelism grows with the corpus instead of a compile-time
    * constant (the round-10 finding on the old fixed 64).
    */
  val RankBucketCells = 1L << 16

  /** Rank-bucket count for a value axis with ~nDistinct distinct values:
    * floor 64 (the old constant — small-SF plans keep their shape),
    * growing linearly with the cell count, capped at 2^14 so the
    * cross-bucket offset axis a single partition prefixes stays ≤16k
    * rows at ANY corpus size. Beyond the cap per-bucket cells grow
    * again — at 10^12 distinct values that is ~6e7 cells per bucket,
    * still a comfortable single-partition sort.
    */
  def rankBuckets(nDistinct: Long): Int =
    math.max(64L, math.min(1L << 14, nDistinct / RankBucketCells + 1)).toInt

  /** Value→bucket assignment for the exact-rank primitive
    * [[prefixSums]]:
    * ONE stats pass collects (min, max, approx distinct count) of `v`,
    * sizes the bucket count from the cell count (rankBuckets), and
    * assigns bucket = equi-width cell over v — in LOG domain when the
    * axis is positive with a large multiplicative spread (revenue-like
    * heavy tails put most DISTINCT values in the low decades; log
    * spacing keeps per-bucket cell counts balanced where linear spacing
    * would pile them into bucket 0 — the round-10 value-skew finding).
    * The bucket is a monotone non-decreasing PURE function of v (equal
    * values always co-bucket), so any boundary choice yields identical
    * results — only parallelism changes; approx_count_distinct's
    * sketch error is therefore not load-bearing. Adds `bucket`.
    *
    * The stats pass is LAZY: it rides the plan as a broadcast 1-row
    * agg subplan (crossJoin(broadcast)), and the rankBuckets sizing
    * formula is expressed in Column math over the broadcast `nd` —
    * no plan literal is actually needed, because every downstream
    * consumer partitions/joins on the `bucket` COLUMN, never on the
    * bucket count. Building a rank-lane DataFrame therefore runs no
    * job (plan-cache/explain-safe), and Spark's ReuseExchange dedupes
    * the stats broadcast when the bucketed frame is used on several
    * branches of one action. Null `v` routes to bucket 0 explicitly,
    * consistent with Spark's ASC NULLS FIRST window ordering (null
    * sorts below every value globally).
    */
  private[graft] def rankBucketed(in: DataFrame, v: String): DataFrame = {
    val stats = in.agg(min(col(v).cast("double")).as("__rb_mn"),
      max(col(v).cast("double")).as("__rb_mx"),
      approx_count_distinct(col(v)).as("__rb_nd"))
    // rankBuckets(nd) in Column math: nd ≥ 0, so the double-division
    // cast truncation IS floor; beyond ~2^30 distinct the cap wins
    // before double precision matters
    val b = greatest(lit(64L), least(lit(1L << 14),
      (col("__rb_nd") / lit(RankBucketCells)).cast("long") + lit(1L)))
    val useLog = col("__rb_mn") > 0 && col("__rb_mx") / col("__rb_mn") > lit(1e3)
    val fmn = when(useLog, log(col("__rb_mn"))).otherwise(col("__rb_mn"))
    val fmx = when(useLog, log(col("__rb_mx"))).otherwise(col("__rb_mx"))
    val dv = col(v).cast("double")
    val fv = when(useLog, log(dv)).otherwise(dv)
    val bucket =
      when(col("__rb_mn").isNull || col(v).isNull || !(fmx > fmn), lit(0L))
        .otherwise(least(greatest(
          floor((fv - fmn) / ((fmx - fmn) / b)), lit(0L)), b - lit(1L)))
    in.crossJoin(broadcast(stats))
      .withColumn("bucket", bucket)
      .drop("__rb_mn", "__rb_mx", "__rb_nd")
  }

  /** Exact running sums WITHOUT a single-partition window over a
    * data-proportional axis — the one exact-rank mechanism behind
    * exactQuantiles, midranks, the AUC/Gini/KS readouts and the
    * cumulative-share/rank lanes. For each column c of `sums` adds
    * `c_cum`, the inclusive running sum under (partCols; v ascending,
    * or descending when `desc`, then `tie` ascending), and `c_tot`, the
    * total per partCols group. Rows co-bucket by v (rankBucketed: equal
    * values always share a bucket, so the order never straddles a
    * boundary); the within-bucket running sum runs per (partCols,
    * bucket) and the bucket totals ride the SAME window exchange (a
    * whole-partition frame) — a groupBy straight off the bucketed
    * frame would put a partial agg below a second exchange (the q99
    * sf10 2× found at r13). The cross-bucket offset is a prefix over
    * the bounded |groups|×B bucket axis, broadcast back; offset +
    * within is the exact sum the global window would produce. Null v
    * sorts first ascending and last descending (Spark's default null
    * ordering); rows tied on (v, tie) take distinct running sums in
    * arbitrary order, as under a global rows frame. The bucket stats,
    * window and offset branches each read `in`. A filter that keeps
    * every row (at least 0 non-null fields) but references every column
    * stops Spark pruning them to different column sets, so all three
    * read `in` identically and share ONE exchange beneath it (a persist
    * of the value cells was measured slower, and a typed identity map
    * pays a row conversion).
    */
  private[graft] def prefixSums(in: DataFrame, v: String, sums: Seq[String],
      partCols: Seq[String] = Nil, desc: Boolean = false,
      tie: Option[String] = None): DataFrame = {
    val whole = in.na.drop(0, in.columns.toSeq)
    val pc = partCols.map(col)
    def dir(c: String): Column = if (desc) col(c).desc else col(c).asc
    val cell = Window.partitionBy(pc :+ col("bucket"): _*)
    val run = cell.orderBy(dir(v) +: tie.map(col).toSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sums.foldLeft(rankBucketed(whole, v)) { (df, c) =>
      df.withColumn(s"__ps_in_$c", sum(c).over(run))
        .withColumn(s"__ps_b_$c", sum(c).over(cell))
    }
    // all rows of a bucket carry the same total — first() is exact
    val firsts = sums.map(c => first(s"__ps_b_$c").as(s"__ps_b_$c"))
    val group = Window.partitionBy(pc: _*)
    val before = group.orderBy(dir("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = sums.foldLeft(within.groupBy(pc :+ col("bucket"): _*)
        .agg(firsts.head, firsts.tail: _*)) { (df, c) =>
      df.withColumn(s"__ps_off_$c",
          coalesce(sum(s"__ps_b_$c").over(before), lit(0L)))
        .withColumn(s"${c}_tot", sum(s"__ps_b_$c").over(group))
    }
    val joined = within.drop(sums.map(c => s"__ps_b_$c"): _*)
      .join(broadcast(off.drop(sums.map(c => s"__ps_b_$c"): _*)),
        partCols :+ "bucket")
    sums.foldLeft(joined) { (df, c) =>
      df.withColumn(s"${c}_cum", col(s"__ps_off_$c") + col(s"__ps_in_$c"))
        .drop(s"__ps_off_$c", s"__ps_in_$c")
    }.drop("bucket")
  }

  // q78: EXACT ROC AUC, distributed — the Mann-Whitney statistic
  // WITHOUT a global sort: AUC = Σ_s n⁺_s·(N⁻_{<s} + ½n⁻_s) / (n⁺n⁻)
  // over DISTINCT scores s (ties get the standard ½ credit). Scores
  // collapse to (score) cells in one keyed agg; the cumulative
  // negatives ride prefixSums (bucket-partitioned windows plus a prefix
  // on the bounded B-row bucket axis). No single-partition pass ever
  // sees the corpus — the 100 TB shape for an exact rank statistic.
  // The U terms are integers-plus-halves (exactly representable
  // doubles), so the sum is order-independent.
  val q78_auc: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("value").as("sc"),
        (col("event_type") === "purchase").cast("long").as("y"))
    val cells = ev.groupBy(col("sc"))
      .agg(sum("y").as("np"), (count(lit(1)) - sum("y")).as("nn"))
    // negatives strictly below a score: the exclusive count nn_cum − nn
    prefixSums(cells, "sc", Seq("nn"))
      .agg(
        sum(col("np") * (col("nn_cum") - col("nn") +
          col("nn") / lit(2.0))).as("u"),
        sum("np").as("n_pos"), sum("nn").as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        // the pair count n⁺·n⁻ overflows long past ~3e9 rows per class:
        // compute it in double (and guard the empty-class corpus)
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u") / (col("n_pos").cast("double") *
            col("n_neg").cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("auc"))
  }

  /** q79's censoring horizon: users last seen within this many days of
    * corpus end are censored (still alive), not churned.
    */
  val SurvivalCensorDays = 7

  // q79: KAPLAN-MEIER RETENTION CURVE — per-user lifetimes (first→last
  // active day, ONE keyed agg), right-censored at the corpus edge, then
  // the product-limit estimator on the bounded duration axis: at-risk
  // counts via a prefix sum, S(t) = Π(1 − d_t/r_t) as exp∘Σln with an
  // explicit absorbing-zero guard (a duration where every at-risk user
  // churns pins S at 0; ln(0) never evaluates on either engine). All
  // post-agg math runs on ≤ |corpus days| rows.
  val q79_survival: Q = (s, d) => {
    val act = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"))
    val mx = act.agg(max("last_day").as("mxd"))
    val byDur = act.crossJoin(broadcast(mx))
      .select(datediff(col("last_day"), col("first_day")).cast("long").as("t_days"),
        (col("last_day") < date_sub(col("mxd"), SurvivalCensorDays - 1))
          .cast("long").as("death"))
      .groupBy("t_days")
      .agg(sum("death").as("deaths"), count(lit(1)).as("n_ending"))
    val w = Window.orderBy("t_days")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byDur.agg(sum("n_ending").as("total"))
    byDur.crossJoin(broadcast(tot))
      .withColumn("at_risk", col("total") -
        coalesce(sum("n_ending").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("zeroed", max((col("deaths") === col("at_risk")).cast("int")).over(run))
      .withColumn("survival",
        when(col("zeroed") === 1, lit(0.0)).otherwise(
          round(exp(sum(log(lit(1.0) - col("deaths") / col("at_risk"))).over(run)), 4)))
      .select(col("t_days"), col("n_ending"), col("deaths"), col("at_risk"),
        col("survival"))
      .orderBy("t_days")
  }

  // q80: PRICE ELASTICITY per brand — q64's regression GROUPED: the
  // log-log slope of quantity on unit price, one broadcast dim join +
  // one keyed agg (regr_* are algebraic aggregates with map-side
  // partials — no window, no second shuffle). The canonical "does
  // demand respond to price" merchandising query, and the shape any
  // per-group ML-feature fit takes at 100 TB.
  val q80_price_elasticity: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        log(col("l_extendedprice") / col("l_quantity")).as("lp"),
        log(col("l_quantity")).as("lq"))
    li.groupBy("p_brand")
      .agg(expr("regr_count(lq, lp)").as("n"),
        round(expr("regr_slope(lq, lp)"), 4).as("elasticity"),
        round(expr("regr_r2(lq, lp)"), 4).as("r2"))
      .orderBy("p_brand")
  }

  // q81: ONE-WAY ANOVA across market segments on customer spend — does
  // segment membership explain spend variance? Per-customer spend is
  // one keyed agg; per-segment (n, Σ, Σ²) a second (≤|segments| rows);
  // F = (SSB/(k−1))/(SSW/(N−k)) and η² assemble on the bounded segment
  // axis from those algebraic sums — the grouped-inference pattern
  // (q62 is its 2-sample special case) that needs no window and no
  // second pass over the data.
  val q81_anova: Q = (s, d) => {
    // two-pass centered form on purpose: the textbook Σx² − (Σx)²/n
    // shortcut cancels 1e15-scale sums down to 1e10-scale SSB, leaving
    // parallel-sum noise ABOVE the rounding precision; centering each
    // term first keeps every sum well-conditioned, and the outputs are
    // scale-free ratios (F, η²) so 4dp/6dp rounding is deterministic
    val spend = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"), col("c_mktsegment"))
      .agg(sum("o_totalprice").as("spend"))
    // the spend panel ends at a shuffle exchange, so ReuseExchange
    // shares it across both passes — plan-only build, no cache
    val means = spend.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("double").as("ng"), avg("spend").as("mg"))
    val grand = spend.agg(avg("spend").as("m"), count(lit(1)).as("n"))
    val ssw = spend.join(broadcast(means), Seq("c_mktsegment"))
      .agg(sum(pow(col("spend") - col("mg"), 2)).as("ssw"))
    val ssb = means.crossJoin(broadcast(grand))
      .agg(sum(col("ng") * pow(col("mg") - col("m"), 2)).as("ssb"),
        count(lit(1)).as("k"), first("n").as("n"))
    ssb.crossJoin(broadcast(ssw))
      .select(col("k"), col("n"),
        round((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 4).as("f_stat"),
        round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
  }

  // q82: INTER-PURCHASE CYCLE — the replenishment-cadence histogram:
  // per-customer gaps between consecutive orders (a customer-keyed
  // window — the partitioned kind that scales; no global sort), then
  // the gap distribution collapses to the bounded week axis. The two
  // data-proportional steps are the window's one shuffle and the
  // ≤|weeks| rollup.
  val q82_interpurchase: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(s, d)
      .withColumn("prev", lag(to_date(col("o_orderdate")), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((datediff(to_date(col("o_orderdate")), col("prev")) / 7)
        .cast("long").as("gap_weeks"))
    val tot = gaps.agg(count(lit(1)).cast("double").as("total"))
    gaps.groupBy("gap_weeks").agg(count(lit(1)).as("n_gaps"))
      .crossJoin(broadcast(tot))
      .select(col("gap_weeks"), col("n_gaps"),
        round(col("n_gaps") / col("total"), 4).as("pct"))
      .orderBy("gap_weeks")
  }

  // q83: FORECAST BACKTEST — scores the naive (yesterday) and
  // seasonal-naive (same weekday last week) one-step forecasts over the
  // daily series: ONE keyed agg collapses the corpus to the day axis,
  // lag(1)/lag(7) produce the forecasts, and MAE/RMSE/MAPE roll up per
  // model on days where both are defined (so the two models are scored
  // on the SAME support — the honest comparison). The baseline every
  // q73-style model must beat.
  val q83_forecast_eval: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.orderBy("day")
    val f = daily
      .withColumn("naive", lag(col("n"), 1).over(w))
      .withColumn("snaive", lag(col("n"), 7).over(w))
      .filter(col("naive").isNotNull && col("snaive").isNotNull)
    Seq(("naive", col("naive")), ("snaive7", col("snaive"))).map { case (m, fc) =>
      f.agg(count(lit(1)).as("n_days"),
        round(avg(abs(col("n") - fc)), 4).as("mae"),
        round(sqrt(avg(pow(col("n") - fc, 2))), 4).as("rmse"),
        round(avg(abs(col("n") - fc) / col("n")), 6).as("mape"))
        .select(lit(m).as("model"), col("n_days"), col("mae"), col("rmse"),
          col("mape"))
    }.reduce(_ unionAll _).orderBy("model")
  }

  // q84: TIME-TO-CONVERT — the funnel-latency profile (q44 counts who
  // converts; this measures HOW LONG the view→purchase hop takes):
  // first view per user in one keyed agg, first purchase AFTER it via
  // a co-partitioned join + second agg on the same user key (Catalyst
  // reuses the exchange), then the delay distribution collapses to one
  // bounded profile row. The four delay quantiles ride exactQuantiles
  // (r16 optimization): the former four exact percentile() calls each
  // buffered the whole user-axis delay set in one merge task — q37's
  // funnel, ×4; one bounded rank pass now yields all four exactly, and
  // the documented exact→approx swap is no longer needed here.
  val q84_time_to_convert: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("fv"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us"))
    // condition INSIDE the left join: a user whose purchases all precede
    // the first view must survive as never-converted (null delay)
    val conv = fv.join(p, col("pu") === col("user_id") && col("us") > col("fv"), "left")
      .groupBy(col("user_id"), col("fv"))
      .agg(min("us").as("fp"))
      .select(col("user_id"),
        ((col("fp") - col("fv")) / lit(3600000000.0)).as("delay_h"))
    val qtl = exactQuantiles(conv, "delay_h", Seq(0.25, 0.5, 0.75, 0.9))
    conv.agg(count(lit(1)).as("n_viewers"),
        count(col("delay_h")).as("n_converted"),
        round(count(col("delay_h")) / count(lit(1)).cast("double"), 4).as("cvr"))
      .crossJoin(broadcast(qtl))
      .select(col("n_viewers"), col("n_converted"), col("cvr"),
        round(col("qs").getItem(0), 2).as("p25_h"),
        round(col("qs").getItem(1), 2).as("p50_h"),
        round(col("qs").getItem(2), 2).as("p75_h"),
        round(col("qs").getItem(3), 2).as("p90_h"))
  }


  // q85: GINI COEFFICIENT of customer spend — revenue-concentration
  // inequality (q66's ABC tells you the top bands; Gini is the single
  // scale-free number). Exact rank-sum WITHOUT a global sort, the q78
  // machinery generalized: (value) cells from one keyed agg, exclusive
  // counts via prefixSums. A value v with count c and
  // p predecessors contributes v·(c·p + c(c+1)/2) to Σ rank·x (ties are
  // permutation-invariant, so cell order within equal values cannot
  // matter). Total spend reports in EXACT integer cents (a 2dp-rounded
  // double sum at 1e10 scale would be nondeterministic under parallel
  // summation order); Gini itself is an O(1) ratio, 6dp-safe.
  /** q85's Gini readout over a per-customer single-column `cents`
    * spend panel (exact long) — the rank·x sum via the bucket
    * machinery, one O(1) ratio out. Shared by the batch lane and
    * s46's streaming twin (which folds the SAME panel at the ingest
    * edge — twin equality is exact: the panel is an integer fold).
    * The Gini ratio's denominator n·t is computed in DOUBLE: with t
    * an exact bigint cent total, the bigint product n·t passes 2^63
    * at roughly sf1.3 (5.6e18 at sf1) and, ANSI off, would wrap
    * silently; the DuckDB oracle multiplies in double, and srx is
    * already a double sum whose residue the 6dp round absorbs.
    */
  private[graft] def giniReadout(spend: DataFrame): DataFrame = {
    val cells = spend.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    prefixSums(cells, "cents", Seq("c"))
      .agg(
        // rank factor in double: c·(c_cum−c) is a bigint product
        // bounded by n² (wraps past n ≈ 3e9); srx is a double sum
        // anyway, so the cast costs nothing and removes the cliff
        sum(col("cents") * (col("c").cast("double") *
            (col("c_cum") - col("c")) +
          col("c") * (col("c") + 1) / lit(2.0))).as("srx"),
        sum("c").as("n"), sum(col("cents") * col("c")).as("t"))
      .select(col("n").as("n_customers"), col("t").as("total_cents"),
        round(lit(2.0) * col("srx") /
          (col("n").cast("double") * col("t").cast("double")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
  }

  // Rank axis in EXACT INTEGER CENTS (q52/q53/q89's discipline,
  // belt-and-braces here): Gini is scale-invariant and the midrank-cell
  // formula is tie-grouping-invariant, so ranking cents instead of the
  // double dollar sum changes nothing mathematically while making the
  // value axis bit-deterministic across engines and executor topologies.
  val q85_gini: Q = (s, d) =>
    giniReadout(Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  // q86: THEIL T INDEX of customer spend with BETWEEN/WITHIN-nation
  // decomposition — the inequality number q85's Gini cannot give you:
  // Theil is additively decomposable, so "how much of the concentration
  // is nations being rich/poor vs inequality inside each nation" falls
  // out of the same pass. Per-group sufficient statistics only
  // (n_g, Σx, Σx·ln x): T_g = Σx·ln x/Σx − ln μ_g needs no second scan,
  // and the global terms ride a 25-row broadcast axis. All outputs are
  // scale-free ratios of like-magnitude sums (non-terminating logs →
  // 6dp boundary landings measure-zero under parallel-sum ulp noise).
  val q86_theil: Q = (s, d) =>
    theilReadout(s, d, Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum("o_totalprice").as("x")))

  /** q86's Theil decomposition over a per-customer (o_custkey, x) spend
    * panel — nation join + per-group sufficient statistics
    * (n_g, Σx, Σx·ln x), global terms on the 25-row broadcast axis.
    * Shared by the batch lane and s48's streaming twin: x·ln x is NOT
    * a fold over orders (ln of a sum), so the twin keys state on the
    * CUSTOMER axis and this readout derives the log terms from each
    * customer's FINAL Σx; within-nation re-sum ulps die in the 6dp
    * round (the q85/q89 argument).
    */
  private[graft] def theilReadout(s: SparkSession, d: String,
      spend: DataFrame): DataFrame = {
    val byNation = spend
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")), "o_custkey")
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))), "c_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum("x").as("t"),
        sum(col("x") * log(col("x"))).as("sxl"))
    val global = byNation.agg(sum("t").as("gt"), sum("n_customers").as("gn"))
    byNation.crossJoin(broadcast(global))
      .select(col("n_name"), col("n_customers"),
        round(col("t") / col("gt"), 6).as("share"),
        round(col("sxl") / col("t") - log(col("t") / col("n_customers")), 6)
          .as("theil_within"),
        round((col("t") / col("gt")) *
          log((col("t") / col("n_customers")) / (col("gt") / col("gn"))), 6)
          .as("between_term"))
      .orderBy("n_name")
  }

  // q87: MARKET-CONCENTRATION PROFILE — per customer-nation market, the
  // Herfindahl-Hirschman index and 4-firm concentration ratio of
  // supplier revenue shares. Revenue aggregates once to the
  // (market, supplier) key — the only data-proportional shuffle — then
  // HHI is a share-squared sum per market and CR4 a top-4 rank window
  // PARTITIONED BY MARKET (never global), suppkey tie-break for a
  // deterministic rank; equal-revenue ties can swap rank but not the
  // top-4 revenue SUM, so cr4 is order-noise-proof. Ratios only in the
  // output; the raw double revenue never meets a round().
  val q87_hhi: Q = (s, d) =>
    hhiProfile(marketSupplierRevenue(s, d).groupBy(col("n_name"), col("l_suppkey"))
      .agg(sum("r").as("rev")))

  /** q87's enriched revenue feed: one (n_name, l_suppkey, r) row per
    * lineitem — also the stream s32 plants and folds.
    */
  def marketSupplierRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        "o_orderkey")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")), "o_custkey")
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))), "c_nationkey")
      .select("n_name", "l_suppkey", "r")

  /** q87's concentration math over any (n_name, l_suppkey, rev) frame —
    * shared with s32's state snapshot so twin equality is structural.
    */
  def hhiProfile(rev: DataFrame): DataFrame = {
    val rk = row_number().over(
      Window.partitionBy("n_name").orderBy(col("rev").desc, col("l_suppkey")))
    rev.withColumn("rk", rk)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), sum("rev").as("t"),
        sum(col("rev") * col("rev")).as("ss"),
        sum(when(col("rk") <= 4, col("rev")).otherwise(lit(0.0))).as("top4"))
      .select(col("n_name"), col("n_suppliers"),
        round(col("ss") / (col("t") * col("t")), 6).as("hhi"),
        round(col("top4") / col("t"), 6).as("cr4"))
      .orderBy("n_name")
  }

  // q88: AUTOCORRELATION + LJUNG-BOX PERIODICITY TEST — the detector
  // behind the weekly period q57/q69/q73 ASSUME: sample ACF of the
  // daily revenue series at lags 1..14 plus the cumulative Ljung-Box Q
  // (is the series white noise, and which lag carries the cycle?). One
  // keyed agg collapses orders to the ≤|days| axis; demeaning, the lag
  // self-join (≤366·14 rows), and the Q cumulation are bounded-axis
  // math — the only global windows sit above aggregates, the
  // sanctioned rank-lane shape. ACF values are scale-free ratios.
  val q88_acf: Q = (s, d) =>
    acfReadout(Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("y")))

  /** q88's ACF/Ljung-Box readout over any (day, y) daily panel — y in
    * EXACT INTEGER CENTS (the q91 discipline: the per-day fold is a
    * commutative long sum, which is what lets s58 stream it and feed
    * this readout an IDENTICAL panel). The autocorrelation is a ratio
    * of like-scaled sums, so the cents-vs-dollars unit cancels — the
    * 6dp ACF and 4dp Ljung-Box values are unchanged from the double
    * formulation, and the oracle keeps summing raw doubles.
    */
  private[graft] def acfReadout(dailyCents: DataFrame): DataFrame = {
    val daily = dailyCents
      .withColumn("rn", row_number().over(Window.orderBy("day")))
    val s = daily.sparkSession
    val stats = daily.agg(avg("y").as("mu"), count(lit(1)).as("n"))
    val dm = daily.crossJoin(broadcast(stats))
      .select(col("rn"), (col("y") - col("mu")).as("e"), col("n"))
    val denom = dm.agg(sum(col("e") * col("e")).as("s0"), first("n").as("n"))
    val lagAxis = s.range(1, 15).toDF("lag_k")
    val b = dm.select(col("rn").as("brn"), col("e").as("be"))
    val wq = Window.orderBy("lag_k").rowsBetween(Window.unboundedPreceding, 0)
    dm.crossJoin(broadcast(lagAxis))
      .join(b, col("rn") === col("brn") + col("lag_k"))
      .groupBy("lag_k").agg(sum(col("e") * col("be")).as("sk"))
      .crossJoin(broadcast(denom))
      .withColumn("r", when(col("s0") > 0, col("sk") / col("s0")).otherwise(lit(0.0)))
      .withColumn("q_lb",
        sum(col("r") * col("r") / (col("n") - col("lag_k"))).over(wq) *
          col("n") * (col("n") + 2))
      .select(col("lag_k").cast("int").as("lag_k"),
        round(col("r"), 6).as("acf"),
        round(col("q_lb"), 4).as("ljung_box_q"))
      .orderBy("lag_k")
  }

  /** Distributed midranks over one numeric column `v`: for each DISTINCT
    * value, the 1-based average rank under the midrank tie convention —
    * q78/q85's machinery packaged for reuse: (v) cells from one keyed
    * agg, exclusive counts via prefixSums. No single partition ever
    * sees the corpus. Returns (v, c, midrank); midranks are integers or
    * half-integers — exactly representable, order-independent.
    */
  private[graft] def midranks(in: DataFrame): DataFrame =
    prefixSums(in.groupBy(col("v")).agg(count(lit(1)).as("c")), "v", Seq("c"))
      .select(col("v"), col("c"),
        (col("c_cum") - col("c") + (col("c") + lit(1.0)) / 2).as("midrank"))

  // q89: SPEARMAN RANK CORRELATION between per-customer order count and
  // total spend — the monotone-association number Pearson (q61) misses
  // when the relationship is nonlinear or the marginals are heavy-
  // tailed. Spearman = Pearson on midranks; each variable's ranks come
  // from the distributed midrank machinery (NO global sort — q78's
  // bucket discipline twice), joined back on the distinct-value key,
  // and corr() is one algebraic aggregate with map-side partials.
  // Midranks are exact integers-or-halves, so the rank frame is
  // deterministic; rho is a scale-free ratio of like-magnitude moment
  // sums (6dp boundary landings measure-zero).
  //
  // y folds in EXACT INTEGER CENTS because the rank frames JOIN BACK on
  // the value: a parallel double sum is ulp-nondeterministic in its
  // shuffle merge order, so under multi-JVM executors the ry branch and
  // the scoring branch could land ulp-different y for the same customer
  // and the equi-join silently dropped them (~5% of rows at the sf1
  // local-cluster gate — caught round 14). Joining on aggregated
  // DOUBLES is the bug class; exact longs make the key deterministic,
  // and corr() is scale-invariant so rho/r are unchanged by the unit.
  val q89_spearman: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("double").as("x"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("y"))
      // LAZY persist (q66's pattern): the two rank passes and the
      // scoring join prune base differently; the cache dedupes the
      // orders reduction across them with no build job
      .persist()
    val rx = midranks(base.select(col("x").as("v")))
      .select(col("v").as("x"), col("midrank").as("rx"))
    val ry = midranks(base.select(col("y").as("v")))
      .select(col("v").as("y"), col("midrank").as("ry"))
    base.join(rx, Seq("x")).join(ry, Seq("y"))
      .agg(count(lit(1)).as("n_customers"),
        round(corr(col("rx"), col("ry")), 6).as("spearman_rho"),
        round(corr(col("x"), col("y")), 6).as("pearson_r"))
  }

  // q90: TWO-SAMPLE KOLMOGOROV-SMIRNOV — the distribution-drift test
  // (are purchase values drawn from the same distribution as views?):
  // D = sup_x |F1(x) − F2(x)|. Both empirical CDFs materialize over the
  // SAME (value) cell frame in one keyed agg carrying a per-class
  // counter pair; both running counts ride one prefixSums call. CDF
  // values are exact integer counts divided once by n (a single
  // correctly-rounded IEEE division per cell, identical on any engine),
  // so D, its argmax location, and the min-value tie-break are all
  // deterministic — no rounding hazard.
  val q90_ks: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("value").as("v"),
        (col("event_type") === "purchase").cast("long").as("g"))
    val cells = ev.groupBy(col("v"))
      .agg(sum("g").as("c1"), (count(lit(1)) - sum("g")).as("c0"))
    val dd = prefixSums(cells, "v", Seq("c1", "c0"))
      .select(col("v"), col("c1_tot").as("n1"), col("c0_tot").as("n0"),
        abs(col("c1_cum") / col("c1_tot").cast("double") -
          col("c0_cum") / col("c0_tot").cast("double")).as("dd"))
    val mx = dd.agg(max("dd").as("ksd"))
    dd.crossJoin(broadcast(mx)).filter(col("dd") === col("ksd"))
      .agg(first("n1").as("n1"), first("n0").as("n0"),
        round(first("ksd"), 6).as("ks_d"),
        min("v").as("ks_at"),
        round(first("ksd") *
          sqrt(first("n1").cast("double") * first("n0") /
            (first("n1") + first("n0"))), 4).as("ks_scaled"))
      .select("ks_at", "ks_d", "ks_scaled", "n0", "n1")
  }

  // q91: MANN-KENDALL TREND TEST on the daily revenue series — the
  // nonparametric "is there a monotone trend" answer q64's linear
  // regression can't give (no normality or linearity assumed): S =
  // Σ_{i<j} sign(y_j − y_i) over the day axis, tie-corrected variance,
  // the ±1-continuity z. The pair join runs on the CALENDAR-bounded
  // day axis (≤ a few thousand rows regardless of corpus size — one
  // keyed agg collapses 100 TB to it), so the O(|days|²) comparison is
  // constant work at any scale. S is an exact signed count, the
  // variance is exact integer arithmetic, and z is one division+sqrt
  // of identical values on both engines — 4dp-deterministic.
  val q91_mann_kendall: Q = (s, d) =>
    mkReadout(Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("y")))

  /** q91's S/variance/z readout over any (day, y) daily panel — y in
    * EXACT INTEGER CENTS so signs, tie groups, and the variance are
    * order-independent longs; the per-day cent fold is commutative,
    * which is what lets s51 stream it and feed this readout an
    * IDENTICAL panel (twin equality exact, no ulp argument). The
    * oracle keeps summing raw doubles: sign and tie agreement between
    * the two formulations needs two days' revenues within an ulp of
    * each other — measure-zero on a 2400-day axis of thousand-order
    * sums (and the double path had the same hazard engine-vs-engine).
    */
  private[graft] def mkReadout(daily: DataFrame): DataFrame = {
    // the day-axis panel ends at a shuffle exchange — ReuseExchange
    // shares it across the pair join (twice), n and ties; no cache
    val a = daily.select(col("day").as("di"), col("y").as("yi"))
    val b = daily.select(col("day").as("dj"), col("y").as("yj"))
    val st = a.join(b, col("di") < col("dj"))
      .agg(sum(signum(col("yj") - col("yi"))).as("s_stat"))
    val nn = daily.agg(count(lit(1)).cast("double").as("n"))
    val ties = daily.groupBy("y").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).cast("double").as("tt"))
    st.crossJoin(nn).crossJoin(ties)
      .withColumn("variance",
        (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tt")) / 18.0)
      .withColumn("zraw",
        when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(col("variance")))
          .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("variance")))
          .otherwise(lit(0.0)))
      .select(col("n").cast("long").as("n_days"),
        col("s_stat").cast("long").as("s_stat"),
        round(lit(2.0) * col("s_stat") / (col("n") * (col("n") - 1)), 6)
          .as("tau"),
        round(col("zraw"), 4).as("z"),
        when(col("zraw") > 1.96, "increasing")
          .when(col("zraw") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  // q92: CROSS-CORRELATION FUNCTION between the daily view and purchase
  // series at lags −7..+7 — "does view volume LEAD purchase volume, and
  // by how many days?" (q88's ACF is the self-correlation special
  // case; this is the causal-direction probe between two series). Both
  // series come out of ONE keyed agg over events (conditional sums on
  // the same day cell); demeaning, the lag self-join (≤|days|·15
  // rows), and the normalization ride the calendar-bounded axis. CCF
  // values are scale-free ratios of like-magnitude sums.
  val q92_ccf: Q = (s, d) =>
    ccfReadout(Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y")))

  /** q92's CCF readout over any (day, x, y) daily count panel — counts
    * are exact longs (commutative folds), so s57's streaming state
    * feeds this readout an IDENTICAL panel; the demeaned products are
    * the readout's own arithmetic on that panel either way.
    */
  private[graft] def ccfReadout(dailyCounts: DataFrame): DataFrame = {
    val daily = dailyCounts
      .withColumn("rn", row_number().over(Window.orderBy("day")))
    val s = daily.sparkSession
    val stats = daily.agg(avg("x").as("mx"), avg("y").as("my"))
    val dm = daily.crossJoin(broadcast(stats))
      .select(col("rn"), (col("x") - col("mx")).as("ex"),
        (col("y") - col("my")).as("ey"))
    val denom = dm.agg(
      sqrt(sum(col("ex") * col("ex")) * sum(col("ey") * col("ey"))).as("den"))
    val lags = s.range(-7, 8).select(col("id").as("lag_k"))
    val b = dm.select(col("rn").as("brn"), col("ey").as("bey"))
    dm.crossJoin(broadcast(lags))
      .join(b, col("brn") === col("rn") + col("lag_k"))
      .groupBy("lag_k").agg(sum(col("ex") * col("bey")).as("sk"))
      .crossJoin(broadcast(denom))
      .select(col("lag_k").cast("int").as("lag_k"),
        when(col("den") > 0, round(col("sk") / col("den"), 6))
          .otherwise(lit(0.0)).as("ccf"))
      .orderBy("lag_k")
  }

  // q93: DAU/WAU STICKINESS — the engagement ratio every growth team
  // tracks. The scale trick is WAU WITHOUT a distinct-over-window (a
  // 7-day sliding countDistinct re-scans each day 7×): the DISTINCT
  // (user, day) pairs — one dedup shuffle — each EXPLODE to the ≤7
  // window-end days they support, and a second distinct+count per end
  // day gives the trailing-7-day actives. Every step is linear in the
  // (user, day) activity pairs; nothing global, no window at all.
  val q93_stickiness: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau") / col("wau").cast("double"), 4).as("stickiness"))
      .orderBy("day")
  }

  // q94: CUPED A/B EXPERIMENT READOUT — the variance-reduction every
  // experimentation platform applies (Deng et al. 2013): pre-period
  // spend as the covariate, θ = cov(X,Y)/var(X), Ŷ = Y − θ(X − X̄).
  // The event stream's first 15 days are the pre-period; assignment is
  // user_id parity (a real system salts a hash — parity keeps the
  // oracle engine-portable). One keyed agg builds per-user (X, Y);
  // the pooled moments are ONE algebraic aggregate (covar/var have
  // map-side partials); the adjusted means are a second pass over the
  // persisted user frame. Outputs are 4dp-rounded data-scale means —
  // noise ~1e-10 below the quantum — plus the scale-free
  // variance-reduction ratio the whole technique is judged by.
  val q94_cuped: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val b = ev.agg(min("day").as("lo"))
    val per = ev.crossJoin(broadcast(b))
      .withColumn("pre", datediff(col("day"), col("lo")) < 15)
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("value")).otherwise(0.0)).as("x"),
        sum(when(!col("pre"), col("value")).otherwise(0.0)).as("y"),
        max((!col("pre")).cast("int")).as("in_exp"))
      .filter(col("in_exp") === 1)
      .withColumn("variant",
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
    // the per-user panel sits on a shuffle exchange — ReuseExchange
    // shares it across the pooled moments, the adjusted scoring and
    // the variant rollup; plan-only build, no cache
    val st = per.agg(expr("covar_samp(x, y)").as("cxy"),
      expr("var_samp(x)").as("vx"), avg("x").as("mx"),
      expr("var_samp(y)").as("vy"))
    val adj = per.crossJoin(broadcast(st))
      .withColumn("theta",
        when(col("vx") > 0, col("cxy") / col("vx")).otherwise(lit(0.0)))
      .withColumn("yc", col("y") - col("theta") * (col("x") - col("mx")))
    val vr = adj.agg(
      round(lit(1.0) - expr("var_samp(yc)") / first("vy"), 4)
        .as("var_reduction"))
    adj.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        round(avg("y"), 4).as("mean_y"),
        round(avg("yc"), 4).as("mean_y_cuped"))
      .crossJoin(broadcast(vr))
      .orderBy("variant")
  }

  // q95: CLAMPED RUNNING BALANCE (inventory semantics) — stock that can
  // never go negative: B_t = max(0, B_{t-1} + δ_t). The recurrence
  // looks inherently sequential, but the Skorokhod reflection identity
  // B_t = S_t − min(0, min_{k≤t} S_k) turns it into TWO windowed
  // prefixes (cumsum + running min) — fully declarative, both windows
  // PARTITIONED BY BRAND over the calendar-bounded week axis, no
  // recursion and no per-row driver loop at any scale. Returned lines
  // (l_returnflag = 'R') restock, everything else depletes; weeks are
  // integer (days/7) arithmetic (q82's convention — engine-portable,
  // no date_trunc semantics to match).
  val q95_clamped_balance: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
    val epoch = lit("1970-01-01").cast("date")
    val deltas = li.select(col("p_brand"),
        (datediff(to_date(col("l_shipdate")), epoch) / 7)
          .cast("long").as("week"),
        when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(-col("l_quantity")).as("q"))
      .groupBy(col("p_brand"), col("week"))
      .agg(sum("q").as("delta"))
    val w = Window.partitionBy("p_brand").orderBy("week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("s", sum("delta").over(w))
      .withColumn("runmin", min(col("s")).over(w))
      .select(col("p_brand"), col("week"), col("delta"),
        (col("s") - least(col("runmin"), lit(0.0))).as("balance"))
      .orderBy("p_brand", "week")
  }

  // q96: MARKOV NEXT-EVENT PREDICTION EVAL — q49 builds the transition
  // matrix; this lane scores it out-of-sample (the honest question:
  // does the matrix PREDICT?): transitions from the first 15 days
  // train argmax-next-per-state (lexicographic tie-break), the rest
  // are the test set, accuracy = share predicted. Both sequence
  // windows partition by user (bounded per-user history per day); the
  // train/test cut is pure day arithmetic off the broadcast min-day;
  // the argmax rides the ≤|types|² matrix axis.
  val q96_markov_eval: Q = (s, d) => {
    val lo = Tables.events(s, d).agg(min(to_date(col("ts"))).as("lo"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val tr = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(lo))
      .withColumn("nxt", lead("event_type", 1).over(w))
      .withColumn("nxt_day", lead("day", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("prev"), col("nxt"),
        (datediff(col("nxt_day"), col("lo")) < 15).as("is_train"))
    val model = tr.filter(col("is_train"))
      .groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("prev").orderBy(col("n").desc, col("nxt"))))
      .filter(col("rk") === 1)
      .select(col("prev"), col("nxt").as("predicted"))
    tr.filter(!col("is_train"))
      .join(broadcast(model), Seq("prev"), "left")
      .groupBy(col("prev"))
      .agg(min("predicted").as("predicted"),
        count(lit(1)).as("n_test"),
        // coalesce: a prev state unseen in training predicts nothing —
        // its hits are 0, not NULL (the oracle's ELSE 0 branch)
        sum(coalesce((col("nxt") === col("predicted")).cast("long"),
          lit(0L))).as("n_hit"))
      .withColumn("accuracy",
        round(col("n_hit") / col("n_test").cast("double"), 4))
      .orderBy("prev")
  }

  // q97: TOP-K WITH "OTHERS" ROLLUP — the report shape every dashboard
  // ships (top 10 brands by revenue, the long tail folded into one
  // OTHERS row so shares sum to 1): one keyed agg to the brand axis, a
  // rank on that BOUNDED axis (the global window sits above the
  // aggregate — the sanctioned shape), then a second ≤2-key agg folds
  // the tail. Revenue reports as exact integer cents (q85's
  // convention); shares are single divisions of those exact longs.
  val q97_topk_others: Q = (s, d) => {
    val K = 10
    val byBrand = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_lines"))
    val ranked = byBrand.withColumn("rk", row_number().over(
      Window.orderBy(col("cents").desc, col("p_brand"))))
    val folded = ranked
      .withColumn("bucket",
        when(col("rk") <= K, col("p_brand")).otherwise(lit("OTHERS")))
      .groupBy(col("bucket"))
      .agg(min(when(col("rk") <= K, col("rk")).otherwise(lit(K + 1)))
          .as("rank"),
        sum("cents").as("cents"), sum("n_lines").as("n_lines"))
    val tot = byBrand.agg(sum("cents").cast("double").as("t"))
    folded.crossJoin(broadcast(tot))
      .select(col("rank").cast("int").as("rank"), col("bucket"),
        col("cents"), col("n_lines"),
        round(col("cents") / col("t"), 6).as("share"))
      .orderBy("rank", "bucket")
  }

  // q98: WEIGHTED MEDIAN unit price per returnflag, quantity-weighted —
  // "the price of the median UNIT SOLD", not the median line (a
  // 50-unit line counts 50×). Spark's exact percentile(col, p, freq)
  // implements repetition semantics natively; the oracle replays the
  // same definition by literally expanding each line l_quantity times
  // (exact equivalence, not approximation). Scoped to one ship-year to
  // bound the oracle's expansion; at 100 TB the documented swap is
  // approx_percentile (q39's trade). One keyed agg, ≤|flags| rows out.
  /** q98's percentile readout over a (l_returnflag, unit_price, q)
    * weighted-value panel. Exact percentile with frequency semantics
    * is COLLAPSE-INVARIANT (grouping equal values and summing their
    * integer weights changes nothing), so the batch lane feeds it raw
    * per-line rows while s47's streaming twin feeds the value-collapsed
    * state panel — twin equality is exact, not ulp-argued.
    * r17 (r16 verdict item 6): the two weighted Percentile buffers
    * (each held every distinct unit price of a flag in one task's
    * aggregation buffer) now ride exactQuantiles' weighted mode —
    * identical floor/ceil/interpolation arithmetic over weight-summed
    * cells, so results are bit-identical, and the lane is exact at ANY
    * scale with bounded per-task state (collapse invariance now holds
    * by construction: the helper's first move IS the value collapse).
    * Left join: a group whose values are all null keeps its units row
    * with null percentiles, exactly as the old aggregate did. */
  private[graft] def wmedianReadout(panel: DataFrame): DataFrame =
    panel.groupBy(col("l_returnflag"))
      .agg(sum("q").as("units"))
      .join(exactQuantiles(panel, "unit_price", Seq(0.5, 0.9),
        Seq("l_returnflag"), weight = Some(col("q"))),
        Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("units"),
        round(col("qs").getItem(0), 4).as("wmedian"),
        round(col("qs").getItem(1), 4).as("wp90"))
      .orderBy("l_returnflag")

  val q98_weighted_median: Q = (s, d) =>
    wmedianReadout(Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_returnflag"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        col("l_quantity").cast("long").as("q")))

  // q99: ABC/XYZ INVENTORY MATRIX — q66's ABC (revenue concentration)
  // crossed with the XYZ demand-variability axis (CV of weekly demand
  // per part: X predictable < 0.5, Y < 1.0, Z erratic) — the 9-cell
  // grid inventory planners set safety stock from (AX: automate; CZ:
  // drop). Weekly demand CV per part is one keyed agg to the
  // (part, week) axis + one algebraic (n, Σ, Σ²) rollup per part —
  // gaps count as zero-demand weeks over the GLOBAL corpus week span
  // (every part is judged against the same horizon, the standard
  // inventory-planning convention; a part sold only one week of a
  // seven-year corpus IS erratic). The ABC running share rides
  // cumShareDesc's bucket-partitioned prefix (shared with q66 — no
  // global window over the part axis); the matrix rollup is ≤9 rows.
  // Integer-cents revenue throughout.
  val q99_abc_xyz: Q = (s, d) => {
    val epoch = lit("1970-01-01").cast("date")
    val wk = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"),
        (datediff(to_date(col("l_shipdate")), epoch) / 7)
          .cast("long").as("week"))
      .agg(sum("l_quantity").as("q"),
        sum(expr(
          "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("rc"))
    // NOT cached on purpose: the span branch prunes to (shipdate) only —
    // a cheap 2-column rescan — while caching the 60M-cell frame costs
    // more than it saves (A/B-measured at sf10: 14.6 s cached vs 12.8 s
    // rescanned). The pruning-trap persist stays on `per` below, where
    // the duplicated work would be the whole panel reduction.
    val span = wk.agg(min("week").as("w0"), max("week").as("w1"))
    val per = wk
      .groupBy(col("l_partkey"))
      .agg(sum("rc").as("rc"), count(lit(1)).as("wpresent"),
        sum("q").as("sq"), sum(col("q") * col("q")).as("sq2"))
      // the corpus week span is GLOBAL — attach it after the per-part
      // agg (one broadcast row onto the part axis) instead of fanning
      // it across every (part, week) cell before the reduction
      .crossJoin(broadcast(span))
      .withColumn("nweeks", col("w1") - col("w0") + 1)
      // zero-demand weeks inside the corpus span count toward the CV:
      // mean = Σq/W, var = Σq²/W − mean² (exact integer-valued sums)
      .withColumn("mean_q", col("sq") / col("nweeks"))
      // greatest(…, 0): a constant-demand part's variance can land at
      // −1e-18 by fp cancellation; sqrt must see 0, not NaN/error
      .withColumn("cv",
        sqrt(greatest(col("sq2") / col("nweeks") -
          col("mean_q") * col("mean_q"), lit(0.0))) / col("mean_q"))
      .withColumn("xyz_class",
        when(col("cv") < 0.5, "X").when(col("cv") < 1.0, "Y").otherwise("Z"))
      // LAZY persist (q66's pattern): dedupes the two lineitem
      // reductions across the pruning-divergent branches; no build job
      .persist()
    cumShareDesc(per, "l_partkey")
      .withColumn("abc_class",
        when(col("cum") <= 0.8, "A").when(col("cum") <= 0.95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum("rc") / first(col("rc_tot")), 4).as("rev_share"))
      .orderBy("abc_class", "xyz_class")
  }

  // q100: CROSS-TABLE DATA-QUALITY SCORECARD — the dbt-test-style audit
  // report (x29 ENFORCES constraints at a sink; this AUDITS the whole
  // star schema read-only and reports per check): referential
  // integrity via LEFT ANTI joins (never a full outer — the violation
  // count is the only thing shuffled), key uniqueness as count −
  // countDistinct, domain checks as conditional sums. Each check is
  // one aggregate; dimension sides broadcast. Output is one bounded
  // row per check — the shape a 100 TB nightly audit wants.
  val q100_quality_scorecard: Q = (s, d) => {
    def check(name: String, table: String, violations: DataFrame,
        total: Long): DataFrame =
      violations.select(lit(name).as("check"), lit(table).as("tbl"),
        col("v").as("n_violations"), lit(total).as("n_total"),
        (col("v") === 0).as("ok"))
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val cust = Tables.customer(s, d)
    val part = Tables.part(s, d)
    val ev = Tables.events(s, d)
    val docs = Tables.documents(s, d)
    val (nO, nL, nC, nE, nD) =
      (orders.count(), li.count(), cust.count(), ev.count(), docs.count())
    val checks = Seq(
      check("fk_orders_customer", "orders",
        orders.join(broadcast(cust.select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("v")), nO),
      check("fk_lineitem_orders", "lineitem",
        li.select("l_orderkey").join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("v")), nL),
      check("fk_lineitem_part", "lineitem",
        li.join(broadcast(part.select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("v")), nL),
      check("pk_orders_unique", "orders",
        orders.agg((count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("v")), nO),
      check("pk_customer_unique", "customer",
        cust.agg((count(lit(1)) - countDistinct(col("c_custkey")))
          .as("v")), nC),
      check("events_value_domain", "events",
        ev.agg(sum((col("value").isNull || col("value") < 0).cast("long"))
          .as("v")), nE),
      check("documents_nonempty", "documents",
        docs.agg(sum((col("text").isNull || length(col("text")) === 0)
          .cast("long")).as("v")), nD),
      check("lineitem_qty_domain", "lineitem",
        li.agg(sum((col("l_quantity") <= 0 || col("l_quantity") > 50)
          .cast("long")).as("v")), nL))
    checks.reduce(_ unionAll _).orderBy("check")
  }

  // q101: POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the mean order value
  // per priority — the single-pass distributed bootstrap (Chamandy et
  // al., "Estimating Uncertainty for Massive Data Streams", Google TR
  // 2012): instead of materializing B resamples (B full shuffles), each
  // row draws a DETERMINISTIC Poisson(1) replicate weight per bootstrap
  // b from an md5-derived uniform (q43/t28's hash-not-RNG discipline —
  // same replicates on any cluster, layout, or rerun, and exactly
  // reproducible by the oracle), so one explode + ONE keyed aggregation
  // computes all B replicate means. Σw·cents is an exact integer sum
  // (order-free); each replicate mean divides once, so both engines see
  // identical doubles; the CI reads exact percentiles over the bounded
  // B-row replicate axis. Shuffle volume after map-side combine is
  // |priorities|×B rows per partition — NOT B× the data.
  /** q101's deterministic Poisson(1) replicate weight for (id, b):
    * md5-derived uniform → inverse CDF (cumulative e^-1·Σ 1/k!, capped
    * at 6 — P(w>6) < 1e-4); identical decimal literals on both
    * engines. Shared with s38's streaming fold so twin equality is
    * structural.
    */
  def poissonWeight(id: Column, b: Column): Column = {
    val u = (conv(substring(md5(concat(id.cast("string"),
      lit("_"), b.cast("string"))), 1, 12), 16, 10)
      .cast("double") + 1.0) / lit(math.pow(16, 12) + 1)
    when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
  }

  /** q101's CI readout over a (prio, swc, sw) replicate-sum frame —
    * exact integer sums in, exact percentiles over the B-row axis out.
    */
  def bootstrapReadout(repSums: DataFrame): DataFrame =
    repSums
      .select(col("prio"), (col("swc") / (col("sw") * 100.0)).as("mean_b"))
      .groupBy(col("prio"))
      .agg(round(expr("percentile(mean_b, 0.025)"), 4).as("ci_lo"),
        round(expr("percentile(mean_b, 0.5)"), 4).as("boot_median"),
        round(expr("percentile(mean_b, 0.975)"), 4).as("ci_hi"))
      .orderBy("prio")

  val q101_bootstrap_ci: Q = (s, d) => {
    val B = 100
    val reps = Tables.orders(s, d)
      .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .withColumn("b", explode(expr(s"sequence(1, $B)")))
      .withColumn("w", poissonWeight(col("o_orderkey"), col("b")))
      .groupBy(col("prio"), col("b"))
      .agg(sum(col("w") * col("cents")).as("swc"), sum("w").as("sw"))
    bootstrapReadout(reps)
  }

  // q102: MANN-WHITNEY U TEST (two-sided normal approximation with tie
  // correction) — "are URGENT order values stochastically larger than
  // LOW?" without q62's normality assumption. Ranks come from the
  // distributed midrank machinery (q89's engine): one row per DISTINCT
  // value, NO global sort; the per-group rank sum joins the
  // (value, group-count) frame to the midrank frame on the
  // distinct-value axis. Every sum is exact (midranks are multiples of
  // 0.5 below 2^52, counts integers), so R1 is order-free; the z
  // statistic is scalar arithmetic on five exact numbers.
  val q102_mannwhitney: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_totalprice").as("v"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("g1"))
    val mr = midranks(base.select("v"))
    val cg = base.groupBy("v").agg(sum("g1").as("c1"))
    cg.join(mr, "v")
      .agg(sum("c1").as("n1"), sum("c").as("n"),
        sum(col("c1") * col("midrank")).as("r1"),
        sum(col("c") * col("c") * col("c") - col("c")).as("tie3"))
      .select(col("n1"), (col("n") - col("n1")).as("n2"),
        (col("r1") - col("n1") * (col("n1") + 1) / 2.0).as("u1"),
        col("n"), col("tie3"))
      .select(col("n1"), col("n2"), round(col("u1"), 1).as("u_stat"),
        round((col("u1") - col("n1") * col("n2") / 2.0) /
          sqrt(col("n1") * col("n2") / 12.0 *
            ((col("n") + 1) - col("tie3") / (col("n") * (col("n") - 1.0)))),
          4).as("z"))
  }

  /** Shared day axis for the robust-trend lanes: one keyed aggregation
    * collapsing 1996 lineitem to ≤366 (day-index, integer-cents) rows.
    */
  private def dayCents1996(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1996-01-01").cast("date")).as("x"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("cents"))

  // q103: THEIL-SEN ROBUST TREND — median-of-pairwise-slopes estimator
  // of the daily-revenue trend over one ship-year (Sen 1968, JASA):
  // immune to the outlier days that leverage q64's OLS fit. The
  // pairwise-slope frame is axis² ≈ 66k rows via a broadcast self-join
  // of the BOUNDED day axis — never data×data; slope and intercept read
  // exact percentiles of deterministic ratios (integer-cent day totals
  // divide once), so partial-sum ordering cannot move the median.
  val q103_theilsen: Q = (s, d) => {
    val day = dayCents1996(s, d)
    val a = day.select(col("x").as("xi"), col("cents").as("yi"))
    val b = day.select(col("x").as("xj"), col("cents").as("yj"))
    val slopes = a.join(broadcast(b), col("xj") > col("xi"))
      .select(((col("yj") - col("yi")) /
        ((col("xj") - col("xi")) * 100.0)).as("slope"))
    val m = slopes.agg(expr("percentile(slope, 0.5)").as("m"))
    day.crossJoin(broadcast(m))
      .select(col("m"),
        (col("cents") / 100.0 - col("m") * col("x")).as("resid"))
      .agg(round(first("m"), 4).as("slope_per_day"),
        round(expr("percentile(resid, 0.5)"), 4).as("intercept"),
        count(lit(1)).as("n_days"))
  }

  // q104: WALD-WOLFOWITZ RUNS TEST for randomness of the daily-revenue
  // sign sequence (above/below the year's median day): too few runs =
  // trending/sticky demand, too many = oscillation. The day axis is
  // the only windowed axis (≤366 rows — q65's accepted bounded-axis
  // shape); the median of integer-cent day totals is exact (a multiple
  // of 0.5), days landing exactly on it are excluded per the classical
  // test, and R counts sign changes via one lag on the bounded axis.
  // z is scalar arithmetic on exact integer counts.
  val q104_runs_test: Q = (s, d) => {
    val day = dayCents1996(s, d)
    val med = day.agg(expr("percentile(cents, 0.5)").as("med"))
    val signs = day.crossJoin(broadcast(med))
      .filter(col("cents") =!= col("med"))
      .select(col("x"), (col("cents") > col("med")).cast("long").as("sgn"))
    val w = Window.orderBy("x")
    signs
      .withColumn("chg",
        when(lag("sgn", 1).over(w).isNull ||
          col("sgn") =!= lag("sgn", 1).over(w), 1L).otherwise(0L))
      .agg(sum("chg").as("r"), sum("sgn").as("n1"), count(lit(1)).as("n"))
      .select(col("n1"), (col("n") - col("n1")).as("n2"), col("r"),
        round((col("r") - (col("n1") * col("n2") * 2.0 / col("n") + 1)) /
          sqrt(col("n1") * col("n2") * 2.0 *
            (col("n1") * col("n2") * 2.0 - col("n")) /
            (col("n") * col("n") * (col("n") - 1.0))), 4).as("z"))
  }

  // q105: PRICE INDICES — Laspeyres / Paasche / Fisher per ship-year
  // vs the 1995 base (the econ-panel readout over the part panel):
  // per (part, year) the exact integer-cent revenue and quantity
  // aggregate ONCE; each year joins the base-year frame on the part
  // DIMENSION (≤|parts| rows — broadcast, q66's accepted shape) and
  // the index sums ride that axis. Fisher = √(L·P), computed from the
  // UNROUNDED components on both engines. Index ratios sit near 1.0,
  // so 4-decimal rounding is far above parallel-sum ulp noise.
  /** q105's index readout over a (l_partkey, yr, c, q) panel of exact
    * integer-cent revenue and quantity sums — shared with s39's
    * streaming fold so twin equality is structural.
    */
  def priceIndexReadout(py0: DataFrame): DataFrame = {
    val py = py0.withColumn("p", col("c") / (col("q") * 100.0))
    val base = py.filter(col("yr") === 1995)
      .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
    py.filter(col("yr") =!= 1995)
      .join(broadcast(base), "l_partkey")
      .groupBy("yr")
      .agg(count(lit(1)).as("n_common_parts"),
        (sum(col("p") * col("q0")) / sum(col("p0") * col("q0")))
          .as("lasp"),
        (sum(col("p") * col("q")) / sum(col("p0") * col("q"))).as("paas"))
      .select(col("yr"), col("n_common_parts"),
        round(col("lasp"), 4).as("laspeyres"),
        round(col("paas"), 4).as("paasche"),
        round(sqrt(col("lasp") * col("paas")), 4).as("fisher"))
      .orderBy("yr")
  }

  /** The (part, year) panel of exact integer-cent revenue and quantity
    * — q105/q111's shared input, one keyed agg over lineitem.
    */
  def partYearPanel(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), year(to_date(col("l_shipdate"))).as("yr"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("c"), sum("l_quantity").as("q"))

  val q105_price_index: Q = (s, d) =>
    priceIndexReadout(partYearPanel(s, d))

  // q111: REVENUE BRIDGE (price / volume / new / dropped) — the FP&A
  // waterfall explaining each year's revenue change vs the prior year:
  // over parts present BOTH years, price effect = Σ(p1−p0)·q1 and
  // volume effect = Σp0·(q1−q0) (exact two-factor split — they sum to
  // the common-part delta by construction, which the spec pins);
  // parts only in the current year contribute new_revenue, only in
  // the prior year dropped_revenue. One full-outer self-join of the
  // bounded part×year panel on (part, year−1) — dimension-sized, and
  // the bridge is one keyed agg per year.
  val q111_revenue_bridge: Q = (s, d) => {
    val panel = partYearPanel(s, d)
      .withColumn("p", col("c") / (col("q") * 100.0))
      .withColumn("r", col("c") / 100.0)
    val cur = panel.select(col("l_partkey"), col("yr"),
      col("p").as("p1"), col("q").as("q1"), col("r").as("r1"))
    val prev = panel.select(col("l_partkey"), (col("yr") + 1).as("yr"),
      col("p").as("p0"), col("q").as("q0"), col("r").as("r0"))
    cur.join(prev, Seq("l_partkey", "yr"), "full_outer")
      .filter(col("yr") > 1995 && col("yr") <= 2001)
      .groupBy("yr")
      .agg(
        round(sum(when(col("p0").isNotNull && col("p1").isNotNull,
          (col("p1") - col("p0")) * col("q1")).otherwise(0.0)), 2)
          .as("price_effect"),
        round(sum(when(col("p0").isNotNull && col("p1").isNotNull,
          col("p0") * (col("q1") - col("q0"))).otherwise(0.0)), 2)
          .as("volume_effect"),
        round(sum(when(col("p0").isNull, col("r1")).otherwise(0.0)), 2)
          .as("new_revenue"),
        round(sum(when(col("p1").isNull, col("r0")).otherwise(0.0)), 2)
          .as("dropped_revenue"),
        sum((col("p0").isNotNull && col("p1").isNotNull).cast("long"))
          .as("n_common_parts"))
      .orderBy("yr")
  }

  // q112: KRUSKAL-WALLIS H — the nonparametric ANOVA (q81's question
  // when spend is heavy-tailed enough that a variance-based F-test is
  // the wrong instrument): does customer spend DISTRIBUTION differ
  // across market segments? Ranks run over INTEGER CENTS (exact ties
  // on both engines — no double-sum ulp in the rank key), midranks
  // come from the distributed rank machinery (q89's pass —
  // bucket-partitioned, no global sort, plan-only build), per-group
  // rank sums are exact integers-or-halves, and H plus the standard
  // tie correction H/(1 − Σ(t³−t)/(N³−N)) are O(1) arithmetic on the
  // bounded segment axis (N³ in DOUBLE — a long overflows past ~2M
  // rows). 4dp round absorbs cross-engine group-order ulps.
  val q112_kruskal_wallis: Q = (s, d) => {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      // LAZY persist (q66's pattern): the rank pass, the tie term and
      // the group rollup prune spend differently; the cache dedupes the
      // orders reduction across them with no build job
      .persist()
    val mr = midranks(spend.select(col("cents").as("v")))
    val ties = mr.agg(
      sum(col("c").cast("double") * col("c") * col("c") - col("c")).as("tt"))
    val g = spend
      .join(mr.select(col("v").as("cents"), col("midrank")), Seq("cents"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("ng"), sum("midrank").as("smr"))
    val tot = g.agg(sum("ng").cast("double").as("n"))
    g.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k"), first("n").as("n"),
        sum(col("ng") * pow(col("smr") / col("ng") -
          (col("n") + lit(1.0)) / 2, 2)).as("ss"))
      .crossJoin(broadcast(ties))
      .select(col("k").as("n_groups"), col("n").cast("long").as("n_customers"),
        round(lit(12.0) / (col("n") * (col("n") + lit(1.0))) * col("ss"), 4)
          .as("h"),
        round(lit(12.0) / (col("n") * (col("n") + lit(1.0))) * col("ss") /
          (lit(1.0) - col("tt") /
            (col("n") * col("n") * col("n") - col("n"))), 4)
          .as("h_corrected"))
  }

  // q113: MUTUAL INFORMATION between customer market segment and order
  // priority — the dependence audit q63's chi-squared cannot price in
  // nats: MI decomposes into per-cell PMI contributions, so WHICH
  // (segment, priority) cells carry the association falls out of the
  // same pass. ONE keyed agg collapses the join to the bounded
  // |seg|·|pri| contingency table (the only data-proportional step);
  // marginals are window sums over that ≤25-row table (bounded axis —
  // the q63 discipline) and every log argument is a ratio of EXACT
  // integer counts (products ≤2^53 stay exact in double), so the
  // 6dp-rounded logs are deterministic under any parallel sum order.
  val q113_mutual_info: Q = (s, d) =>
    miReadout(Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .groupBy(col("seg"), col("pri"))
      .agg(count(lit(1)).as("n_xy")))

  /** q113's PMI/MI readout over any (seg, pri, n_xy) contingency cells
    * (rows may be pre-counted — the marginals re-sum). Shared with
    * s49's streaming fold: counts are exact longs, so twin equality is
    * EXACT, no ulp argument needed.
    */
  private[graft] def miReadout(cells: DataFrame): DataFrame = {
    val ratio = col("n_xy").cast("double") * col("n").cast("double") /
      (col("n_x").cast("double") * col("n_y").cast("double"))
    cells
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("seg")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("pri")))
      .withColumn("n", sum("n_xy").over(Window.partitionBy()))
      .select(col("seg"), col("pri"), col("n_xy"),
        round(log(ratio), 6).as("pmi"),
        round(col("n_xy").cast("double") / col("n").cast("double") *
          log(ratio), 6).as("mi_term"))
      .orderBy("seg", "pri")
  }

  // q114: BENJAMINI-HOCHBERG FDR CONTROL over the per-nation account-
  // balance z-tests — the multiple-testing closure the single-test
  // lanes (q62/q63/q81/q102) leave open: run 25 nation-vs-complement
  // tests and an uncorrected α=0.05 expects ~1.25 false discoveries,
  // so WHICH nations survive FDR is the honest readout. One keyed agg
  // to per-nation sufficient statistics (n, Σx, Σx²); the complement's
  // stats derive from the broadcast global sums (no second scan); the
  // normal tail rides Abramowitz-Stegun 26.2.17 (published polynomial,
  // identical double tree on both engines) COMPUTED FROM THE 4dp-
  // ROUNDED z so everything downstream of the single measure-zero
  // rounding boundary is bit-deterministic; the BH step-up is a
  // running min over the bounded 25-row p-axis (never a global sort
  // over raw rows).
  val q114_fdr_bh: Q = (s, d) =>
    fdrReadout(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        "c_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("double").as("ng"),
        sum("c_acctbal").as("s1"),
        sum(col("c_acctbal") * col("c_acctbal")).as("s2")))

  /** q114's z → p → BH step-up readout over any (n_name, ng, s1, s2)
    * sufficient-statistics frame (rows may be pre-folded — the global
    * re-derives by summing the 25-row axis). Shared with s52's
    * streaming fold: the group stats are double sums, so twin equality
    * rests on the 4dp z round absorbing fold-order ulps — the same
    * argument s46/s48 carry, and everything past the rounded z is
    * bit-deterministic by construction.
    */
  private[graft] def fdrReadout(g: DataFrame): DataFrame = {
    val glob = g.agg(sum("ng").as("gn"), sum("s1").as("gs1"),
      sum("s2").as("gs2"), count(lit(1)).cast("double").as("m"))
    val nc = col("gn") - col("ng")
    val mg = col("s1") / col("ng")
    val mc = (col("gs1") - col("s1")) / nc
    val vg = (col("s2") - col("s1") * col("s1") / col("ng")) / (col("ng") - 1)
    val vc = ((col("gs2") - col("s2")) -
      (col("gs1") - col("s1")) * (col("gs1") - col("s1")) / nc) / (nc - 1)
    val z = round((mg - mc) / sqrt(vg / col("ng") + vc / nc), 4)
    val x = abs(col("z"))
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    val p = lit(2.0) * (exp(-x * x / lit(2.0)) * lit(0.3989422804014327)) * poly
    val rk = row_number()
      .over(Window.orderBy(col("p").asc, col("n_name").asc))
    val tail = Window.orderBy(col("p").desc, col("n_name").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(glob))
      .withColumn("z", z)
      .withColumn("p", p)
      .withColumn("padj_raw", col("p") * col("m") / rk)
      .withColumn("p_adj", least(min("padj_raw").over(tail), lit(1.0)))
      .select(col("n_name"), col("ng").cast("long").as("n_customers"),
        col("z"), round(col("p"), 6).as("p_value"),
        round(col("p_adj"), 6).as("p_adj"),
        (col("p_adj") <= 0.05).cast("int").as("discovery"))
      .orderBy("n_name")
  }

  // q115: THEIL'S U (uncertainty coefficient) between market segment
  // and order priority — q113's MI normalized to [0,1] and made
  // DIRECTIONAL (U(pri|seg) ≠ U(seg|pri) when the axes carry different
  // entropy), the readout a feature-selection pass ranks categorical
  // columns by. Every quantity is a sum over the SAME bounded ≤25-cell
  // contingency table q113 rides: H(seg) = Σ_cells (n_xy/n)·(−ln n_x/n)
  // telescopes the y-axis away (Σ_y n_xy = n_x), so entropies and MI
  // are ONE aggregation over the cells — no second pass, no new
  // data-proportional step beyond the keyed count collapse. Log
  // arguments are ratios of exact integer counts; the ≤25-term sum
  // order is the only cross-engine noise, absorbed by the 6dp round
  // (q63 survives the same argument at 4dp over 35 cells).
  val q115_theils_u: Q = (s, d) =>
    theilsUReadout(Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderpriority").as("pri"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), "o_custkey")
      .groupBy(col("seg"), col("pri"))
      .agg(count(lit(1)).as("n_xy")))

  /** q115's entropy/U readout over any (seg, pri, n_xy) contingency
    * cells (rows may be pre-counted — marginals re-sum). Shared with
    * s53's streaming fold: counts are exact longs, so the twin feeds
    * the readout an identical panel and equality needs only the
    * 6dp round to absorb the ≤25-term sum order.
    */
  private[graft] def theilsUReadout(cells: DataFrame): DataFrame = {
    val nxy = col("n_xy").cast("double")
    val px = col("n_x").cast("double") / col("n").cast("double")
    val py = col("n_y").cast("double") / col("n").cast("double")
    cells
      .withColumn("n_x", sum("n_xy").over(Window.partitionBy("seg")))
      .withColumn("n_y", sum("n_xy").over(Window.partitionBy("pri")))
      .withColumn("n", sum("n_xy").over(Window.partitionBy()))
      .agg(
        first(col("n")).as("nn"),
        sum(nxy / col("n") * -log(px)).as("hx"),
        sum(nxy / col("n") * -log(py)).as("hy"),
        sum(nxy / col("n") * log(nxy * col("n").cast("double") /
          (col("n_x").cast("double") * col("n_y").cast("double"))))
          .as("mi"))
      .select(col("nn").cast("long").as("n"),
        round(col("hx"), 6).as("h_seg"),
        round(col("hy"), 6).as("h_pri"),
        round(col("mi"), 6).as("mi"),
        round(col("mi") / col("hx"), 6).as("u_seg_given_pri"),
        round(col("mi") / col("hy"), 6).as("u_pri_given_seg"),
        round(lit(2.0) * col("mi") / (col("hx") + col("hy")), 6)
          .as("u_symmetric"))
  }

  // q116: ODDS RATIO with Woolf confidence interval — does discounting
  // associate with returns? The 2×2 epidemiology readout (exposure =
  // discount ≥ 5%, outcome = returnflag 'R') the single-test lanes
  // don't cover: OR = ad/bc with the Woolf log-scale CI
  // exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)), plus the risk ratio for the
  // absolute-scale reading. ONE conditional aggregation collapses any
  // corpus to four exact long counts (map-side partials — nothing but
  // the four counters moves); everything after is scalar arithmetic on
  // a 1-row frame, deterministic through the 6dp round because each
  // value is a single division/log/exp chain on exact integers.
  val q116_odds_ratio: Q = (s, d) =>
    oddsRatioReadout(Tables.lineitem(s, d)
      .groupBy((col("l_discount") >= 0.05).as("e"),
        (col("l_returnflag") === "R").as("r"))
      .agg(count(lit(1)).as("cnt")))

  /** q116's 2×2 → OR/CI readout over any (e, r, cnt) cell frame (rows
    * may be pre-counted — the four corners re-sum). Shared with s56's
    * streaming fold: counts are exact longs, twin equality EXACT.
    */
  private[graft] def oddsRatioReadout(cells: DataFrame): DataFrame = {
    val pick = (pe: Boolean, pr: Boolean) =>
      sum(when(col("e") === pe && col("r") === pr, col("cnt"))
        .otherwise(0L))
    cells
      .agg(pick(true, true).as("a"), pick(true, false).as("b"),
        pick(false, true).as("c"), pick(false, false).as("dd"))
      .select(col("a"), col("b"), col("c"), col("dd").as("d"),
        round(col("a") * col("dd").cast("double") /
          (col("b").cast("double") * col("c")), 6).as("odds_ratio"),
        round(exp(log(col("a") * col("dd").cast("double") /
            (col("b").cast("double") * col("c"))) -
          lit(1.96) * sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
            lit(1.0) / col("c") + lit(1.0) / col("dd"))), 6).as("ci_lo"),
        round(exp(log(col("a") * col("dd").cast("double") /
            (col("b").cast("double") * col("c"))) +
          lit(1.96) * sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
            lit(1.0) / col("c") + lit(1.0) / col("dd"))), 6).as("ci_hi"),
        round((col("a").cast("double") / (col("a") + col("b"))) /
          (col("c").cast("double") / (col("c") + col("dd"))), 6)
          .as("risk_ratio"))
  }

  // q117: CRAMÉR'S V — the effect size q63's chi-squared refuses to be
  // (χ² grows linearly with n at fixed association, so "significant"
  // says nothing about STRENGTH at corpus scale; V = √(φ²/min(r−1,c−1))
  // is scale-free), plus the Bergsma bias-corrected Ṽ that kills the
  // small-sample inflation. Rides q63's exact (event_type, weekday)
  // cell collapse — the only data-proportional step — then marginals
  // as window sums over the bounded ≤35-cell table and ONE aggregation
  // for χ², r, c, n together. All inputs exact integer counts; the
  // cell-sum order is the only noise, absorbed by the rounds.
  val q117_cramers_v: Q = (s, d) =>
    cramersVReadout(Tables.events(s, d)
      .select(col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).as("wd"))
      .groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).cast("double").as("o")))

  /** q117's χ²/V readout over any (event_type, wd, o) contingency
    * cells (rows may be pre-counted — marginals re-sum). Shared with
    * s55's streaming fold: counts are exact, so only the ≤35-term sum
    * order separates the paths, absorbed by the rounds.
    */
  private[graft] def cramersVReadout(cells: DataFrame): DataFrame = {
    val stats = cells
      .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
      .withColumn("ct", sum("o").over(Window.partitionBy("wd")))
      .withColumn("n", sum("o").over(Window.partitionBy()))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2raw"),
        countDistinct("event_type").cast("double").as("r"),
        countDistinct("wd").cast("double").as("c"),
        sum("o").as("nd"))
    val phi2 = col("chi2raw") / col("nd")
    val phi2c = greatest(lit(0.0),
      phi2 - (col("r") - 1) * (col("c") - 1) / (col("nd") - 1))
    val rc = col("r") - pow(col("r") - 1, 2) / (col("nd") - 1)
    val cc = col("c") - pow(col("c") - 1, 2) / (col("nd") - 1)
    stats.select(
      round(col("chi2raw"), 4).as("chi2"),
      ((col("r") - 1) * (col("c") - 1)).cast("int").as("dof"),
      col("nd").cast("long").as("n"),
      round(sqrt(phi2 / least(col("r") - 1, col("c") - 1)), 6).as("v"),
      round(sqrt(phi2c / least(rc - 1, cc - 1)), 6).as("v_corrected"))
  }

  // q118: WALD'S SPRT — sequential probability ratio test on the daily
  // purchase share (H0: p = 0.48 vs H1: p = 0.52, α = β = 0.05) — the
  // SEQUENTIAL closure of the fixed-horizon tests (q62/q114 decide once
  // at the end; SPRT decides the moment the evidence suffices, the
  // readout an always-on experiment monitor needs): per-day LLR =
  // conv·ln(p1/p0) + (trials−conv)·ln(q1/q0), cumulated over the
  // CALENDAR-bounded day axis (≤366 rows — one keyed agg collapses any
  // corpus to it, the q65/q91 discipline), compared against the Wald
  // boundaries ±ln((1−β)/α) = ±ln 19. Counts are exact longs; both
  // engines cumulate the same ≤366-term sequence in day order, so the
  // only cross-engine noise is an ulp in the two log constants —
  // scaled by counts it stays ~1e-10, absorbed by the 6dp round; the
  // boundary comparison runs on the ROUNDED cum so the state flag
  // cannot flip on sub-round noise.
  val q118_sprt: Q = (s, d) =>
    sprtReadout(Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("trials"),
        sum((col("event_type") === "purchase").cast("long"))
          .as("conversions")))

  /** q118's LLR-path readout over any (day, trials, conversions) daily
    * panel — counts are exact longs, so s54's streaming fold feeds an
    * IDENTICAL panel and twin equality is EXACT (both paths cumulate
    * the same ≤366-term sequence in day order).
    *
    * Two readout columns, two contracts: `state` is the per-day MONITOR
    * readout (where the LLR path sits vs the Wald boundaries that day —
    * it can revert to 'continue' after a crossing, by design), while
    * `decision` is the SPRT itself — a true sequential test stops at
    * the FIRST boundary crossing, so the first non-continue state wins
    * and is sticky ever after. Reading the final row's `decision` gives
    * the test's verdict; reading its `state` gives only that day's
    * boundary position.
    */
  private[graft] def sprtReadout(daily: DataFrame): DataFrame = {
    val llrDay = col("conversions") * log(lit(0.52) / lit(0.48)) +
      (col("trials") - col("conversions")) * log(lit(0.48) / lit(0.52))
    val bHi = round(log(lit(19.0)), 6)
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("llr_raw", llrDay)
      .withColumn("llr_cum", round(sum(col("llr_raw")).over(w), 6))
      .withColumn("state",
        when(col("llr_cum") >= bHi, "accept_h1")
          .when(col("llr_cum") <= -bHi, "accept_h0")
          .otherwise("continue"))
      .select(col("day"), col("trials"), col("conversions"),
        round(col("llr_raw"), 6).as("llr_day"), col("llr_cum"),
        col("state"),
        coalesce(
          first(when(col("state") =!= "continue", col("state")),
            ignoreNulls = true).over(w),
          lit("continue")).as("decision"))
      .orderBy("day")
  }

  // q119: DIFFERENCE-IN-DIFFERENCES — the quasi-experimental closure
  // of the A/B block (q62 needs randomization, q94 needs a covariate;
  // DiD needs only a parallel-trends story): treated = AUTOMOBILE-
  // segment customers, pre = 1995-96 vs post = 1997-98, outcome = mean
  // order value. ONE conditional keyed agg collapses any corpus to the
  // FOUR (group, period) cells' sufficient statistics (n, Σx, Σx²);
  // DiD = (Δtreated − Δcontrol), the pooled SE is Σ var_i/n_i over the
  // four cells, and the p-value rides q114's exact discipline — the
  // A&S 26.2.17 tail computed FROM THE 4dp-ROUNDED z, everything
  // downstream bit-deterministic. Cell sums are doubles; the 4dp/6dp
  // rounds absorb fold-order ulps (the q114 argument).
  val q119_did: Q = (s, d) =>
    didReadout(Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
        "o_custkey")
      .groupBy(col("treated"),
        (col("o_orderdate") >= "1997-01-01").as("post"))
      .agg(count(lit(1)).cast("double").as("ng"),
        sum("o_totalprice").as("s1"),
        sum(col("o_totalprice") * col("o_totalprice")).as("s2")))

  /** q119's 2×2 panel → DiD/SE/z readout over any (treated, post, ng,
    * s1, s2) sufficient-statistics frame (rows may be pre-folded — the
    * corners re-sum). Shared with s59's streaming fold should one
    * land; the z is 4dp-rounded before the tail polynomial (q114).
    */
  private[graft] def didReadout(cells: DataFrame): DataFrame = {
    val pick = (t: Boolean, p: Boolean, c: String) =>
      sum(when(col("treated") === t && col("post") === p, col(c))
        .otherwise(lit(0.0)))
    val g = cells.agg(
      pick(true, false, "ng").as("n10"), pick(true, true, "ng").as("n11"),
      pick(false, false, "ng").as("n00"), pick(false, true, "ng").as("n01"),
      pick(true, false, "s1").as("a10"), pick(true, true, "s1").as("a11"),
      pick(false, false, "s1").as("a00"), pick(false, true, "s1").as("a01"),
      pick(true, false, "s2").as("b10"), pick(true, true, "s2").as("b11"),
      pick(false, false, "s2").as("b00"), pick(false, true, "s2").as("b01"))
    def m(i: String) = col("a" + i) / col("n" + i)
    def v(i: String) =
      (col("b" + i) - col("a" + i) * col("a" + i) / col("n" + i)) /
        (col("n" + i) - 1) / col("n" + i)
    val did = (m("11") - m("10")) - (m("01") - m("00"))
    val se = sqrt(v("11") + v("10") + v("01") + v("00"))
    val z = round(did / se, 4)
    val x = abs(col("z"))
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    val p = lit(2.0) * (exp(-x * x / lit(2.0)) * lit(0.3989422804014327)) * poly
    g.withColumn("z", z)
      .select(
        round(m("10"), 4).as("pre_treated"),
        round(m("11"), 4).as("post_treated"),
        round(m("00"), 4).as("pre_control"),
        round(m("01"), 4).as("post_control"),
        round(did, 4).as("did"),
        round(se, 4).as("se"),
        col("z"),
        round(p, 6).as("p_value"),
        (round(p, 6) <= 0.05).cast("int").as("significant"))
  }

  // q120: PLACEBO DiD — the parallel-trends AUDIT q119 assumes (the
  // methodological closure: before trusting a DiD, re-run it entirely
  // INSIDE the pre-period with a fake treatment date — any "effect"
  // there is trend divergence, not treatment): same four-cell
  // machinery, same readout (didReadout verbatim), periods 1995 vs
  // 1996 with treatment pretended at 1996-01-01. The pair q119+q120
  // is the publishable unit; a significant placebo invalidates the
  // main estimate. Uniform-generator data must read null on both.
  val q120_placebo_did: Q = (s, d) =>
    didReadout(Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1997-01-01")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
        "o_custkey")
      .groupBy(col("treated"),
        (col("o_orderdate") >= "1996-01-01").as("post"))
      .agg(count(lit(1)).cast("double").as("ng"),
        sum("o_totalprice").as("s1"),
        sum(col("o_totalprice") * col("o_totalprice")).as("s2")))

  // q121: DiD DESIGN POWER — the question q119's verdict alone cannot
  // answer (a null DiD can mean "no effect" or "no power to see one",
  // and the difference decides whether the experiment is DONE or just
  // UNDERPOWERED): from the same four sufficient-stat cells, the
  // minimum detectable effect at 80%/90% power (MDE = (z_{α/2}+z_pow)·SE)
  // and the normal-approximation power at the observed effect. Closes
  // the loop the planted-effect gate opened: on null data the lane must
  // still report HOW LARGE an effect the design could have seen. All
  // arithmetic on didReadout's 4dp-rounded did/se/z, so the Φ chain is
  // bit-deterministic across engines (the q114 discipline).
  val q121_did_power: Q = (s, d) =>
    didPowerReadout(Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1999-01-01")
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"),
          (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
        "o_custkey")
      .groupBy(col("treated"),
        (col("o_orderdate") >= "1997-01-01").as("post"))
      .agg(count(lit(1)).cast("double").as("ng"),
        sum("o_totalprice").as("s1"),
        sum(col("o_totalprice") * col("o_totalprice")).as("s2")))

  /** q121's power readout over the same (treated, post, ng, s1, s2)
    * cell frame didReadout takes — shared with s62's streaming fold.
    * MDE multipliers: z_{0.025}=1.96 with z_{0.80}=0.8416 → 2.8016,
    * z_{0.90}=1.2816 → 3.2416. Power at the observed effect is
    * Φ(|z| − 1.96) via the A&S 26.2.17 tail on the 4dp-rounded z.
    */
  private[graft] def didPowerReadout(cells: DataFrame): DataFrame = {
    def tail(x: Column): Column = {
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      exp(-x * x / lit(2.0)) * lit(0.3989422804014327) * poly
    }
    val u = abs(col("z")) - lit(1.96)
    didReadout(cells)
      .select(col("did"), col("se"), col("z"),
        round(lit(2.8016) * col("se"), 4).as("mde_80"),
        round(lit(3.2416) * col("se"), 4).as("mde_90"),
        round(when(u >= 0, lit(1.0) - tail(u)).otherwise(tail(-u)), 6)
          .as("power_observed"),
        (abs(col("z")) >= 2.8016).cast("int").as("powered"))
  }

  // q106: COHORT LTV CURVES — cumulative revenue per customer by
  // quarters-since-first-order, per first-order-quarter cohort (q46
  // counts WHO returns; this prices WHAT they spend — the payback
  // readout a growth team reads against CAC): per-customer first
  // quarter from one keyed agg; (cohort, age) revenue cells from a
  // second; the cumulative window rides the bounded cohort×age grid
  // (≤27×27), partitioned by cohort. Integer cents + one division.
  val q106_cohort_ltv: Q = (s, d) =>
    cohortLtvReadout(Tables.orders(s, d)
      .select(col("o_custkey"),
        (year(to_date(col("o_orderdate"))) * 4 +
          quarter(to_date(col("o_orderdate"))) - 1).as("qtr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents")))

  /** q106's LTV readout over any (o_custkey, qtr, cents) frame (rows
    * may be pre-summed per pair — the grouping re-aggregates). Shared
    * with s41's streaming fold so twin equality is structural.
    */
  def cohortLtvReadout(q: DataFrame): DataFrame = {
    val first = q.groupBy("o_custkey").agg(min("qtr").as("q0"))
    val cohortSize = first.groupBy(col("q0").as("cohort"))
      .agg(count(lit(1)).as("n_customers"))
    val cells = q.join(first, "o_custkey")
      .groupBy(col("q0").as("cohort"), (col("qtr") - col("q0")).as("age"))
      .agg(sum("cents").as("cents"))
    val w = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum("cents").over(w))
      .join(broadcast(cohortSize), Seq("cohort"))
      // half-up in PURE INTEGER MATH: round(cum/n cents) =
      // (2·cum + n) div (2n) for positive longs. A double division +
      // round() flips engines when the exact value is x.xx5 (Spark
      // rounds the double's shortest decimal repr, DuckDB multiplies
      // first — caught on the planted-effect gate); the integer form
      // is bit-identical everywhere, and /100.0 of an integer never
      // re-rounds
      .select(col("cohort"), col("age").cast("int").as("age"),
        col("n_customers"),
        (expr("(2 * cum_cents + n_customers) div (2 * n_customers)") /
          lit(100.0)).as("ltv_per_customer"))
      .orderBy("cohort", "age")
  }

  // q107: SEGMENT MIGRATION MATRIX — spend-quintile transitions between
  // the 1995-97 and 1998-01 periods (q52 scores a snapshot; this shows
  // MOVEMENT, plus churn/new from the full-outer edge): quintile bounds
  // are exact percentiles of integer-cent spend broadcast against each
  // period's customer frame (q52's accepted shape); the matrix is one
  // keyed agg over ≤36 cells.
  val q107_segment_migration: Q = (s, d) => {
    def spend(from: String, until: String): DataFrame =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(from) &&
          col("o_orderdate") < lit(until))
        .groupBy("o_custkey")
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("cents"))
    def seg(df: DataFrame): DataFrame = {
      // quintile bounds via the bounded rank machinery (r16: the
      // customer-axis Percentile buffer was q37's funnel class)
      val b = exactQuantiles(df, "cents", Seq(0.2, 0.4, 0.6, 0.8))
        .select(col("qs").as("b"))
      df.crossJoin(broadcast(b))
        .select(col("o_custkey"),
          (0 to 3).map(i =>
            (col("cents") >= element_at(col("b"), i + 1)).cast("int"))
            .foldLeft(lit(1))(_ + _).cast("string").as("seg"))
    }
    val a = seg(spend("1995-01-01", "1998-01-01"))
      .withColumnRenamed("seg", "seg_a")
    val b = seg(spend("1998-01-01", "2002-01-01"))
      .withColumnRenamed("seg", "seg_b")
    a.join(b, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("seg_a"), lit("none")).as("seg_a"),
        coalesce(col("seg_b"), lit("none")).as("seg_b"))
      .groupBy("seg_a", "seg_b").agg(count(lit(1)).as("n_customers"))
      .orderBy("seg_a", "seg_b")
  }

  // q108: NEWSVENDOR STOCKING LEVELS — the critical-fractile answer
  // to "how much to stock per brand-week": q* = F⁻¹(cu/(cu+co)) of
  // weekly demand, here the 2/3 fractile (margin = 2× holding cost)
  // next to the median and the 95% service level, plus the implied
  // safety stock. q99 classifies demand variability; this PRICES it.
  // One keyed agg to the (brand, week) axis; exact percentiles per
  // brand over its bounded week axis.
  val q108_newsvendor: Q = (s, d) => {
    val epoch = lit("1970-01-01").cast("date")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        (datediff(to_date(col("l_shipdate")), epoch) / 7)
          .cast("long").as("week"))
      .agg(sum("l_quantity").as("q"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_weeks"),
        round(expr("percentile(q, 0.5)"), 2).as("q_p50"),
        round(expr("percentile(q, 0.6666666666666666)"), 2).as("q_crit"),
        round(expr("percentile(q, 0.95)"), 2).as("q_p95"))
      .withColumn("safety_stock", round(col("q_p95") - col("q_p50"), 2))
      .orderBy("p_brand")
  }

  // q109: DORMANCY / WIN-BACK — customers who went quiet ≥ 12 months
  // and then returned: per reactivation-year, how many came back and
  // what they spent on the win-back order (the lifecycle readout
  // between q40's inactive list and q46's retention grid). One lag
  // window PARTITIONED BY customer (scales with customers, never a
  // global sort); integer-cent win-back revenue.
  val q109_dormancy_winback: Q = (s, d) => {
    // orderkey tie-break: same-day orders would otherwise make the
    // lag attribution (which row "is" the win-back) engine-dependent
    val w = Window.partitionBy("o_custkey").orderBy("ord_day", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("ord_day"),
        year(to_date(col("o_orderdate"))).as("yr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .withColumn("gap_days", col("ord_day") - lag("ord_day", 1).over(w))
      .filter(col("gap_days") >= 365)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_winbacks"),
        countDistinct(col("o_custkey")).as("n_customers"),
        round(sum("cents") / 100.0, 2).as("winback_revenue"),
        round(avg("gap_days"), 2).as("avg_gap_days"))
      .orderBy("yr")
  }

  // q110: PARETO-SHARE DRIFT — the "is revenue concentrating?" trend:
  // per year, the share of revenue held by the top 20% of that year's
  // customers (q66 ranks parts once; this tracks the 80/20 number
  // over TIME). A year's customer axis is SF-proportional, so the
  // per-year rank never runs in one partition: ranks come from the
  // two-level bucket machinery — cents co-bucket via rankBucketed,
  // a running count runs per (year, bucket), and the cross-bucket rank
  // offset is a prefix over the bounded |years|×B axis, broadcast
  // back. rk = offset + within is the exact same integer rank the
  // per-year window produced; shares divide exact integer-cent sums
  // once.
  /** q110's readout over a (yr, o_custkey, cents) panel: per-year
    * top-20% revenue share via bucketRank. Shared by the batch lane
    * and s45's streaming twin. Caller persists `per`.
    */
  private[graft] def paretoDriftReadout(per: DataFrame): DataFrame = {
    bucketRank(per, "cents", "o_custkey", Seq("yr"))
      .groupBy("yr")
      .agg(max("rk_tot").as("n_customers"),
        sum("cents").as("tot"),
        sum(when(col("rk") * 5 <= col("rk_tot"), col("cents")).otherwise(0L))
          .as("top_cents"))
      .select(col("yr"), col("n_customers"),
        round(col("top_cents") / col("tot").cast("double"), 4)
          .as("top20_share"))
      .orderBy("yr")
  }

  val q110_pareto_drift: Q = (s, d) =>
    // LAZY persist (q66's pattern): dedupes the orders reduction across
    // the pruning-divergent branches; no build job
    paretoDriftReadout(Tables.orders(s, d)
      .groupBy(year(to_date(col("o_orderdate"))).as("yr"),
        col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
        .as("cents"))
      .persist())

  val queries: Map[String, Q] = Map(
    "q109_dormancy_winback" -> q109_dormancy_winback,
    "q110_pareto_drift" -> q110_pareto_drift,
    "q111_revenue_bridge" -> q111_revenue_bridge,
    "q112_kruskal_wallis" -> q112_kruskal_wallis,
    "q113_mutual_info" -> q113_mutual_info,
    "q114_fdr_bh" -> q114_fdr_bh,
    "q115_theils_u" -> q115_theils_u,
    "q116_odds_ratio" -> q116_odds_ratio,
    "q117_cramers_v" -> q117_cramers_v,
    "q118_sprt" -> q118_sprt,
    "q119_did" -> q119_did,
    "q120_placebo_did" -> q120_placebo_did,
    "q121_did_power" -> q121_did_power,
    "q108_newsvendor" -> q108_newsvendor,
    "q106_cohort_ltv" -> q106_cohort_ltv,
    "q107_segment_migration" -> q107_segment_migration,
    "q105_price_index" -> q105_price_index,
    "q101_bootstrap_ci" -> q101_bootstrap_ci,
    "q102_mannwhitney" -> q102_mannwhitney,
    "q103_theilsen" -> q103_theilsen,
    "q104_runs_test" -> q104_runs_test,
    "q100_quality_scorecard" -> q100_quality_scorecard,
    "q99_abc_xyz" -> q99_abc_xyz,
    "q98_weighted_median" -> q98_weighted_median,
    "q97_topk_others" -> q97_topk_others,
    "q96_markov_eval" -> q96_markov_eval,
    "q95_clamped_balance" -> q95_clamped_balance,
    "q94_cuped" -> q94_cuped,
    "q93_stickiness" -> q93_stickiness,
    "q92_ccf" -> q92_ccf,
    "q91_mann_kendall" -> q91_mann_kendall,
    "q90_ks" -> q90_ks,
    "q89_spearman" -> q89_spearman,
    "q88_acf" -> q88_acf,
    "q87_hhi" -> q87_hhi,
    "q86_theil" -> q86_theil,
    "q85_gini" -> q85_gini,
    "q84_time_to_convert" -> q84_time_to_convert,
    "q83_forecast_eval" -> q83_forecast_eval,
    "q82_interpurchase" -> q82_interpurchase,
    "q81_anova" -> q81_anova,
    "q80_price_elasticity" -> q80_price_elasticity,
    "q79_survival" -> q79_survival,
    "q78_auc" -> q78_auc,
    "q77_yoy_growth" -> q77_yoy_growth,
    "q76_benford" -> q76_benford,
    "q75_peak_concurrency" -> q75_peak_concurrency,
    "q74_top_paths" -> q74_top_paths,
    "q73_holt" -> q73_holt,
    "q72_new_returning" -> q72_new_returning,
    "q71_bollinger" -> q71_bollinger,
    "q70_rolling_median" -> q70_rolling_median,
    "q69_stl_anomaly" -> q69_stl_anomaly,
    "q68_label_propagation" -> q68_label_propagation,
    "q67_contribution" -> q67_contribution,
    "q66_abc_analysis" -> q66_abc_analysis,
    "q65_ewma" -> q65_ewma,
    "q64_linreg" -> q64_linreg,
    "q63_chisq" -> q63_chisq,
    "q62_welch_ttest" -> q62_welch_ttest,
    "q61_correlation" -> q61_correlation,
    "q60_gap_fill" -> q60_gap_fill,
    "q59_skyline" -> q59_skyline,
    "q58_sketch_setops" -> q58_sketch_setops,
    "q57_seasonal_decompose" -> q57_seasonal_decompose,
    "q56_session_metrics" -> q56_session_metrics,
    "q55_cusum_changepoint" -> q55_cusum_changepoint,
    "q51_histogram" -> q51_histogram,
    "q52_rfm" -> q52_rfm,
    "q53_mad_outliers" -> q53_mad_outliers,
    "q54_triangles" -> q54_triangles,
    "q49_transition_matrix" -> q49_transition_matrix,
    "q50_pagerank" -> q50_pagerank,
    "q47_attribution" -> q47_attribution,
    "q48_basket_lift" -> q48_basket_lift,
    "q46_cohort_retention" -> q46_cohort_retention,
    "q45_time_weighted_avg" -> q45_time_weighted_avg,
    "q44_funnel" -> q44_funnel,
    "q41_range_join" -> q41_range_join,
    "q42_stats_profile" -> q42_stats_profile,
    "q43_stratified_sample" -> q43_stratified_sample,
    "q01_pricing_agg" -> q01_pricing_agg,
    "q02_filter_pushdown" -> q02_filter_pushdown,
    "q03_join_agg" -> q03_join_agg,
    "q04_semijoin" -> q04_semijoin,
    "q05_multijoin" -> q05_multijoin,
    "q06_selective" -> q06_selective,
    "q07_window_rank" -> q07_window_rank,
    "q08_topk" -> q08_topk,
    "q09_count_distinct" -> q09_count_distinct,
    "q10_antijoin" -> q10_antijoin,
    "q11_rollup" -> q11_rollup,
    "q12_case_agg" -> q12_case_agg,
    "q13_outer_join_agg" -> q13_outer_join_agg,
    "q14_union" -> q14_union,
    "q15_scalar_subquery" -> q15_scalar_subquery,
    "q16_having" -> q16_having,
    "q17_correlated" -> q17_correlated,
    "q18_in_subquery" -> q18_in_subquery,
    "q19_complex_pred" -> q19_complex_pred,
    "q20_running_sum" -> q20_running_sum,
    "q21_asof_join" -> q21_asof_join,
    "q22_grouping_sets" -> q22_grouping_sets,
    "q23_percentile" -> q23_percentile,
    "q24_pivot" -> q24_pivot,
    "q25_setops" -> q25_setops,
    "q26_lead_lag" -> q26_lead_lag,
    "q27_ntile" -> q27_ntile,
    "q28_string_agg" -> q28_string_agg,
    "q29_json_extract" -> q29_json_extract,
    "q30_salted_join" -> q30_salted_join,
    "q31_trailing_window" -> q31_trailing_window,
    "q32_approx_distinct" -> q32_approx_distinct,
    "q33_topk_per_key" -> q33_topk_per_key,
    "q34_exists_agg" -> q34_exists_agg,
    "q35_rolling_distinct" -> q35_rolling_distinct,
    "q36_percent_rank" -> q36_percent_rank,
    "q37_decile_profile" -> q37_decile_profile,
    "q38_rolling_distinct_approx" -> q38_rolling_distinct_approx,
    "q39_approx_percentile" -> q39_approx_percentile,
    "q40_inactive_customers" -> q40_inactive_customers,
  )

  /** q57's oracle SQL — shared verbatim with q69's residual input so the
    * two lanes cannot drift.
    */
  private val q57Sql: String =
    """WITH daily AS (
      |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day,
      |    count(*)::DOUBLE AS n, dayofweek(ts::DATE) AS wd
      |  FROM events GROUP BY 1, 3),
      |tr AS (
      |  SELECT *, CASE WHEN count(*) OVER w = 7
      |      THEN avg(n) OVER w END AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |det AS (SELECT *, n - trend AS detrended FROM tr),
      |se AS (
      |  SELECT wd, avg(detrended) AS seasonal FROM det
      |  WHERE trend IS NOT NULL GROUP BY 1)
      |SELECT day, n::BIGINT AS n_events, round(trend, 4) AS trend,
      |  round(seasonal, 4) AS seasonal,
      |  round(detrended - seasonal, 4) AS residual
      |FROM det JOIN se USING (wd) ORDER BY day""".stripMargin

  /** q119/q120's shared DuckDB oracle: the four-cell DiD over
    * [lo, hi) with treatment pretended at `cut` (q120 re-runs the
    * whole estimator inside q119's pre-period as the placebo audit).
    */
  /** q121's oracle: didOracleSql's cell chain with the power readout on
    * top — every Φ input derives from the 4dp-rounded z/se exactly as
    * didPowerReadout does, so the tail chain is bit-deterministic.
    */
  private def didPowerOracleSql(lo: String, hi: String, cut: String): String =
    s"""WITH cells AS (
       |  SELECT (c_mktsegment = 'AUTOMOBILE') AS treated,
       |    (o_orderdate >= '$cut') AS post,
       |    count(*)::DOUBLE AS ng, sum(o_totalprice) AS s1,
       |    sum(o_totalprice * o_totalprice) AS s2
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  WHERE o_orderdate >= '$lo' AND o_orderdate < '$hi'
       |  GROUP BY 1, 2),
       |g AS (
       |  SELECT
       |    sum(CASE WHEN treated AND NOT post THEN ng ELSE 0 END) AS n10,
       |    sum(CASE WHEN treated AND post THEN ng ELSE 0 END) AS n11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN ng ELSE 0 END) AS n00,
       |    sum(CASE WHEN NOT treated AND post THEN ng ELSE 0 END) AS n01,
       |    sum(CASE WHEN treated AND NOT post THEN s1 ELSE 0 END) AS a10,
       |    sum(CASE WHEN treated AND post THEN s1 ELSE 0 END) AS a11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN s1 ELSE 0 END) AS a00,
       |    sum(CASE WHEN NOT treated AND post THEN s1 ELSE 0 END) AS a01,
       |    sum(CASE WHEN treated AND NOT post THEN s2 ELSE 0 END) AS b10,
       |    sum(CASE WHEN treated AND post THEN s2 ELSE 0 END) AS b11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN s2 ELSE 0 END) AS b00,
       |    sum(CASE WHEN NOT treated AND post THEN s2 ELSE 0 END) AS b01
       |  FROM cells),
       |dd AS (
       |  SELECT
       |    (a11/n11 - a10/n10) - (a01/n01 - a00/n00) AS did,
       |    sqrt((b11 - a11*a11/n11) / (n11 - 1) / n11 +
       |         (b10 - a10*a10/n10) / (n10 - 1) / n10 +
       |         (b01 - a01*a01/n01) / (n01 - 1) / n01 +
       |         (b00 - a00*a00/n00) / (n00 - 1) / n00) AS se
       |  FROM g),
       |zt AS (SELECT round(did, 4) AS did, round(se, 4) AS se,
       |  round(did / se, 4) AS z FROM dd),
       |ux AS (SELECT *, abs(z) - 1.96 AS u FROM zt),
       |tt AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(u)) AS t FROM ux),
       |pw AS (
       |  SELECT *,
       |    (exp(-u * u / 2.0) * 0.3989422804014327) *
       |      (t * (0.319381530 + t * (-0.356563782 + t * (1.781477937 +
       |        t * (-1.821255978 + t * 1.330274429))))) AS tail
       |  FROM tt)
       |SELECT did, se, z,
       |  round(2.8016 * se, 4) AS mde_80,
       |  round(3.2416 * se, 4) AS mde_90,
       |  round(CASE WHEN u >= 0 THEN 1.0 - tail ELSE tail END, 6)
       |    AS power_observed,
       |  CAST(abs(z) >= 2.8016 AS INT) AS powered
       |FROM pw""".stripMargin

  private def didOracleSql(lo: String, hi: String, cut: String): String =
    s"""WITH cells AS (
       |  SELECT (c_mktsegment = 'AUTOMOBILE') AS treated,
       |    (o_orderdate >= '$cut') AS post,
       |    count(*)::DOUBLE AS ng, sum(o_totalprice) AS s1,
       |    sum(o_totalprice * o_totalprice) AS s2
       |  FROM orders JOIN customer ON c_custkey = o_custkey
       |  WHERE o_orderdate >= '$lo' AND o_orderdate < '$hi'
       |  GROUP BY 1, 2),
       |g AS (
       |  SELECT
       |    sum(CASE WHEN treated AND NOT post THEN ng ELSE 0 END) AS n10,
       |    sum(CASE WHEN treated AND post THEN ng ELSE 0 END) AS n11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN ng ELSE 0 END) AS n00,
       |    sum(CASE WHEN NOT treated AND post THEN ng ELSE 0 END) AS n01,
       |    sum(CASE WHEN treated AND NOT post THEN s1 ELSE 0 END) AS a10,
       |    sum(CASE WHEN treated AND post THEN s1 ELSE 0 END) AS a11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN s1 ELSE 0 END) AS a00,
       |    sum(CASE WHEN NOT treated AND post THEN s1 ELSE 0 END) AS a01,
       |    sum(CASE WHEN treated AND NOT post THEN s2 ELSE 0 END) AS b10,
       |    sum(CASE WHEN treated AND post THEN s2 ELSE 0 END) AS b11,
       |    sum(CASE WHEN NOT treated AND NOT post THEN s2 ELSE 0 END) AS b00,
       |    sum(CASE WHEN NOT treated AND post THEN s2 ELSE 0 END) AS b01
       |  FROM cells),
       |dd AS (
       |  SELECT n10, n11, n00, n01, a10, a11, a00, a01,
       |    (a11/n11 - a10/n10) - (a01/n01 - a00/n00) AS did,
       |    sqrt((b11 - a11*a11/n11) / (n11 - 1) / n11 +
       |         (b10 - a10*a10/n10) / (n10 - 1) / n10 +
       |         (b01 - a01*a01/n01) / (n01 - 1) / n01 +
       |         (b00 - a00*a00/n00) / (n00 - 1) / n00) AS se
       |  FROM g),
       |zt AS (SELECT *, round(did / se, 4) AS z FROM dd),
       |pv AS (
       |  SELECT *,
       |    2.0 * (exp(-abs(z) * abs(z) / 2.0) * 0.3989422804014327) *
       |      ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 +
       |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 +
       |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 +
       |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 +
       |        (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))) AS p
       |  FROM zt)
       |SELECT round(a10/n10, 4) AS pre_treated,
       |  round(a11/n11, 4) AS post_treated,
       |  round(a00/n00, 4) AS pre_control,
       |  round(a01/n01, 4) AS post_control,
       |  round(did, 4) AS did, round(se, 4) AS se, z,
       |  round(p, 6) AS p_value,
       |  CAST(round(p, 6) <= 0.05 AS INT) AS significant
       |FROM pv""".stripMargin

  val oracle: Map[String, String] = Map(
    "q113_mutual_info" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON c_custkey = o_custkey),
        |cells AS (SELECT seg, pri, count(*) AS n_xy FROM j GROUP BY 1, 2),
        |w AS (
        |  SELECT seg, pri, n_xy,
        |    sum(n_xy) OVER (PARTITION BY seg) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY pri) AS n_y,
        |    sum(n_xy) OVER () AS n
        |  FROM cells)
        |SELECT seg, pri, n_xy,
        |  round(ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE) /
        |    (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi,
        |  round(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE) *
        |    ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE) /
        |      (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS mi_term
        |FROM w ORDER BY seg, pri""".stripMargin,
    "q114_fdr_bh" ->
      """WITH g AS (
        |  SELECT n_name, count(*)::DOUBLE AS ng, sum(c_acctbal) AS s1,
        |    sum(c_acctbal * c_acctbal) AS s2
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1),
        |tot AS (
        |  SELECT sum(ng) AS gn, sum(s1) AS gs1, sum(s2) AS gs2,
        |    count(*)::DOUBLE AS m
        |  FROM g),
        |zt AS (
        |  SELECT n_name, ng, m,
        |    round((s1 / ng - (gs1 - s1) / (gn - ng)) /
        |      sqrt((s2 - s1 * s1 / ng) / (ng - 1) / ng +
        |        ((gs2 - s2) - (gs1 - s1) * (gs1 - s1) / (gn - ng)) /
        |          (gn - ng - 1) / (gn - ng)), 4) AS z
        |  FROM g, tot),
        |pv AS (
        |  SELECT n_name, ng, m, z,
        |    2.0 * (exp(-abs(z) * abs(z) / 2.0) * 0.3989422804014327) *
        |      ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 +
        |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 +
        |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 +
        |        (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 +
        |        (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))) AS p
        |  FROM zt),
        |bh AS (
        |  SELECT n_name, ng, z, p,
        |    least(min(p * m / rk) OVER (ORDER BY p DESC, n_name DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
        |      AS p_adj
        |  FROM (SELECT *, row_number() OVER (ORDER BY p ASC, n_name ASC)
        |          AS rk FROM pv))
        |SELECT n_name, ng::BIGINT AS n_customers, z,
        |  round(p, 6) AS p_value, round(p_adj, 6) AS p_adj,
        |  CAST(p_adj <= 0.05 AS INT) AS discovery
        |FROM bh ORDER BY n_name""".stripMargin,
    "q115_theils_u" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON c_custkey = o_custkey),
        |cells AS (SELECT seg, pri, count(*) AS n_xy FROM j GROUP BY 1, 2),
        |w AS (
        |  SELECT seg, pri, n_xy,
        |    sum(n_xy) OVER (PARTITION BY seg) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY pri) AS n_y,
        |    sum(n_xy) OVER () AS n
        |  FROM cells),
        |agg AS (
        |  SELECT max(n) AS nn,
        |    sum(n_xy::DOUBLE / n * -ln(n_x::DOUBLE / n)) AS hx,
        |    sum(n_xy::DOUBLE / n * -ln(n_y::DOUBLE / n)) AS hy,
        |    sum(n_xy::DOUBLE / n * ln(n_xy::DOUBLE * n /
        |      (n_x::DOUBLE * n_y::DOUBLE))) AS mi
        |  FROM w)
        |SELECT nn::BIGINT AS n, round(hx, 6) AS h_seg,
        |  round(hy, 6) AS h_pri, round(mi, 6) AS mi,
        |  round(mi / hx, 6) AS u_seg_given_pri,
        |  round(mi / hy, 6) AS u_pri_given_seg,
        |  round(2.0 * mi / (hx + hy), 6) AS u_symmetric
        |FROM agg""".stripMargin,
    "q116_odds_ratio" ->
      """WITH t AS (
        |  SELECT
        |    sum(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END)::BIGINT AS d
        |  FROM lineitem)
        |SELECT a, b, c, d,
        |  round(a * d::DOUBLE / (b::DOUBLE * c), 6) AS odds_ratio,
        |  round(exp(ln(a * d::DOUBLE / (b::DOUBLE * c)) -
        |    1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6) AS ci_lo,
        |  round(exp(ln(a * d::DOUBLE / (b::DOUBLE * c)) +
        |    1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6) AS ci_hi,
        |  round((a::DOUBLE / (a + b)) / (c::DOUBLE / (c + d)), 6)
        |    AS risk_ratio
        |FROM t""".stripMargin,
    "q117_cramers_v" ->
      """WITH obs AS (
        |  SELECT event_type, dayofweek(ts::DATE) AS wd, count(*)::DOUBLE AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *, sum(o) OVER (PARTITION BY event_type) AS rt,
        |    sum(o) OVER (PARTITION BY wd) AS ct, sum(o) OVER () AS n
        |  FROM obs),
        |agg AS (
        |  SELECT sum(pow(o - rt*ct/n, 2) / (rt*ct/n)) AS chi2raw,
        |    count(DISTINCT event_type)::DOUBLE AS r,
        |    count(DISTINCT wd)::DOUBLE AS c, sum(o) AS nd
        |  FROM m)
        |SELECT round(chi2raw, 4) AS chi2,
        |  ((r - 1) * (c - 1))::INT AS dof, nd::BIGINT AS n,
        |  round(sqrt(chi2raw / nd / least(r - 1, c - 1)), 6) AS v,
        |  round(sqrt(greatest(0.0, chi2raw / nd -
        |      (r - 1) * (c - 1) / (nd - 1)) /
        |    least(r - pow(r - 1, 2) / (nd - 1) - 1,
        |      c - pow(c - 1, 2) / (nd - 1) - 1)), 6) AS v_corrected
        |FROM agg""".stripMargin,
    "q119_did" -> didOracleSql("1995-01-01", "1999-01-01", "1997-01-01"),
    "q121_did_power" ->
      didPowerOracleSql("1995-01-01", "1999-01-01", "1997-01-01"),
    "q120_placebo_did" ->
      didOracleSql("1995-01-01", "1997-01-01", "1996-01-01"),

    "q118_sprt" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, count(*)::BIGINT AS trials,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS conversions
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |llr AS (
        |  SELECT *, conversions * ln(0.52 / 0.48) +
        |    (trials - conversions) * ln(0.48 / 0.52) AS llr_raw
        |  FROM daily),
        |cum AS (
        |  SELECT *, round(sum(llr_raw) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |    AS llr_cum
        |  FROM llr),
        |st AS (
        |  SELECT *,
        |    CASE WHEN llr_cum >= round(ln(19.0), 6) THEN 'accept_h1'
        |         WHEN llr_cum <= -round(ln(19.0), 6) THEN 'accept_h0'
        |         ELSE 'continue' END AS state
        |  FROM cum)
        |SELECT day, trials, conversions,
        |  round(llr_raw, 6) AS llr_day, llr_cum, state,
        |  coalesce(first_value(CASE WHEN state <> 'continue' THEN state END
        |      IGNORE NULLS) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    'continue') AS decision
        |FROM st ORDER BY day""".stripMargin,
    "q112_kruskal_wallis" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |sm AS (
        |  SELECT cents, c_mktsegment
        |  FROM spend JOIN customer ON c_custkey = o_custkey),
        |vc AS (SELECT cents, count(*) AS c FROM sm GROUP BY 1),
        |rk AS (
        |  SELECT cents,
        |    coalesce(sum(c) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (c + 1.0) / 2 AS midrank
        |  FROM vc),
        |g AS (
        |  SELECT c_mktsegment, count(*) AS ng, sum(midrank) AS smr
        |  FROM sm JOIN rk USING (cents) GROUP BY 1),
        |t AS (SELECT sum(ng)::DOUBLE AS n FROM g),
        |ties AS (SELECT sum(c::DOUBLE * c * c - c) AS tt FROM vc),
        |agg AS (
        |  SELECT count(*)::BIGINT AS k, first(n) AS n,
        |    sum(ng * pow(smr / ng - (n + 1.0) / 2, 2)) AS ss
        |  FROM g, t)
        |SELECT k AS n_groups, n::BIGINT AS n_customers,
        |  round(12.0 / (n * (n + 1.0)) * ss, 4) AS h,
        |  round(12.0 / (n * (n + 1.0)) * ss /
        |    (1.0 - tt / (n * n * n - n)), 4) AS h_corrected
        |FROM agg, ties""".stripMargin,
    "q111_revenue_bridge" ->
      """WITH py AS (
        |  SELECT l_partkey, year(l_shipdate)::INT AS yr,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS c,
        |    sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |panel AS (
        |  SELECT l_partkey, yr, c / (q * 100.0) AS p, q,
        |    c / 100.0 AS r
        |  FROM py),
        |cur AS (SELECT l_partkey, yr, p AS p1, q AS q1, r AS r1
        |        FROM panel),
        |prev AS (SELECT l_partkey, yr + 1 AS yr, p AS p0, q AS q0,
        |           r AS r0
        |         FROM panel),
        |j AS (
        |  SELECT * FROM cur FULL JOIN prev USING (l_partkey, yr)
        |  WHERE yr > 1995 AND yr <= 2001)
        |SELECT yr,
        |  round(sum(CASE WHEN p0 IS NOT NULL AND p1 IS NOT NULL
        |    THEN (p1 - p0) * q1 ELSE 0.0 END), 2) AS price_effect,
        |  round(sum(CASE WHEN p0 IS NOT NULL AND p1 IS NOT NULL
        |    THEN p0 * (q1 - q0) ELSE 0.0 END), 2) AS volume_effect,
        |  round(sum(CASE WHEN p0 IS NULL THEN r1 ELSE 0.0 END), 2)
        |    AS new_revenue,
        |  round(sum(CASE WHEN p1 IS NULL THEN r0 ELSE 0.0 END), 2)
        |    AS dropped_revenue,
        |  sum(CASE WHEN p0 IS NOT NULL AND p1 IS NOT NULL THEN 1
        |    ELSE 0 END)::BIGINT AS n_common_parts
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q109_dormancy_winback" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
        |      ::INT AS ord_day,
        |    year(o_orderdate)::INT AS yr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT yr, o_custkey, cents,
        |    ord_day - lag(ord_day) OVER (PARTITION BY o_custkey
        |      ORDER BY ord_day, o_orderkey) AS gap_days
        |  FROM o)
        |SELECT yr, count(*)::BIGINT AS n_winbacks,
        |  count(DISTINCT o_custkey)::BIGINT AS n_customers,
        |  round(sum(cents) / 100.0, 2) AS winback_revenue,
        |  round(avg(gap_days), 2) AS avg_gap_days
        |FROM g WHERE gap_days >= 365
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q110_pareto_drift" ->
      """WITH per AS (
        |  SELECT year(o_orderdate)::INT AS yr, o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |rk AS (
        |  SELECT yr, cents,
        |    row_number() OVER (PARTITION BY yr
        |      ORDER BY cents DESC, o_custkey) AS rk,
        |    count(*) OVER (PARTITION BY yr) AS n
        |  FROM per)
        |SELECT yr, max(n)::BIGINT AS n_customers,
        |  round(sum(CASE WHEN rk * 5 <= n THEN cents ELSE 0 END)
        |    / sum(cents)::DOUBLE, 4) AS top20_share
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q108_newsvendor" ->
      """WITH wk AS (
        |  SELECT p_brand,
        |    (date_diff('day', DATE '1970-01-01', l_shipdate::DATE) // 7)
        |      ::BIGINT AS week,
        |    sum(l_quantity) AS q
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, count(*)::BIGINT AS n_weeks,
        |  round(quantile_cont(q, 0.5), 2) AS q_p50,
        |  round(quantile_cont(q, 0.6666666666666666), 2) AS q_crit,
        |  round(quantile_cont(q, 0.95), 2) AS q_p95,
        |  round(round(quantile_cont(q, 0.95), 2)
        |    - round(quantile_cont(q, 0.5), 2), 2) AS safety_stock
        |FROM wk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q106_cohort_ltv" ->
      """WITH q AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 4 + quarter(o_orderdate) - 1)::INT
        |      AS qtr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(qtr) AS q0 FROM q GROUP BY 1),
        |cs AS (SELECT q0 AS cohort, count(*)::BIGINT AS n_customers
        |       FROM f GROUP BY 1),
        |cells AS (
        |  SELECT q0 AS cohort, (qtr - q0)::INT AS age,
        |    sum(cents)::BIGINT AS cents
        |  FROM q JOIN f USING (o_custkey) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, age,
        |    (sum(cents) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_cents
        |  FROM cells)
        |SELECT cohort, age, n_customers,
        |  ((2 * cum_cents + n_customers) // (2 * n_customers)) / 100.0
        |    AS ltv_per_customer
        |FROM cum JOIN cs USING (cohort) ORDER BY cohort, age""".stripMargin,
    "q107_segment_migration" ->
      """WITH sa AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM orders WHERE o_orderdate >= '1995-01-01'
        |    AND o_orderdate < '1998-01-01' GROUP BY 1),
        |ba AS (SELECT quantile_cont(cents, [0.2, 0.4, 0.6, 0.8]) AS b
        |       FROM sa),
        |ga AS (
        |  SELECT o_custkey,
        |    (1 + (cents >= b[1])::INT + (cents >= b[2])::INT
        |       + (cents >= b[3])::INT + (cents >= b[4])::INT)::VARCHAR
        |      AS seg_a
        |  FROM sa, ba),
        |sb AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM orders WHERE o_orderdate >= '1998-01-01'
        |    AND o_orderdate < '2002-01-01' GROUP BY 1),
        |bb AS (SELECT quantile_cont(cents, [0.2, 0.4, 0.6, 0.8]) AS b
        |       FROM sb),
        |gb AS (
        |  SELECT o_custkey,
        |    (1 + (cents >= b[1])::INT + (cents >= b[2])::INT
        |       + (cents >= b[3])::INT + (cents >= b[4])::INT)::VARCHAR
        |      AS seg_b
        |  FROM sb, bb)
        |SELECT coalesce(seg_a, 'none') AS seg_a,
        |  coalesce(seg_b, 'none') AS seg_b, count(*)::BIGINT AS n_customers
        |FROM ga FULL JOIN gb USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q105_price_index" ->
      """WITH py AS (
        |  SELECT l_partkey, year(l_shipdate)::INT AS yr,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS c,
        |    sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |pp AS (SELECT l_partkey, yr, c / (q * 100.0) AS p, q FROM py),
        |base AS (
        |  SELECT l_partkey, p AS p0, q AS q0 FROM pp WHERE yr = 1995),
        |ix AS (
        |  SELECT yr, count(*)::BIGINT AS n_common_parts,
        |    sum(p * q0) / sum(p0 * q0) AS lasp,
        |    sum(p * q) / sum(p0 * q) AS paas
        |  FROM pp JOIN base USING (l_partkey) WHERE yr <> 1995
        |  GROUP BY 1)
        |SELECT yr, n_common_parts, round(lasp, 4) AS laspeyres,
        |  round(paas, 4) AS paasche,
        |  round(sqrt(lasp * paas), 4) AS fisher
        |FROM ix ORDER BY yr""".stripMargin,
    "q101_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT o_orderpriority AS prio, b,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    (('0x' || substr(md5(o_orderkey::VARCHAR || '_' || b::VARCHAR),
        |      1, 12))::BIGINT + 1.0) / 281474976710657.0 AS u
        |  FROM orders, range(1, 101) t(b)),
        |wtd AS (
        |  SELECT prio, b, cents,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS w
        |  FROM reps),
        |mb AS (
        |  SELECT prio, b,
        |    sum(w * cents)::BIGINT / (sum(w)::BIGINT * 100.0) AS mean_b
        |  FROM wtd GROUP BY 1, 2)
        |SELECT prio,
        |  round(quantile_cont(mean_b, 0.025), 4) AS ci_lo,
        |  round(quantile_cont(mean_b, 0.5), 4) AS boot_median,
        |  round(quantile_cont(mean_b, 0.975), 4) AS ci_hi
        |FROM mb GROUP BY prio ORDER BY prio""".stripMargin,
    "q102_mannwhitney" ->
      """WITH base AS (
        |  SELECT o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |mr AS (
        |  SELECT v, count(*)::BIGINT AS c, sum(g1)::BIGINT AS c1
        |  FROM base GROUP BY v),
        |rk AS (
        |  SELECT c, c1,
        |    (sum(c) OVER (ORDER BY v))::BIGINT - c + (c + 1) / 2.0 AS midrank
        |  FROM mr),
        |st AS (
        |  SELECT sum(c1)::BIGINT AS n1, sum(c)::BIGINT AS n,
        |    sum(c1 * midrank) AS r1, sum(c * c * c - c)::BIGINT AS tie3
        |  FROM rk)
        |SELECT n1, n - n1 AS n2,
        |  round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
        |  round(((r1 - n1 * (n1 + 1) / 2.0) - n1 * (n - n1) / 2.0) /
        |    sqrt(n1 * (n - n1) / 12.0 *
        |      ((n + 1) - tie3 / (n * (n - 1.0)))), 4) AS z
        |FROM st""".stripMargin,
    "q103_theilsen" ->
      """WITH day AS (
        |  SELECT date_diff('day', DATE '1996-01-01', l_shipdate::DATE)
        |      ::INT AS x,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  GROUP BY 1),
        |slopes AS (
        |  SELECT (b.cents - a.cents) / ((b.x - a.x) * 100.0) AS slope
        |  FROM day a JOIN day b ON b.x > a.x),
        |m AS (SELECT quantile_cont(slope, 0.5) AS m FROM slopes),
        |resid AS (
        |  SELECT cents / 100.0 - (SELECT m FROM m) * x AS resid FROM day)
        |SELECT (SELECT round(m, 4) FROM m) AS slope_per_day,
        |  round(quantile_cont(resid, 0.5), 4) AS intercept,
        |  (SELECT count(*) FROM day)::BIGINT AS n_days
        |FROM resid""".stripMargin,
    "q104_runs_test" ->
      """WITH day AS (
        |  SELECT date_diff('day', DATE '1996-01-01', l_shipdate::DATE)
        |      ::INT AS x,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
        |      AS cents
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  GROUP BY 1),
        |med AS (SELECT quantile_cont(cents, 0.5) AS med FROM day),
        |signs AS (
        |  SELECT x, CASE WHEN cents > (SELECT med FROM med) THEN 1
        |    ELSE 0 END AS sgn
        |  FROM day WHERE cents <> (SELECT med FROM med)),
        |chg AS (
        |  SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY x) IS NULL
        |      OR sgn <> lag(sgn) OVER (ORDER BY x) THEN 1 ELSE 0 END AS c
        |  FROM signs),
        |st AS (
        |  SELECT sum(c)::BIGINT AS r, sum(sgn)::BIGINT AS n1,
        |    count(*)::BIGINT AS n
        |  FROM chg)
        |SELECT n1, n - n1 AS n2, r,
        |  round((r - (n1 * (n - n1) * 2.0 / n + 1)) /
        |    sqrt(n1 * (n - n1) * 2.0 * (n1 * (n - n1) * 2.0 - n) /
        |      (n * n * (n - 1.0))), 4) AS z
        |FROM st""".stripMargin,
    "q100_quality_scorecard" ->
      """WITH checks AS (
        |  SELECT 'fk_orders_customer' AS check, 'orders' AS tbl,
        |    (SELECT count(*) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |      ::BIGINT AS n_violations,
        |    (SELECT count(*) FROM orders)::BIGINT AS n_total
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', 'lineitem',
        |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |      ::BIGINT,
        |    (SELECT count(*) FROM lineitem)::BIGINT
        |  UNION ALL
        |  SELECT 'fk_lineitem_part', 'lineitem',
        |    (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |      ::BIGINT,
        |    (SELECT count(*) FROM lineitem)::BIGINT
        |  UNION ALL
        |  SELECT 'pk_orders_unique', 'orders',
        |    (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        |      ::BIGINT,
        |    (SELECT count(*) FROM orders)::BIGINT
        |  UNION ALL
        |  SELECT 'pk_customer_unique', 'customer',
        |    (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        |      ::BIGINT,
        |    (SELECT count(*) FROM customer)::BIGINT
        |  UNION ALL
        |  SELECT 'events_value_domain', 'events',
        |    (SELECT sum(CASE WHEN value IS NULL OR value < 0 THEN 1
        |       ELSE 0 END) FROM events)::BIGINT,
        |    (SELECT count(*) FROM events)::BIGINT
        |  UNION ALL
        |  SELECT 'documents_nonempty', 'documents',
        |    (SELECT sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1
        |       ELSE 0 END) FROM documents)::BIGINT,
        |    (SELECT count(*) FROM documents)::BIGINT
        |  UNION ALL
        |  SELECT 'lineitem_qty_domain', 'lineitem',
        |    (SELECT sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1
        |       ELSE 0 END) FROM lineitem)::BIGINT,
        |    (SELECT count(*) FROM lineitem)::BIGINT)
        |SELECT "check", tbl, n_violations, n_total,
        |  n_violations = 0 AS ok
        |FROM checks ORDER BY "check"""".stripMargin,
    "q99_abc_xyz" ->
      """WITH wk AS (
        |  SELECT l_partkey,
        |    (date_diff('day', DATE '1970-01-01', l_shipdate::DATE) // 7)
        |      ::BIGINT AS week,
        |    sum(l_quantity) AS q,
        |    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT))::BIGINT AS rc
        |  FROM lineitem GROUP BY 1, 2),
        |span AS (SELECT min(week) AS w0, max(week) AS w1 FROM wk),
        |per AS (
        |  SELECT l_partkey, sum(rc)::BIGINT AS rc, sum(q) AS sq,
        |    sum(q * q) AS sq2, min(w1 - w0 + 1) AS nweeks
        |  FROM wk, span GROUP BY 1),
        |cvd AS (
        |  SELECT l_partkey, rc,
        |    sqrt(greatest(sq2 / nweeks - (sq / nweeks) * (sq / nweeks),
        |      0.0)) / (sq / nweeks) AS cv
        |  FROM per),
        |cls AS (
        |  SELECT rc,
        |    CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
        |         ELSE 'Z' END AS xyz_class,
        |    sum(rc) OVER (ORDER BY rc DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) /
        |      (SELECT sum(rc)::DOUBLE FROM per) AS cum
        |  FROM cvd),
        |abc AS (
        |  SELECT rc, xyz_class,
        |    CASE WHEN cum <= 0.8 THEN 'A' WHEN cum <= 0.95 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM cls)
        |SELECT abc_class, xyz_class, count(*)::BIGINT AS n_parts,
        |  round(sum(rc) / (SELECT sum(rc)::DOUBLE FROM per), 4) AS rev_share
        |FROM abc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q97_topk_others" ->
      """WITH byb AS (
        |  SELECT p_brand,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS cents,
        |    count(*)::BIGINT AS n_lines
        |  FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY cents DESC, p_brand) AS rk
        |  FROM byb),
        |folded AS (
        |  SELECT CASE WHEN rk <= 10 THEN p_brand ELSE 'OTHERS' END AS bucket,
        |    min(CASE WHEN rk <= 10 THEN rk ELSE 11 END)::INT AS rank,
        |    sum(cents)::BIGINT AS cents, sum(n_lines)::BIGINT AS n_lines
        |  FROM rk GROUP BY 1),
        |tot AS (SELECT sum(cents)::DOUBLE AS t FROM byb)
        |SELECT rank, bucket, cents, n_lines, round(cents / t, 6) AS share
        |FROM folded, tot ORDER BY rank, bucket""".stripMargin,
    "q98_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_extendedprice / l_quantity AS unit_price,
        |    l_quantity::BIGINT AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'),
        |expanded AS (
        |  SELECT l_returnflag, unit_price
        |  FROM li JOIN range(1, 51) r(i) ON i <= q),
        |u AS (SELECT l_returnflag, sum(q)::BIGINT AS units FROM li GROUP BY 1)
        |SELECT l_returnflag, units,
        |  round(quantile_cont(unit_price, 0.5), 4) AS wmedian,
        |  round(quantile_cont(unit_price, 0.9), 4) AS wp90
        |FROM expanded JOIN u USING (l_returnflag)
        |GROUP BY l_returnflag, units ORDER BY l_returnflag""".stripMargin,
    "q95_clamped_balance" ->
      """WITH li AS (
        |  SELECT p_brand, l_quantity, l_returnflag, l_shipdate
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |deltas AS (
        |  SELECT p_brand, week, sum(q) AS delta FROM (
        |    SELECT p_brand,
        |      (date_diff('day', DATE '1970-01-01', l_shipdate::DATE) // 7)
        |        ::BIGINT AS week,
        |      CASE WHEN l_returnflag = 'R' THEN l_quantity
        |           ELSE -l_quantity END AS q
        |    FROM li)
        |  GROUP BY 1, 2),
        |pre AS (
        |  SELECT p_brand, week, delta,
        |    sum(delta) OVER (PARTITION BY p_brand ORDER BY week
        |      ROWS UNBOUNDED PRECEDING) AS s
        |  FROM deltas),
        |rm AS (
        |  SELECT p_brand, week, delta, s,
        |    min(s) OVER (PARTITION BY p_brand ORDER BY week
        |      ROWS UNBOUNDED PRECEDING) AS runmin
        |  FROM pre)
        |SELECT p_brand, week, delta, s - least(runmin, 0.0) AS balance
        |FROM rm ORDER BY p_brand, week""".stripMargin,
    "q96_markov_eval" ->
      """WITH lo AS (SELECT min(ts::DATE) AS lo FROM events),
        |seq AS (
        |  SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS nxt,
        |    lead(ts::DATE) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS nxt_day
        |  FROM events),
        |tr AS (
        |  SELECT prev, nxt, date_diff('day', lo, nxt_day) < 15 AS is_train
        |  FROM seq, lo WHERE nxt IS NOT NULL),
        |model AS (
        |  SELECT prev, nxt AS predicted FROM (
        |    SELECT prev, nxt, row_number() OVER (PARTITION BY prev
        |      ORDER BY count(*) DESC, nxt) AS rk
        |    FROM tr WHERE is_train GROUP BY prev, nxt)
        |  WHERE rk = 1)
        |SELECT prev, min(predicted) AS predicted, count(*)::BIGINT AS n_test,
        |  sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)::BIGINT AS n_hit,
        |  round(sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) /
        |    count(*)::DOUBLE, 4) AS accuracy
        |FROM tr LEFT JOIN model USING (prev)
        |WHERE NOT is_train GROUP BY prev ORDER BY prev""".stripMargin,
    "q94_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, ts::DATE AS day, value FROM events),
        |b AS (SELECT min(day) AS lo FROM ev),
        |per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN day - lo < 15 THEN value ELSE 0 END) AS x,
        |    sum(CASE WHEN day - lo >= 15 THEN value ELSE 0 END) AS y,
        |    max(CASE WHEN day - lo >= 15 THEN 1 ELSE 0 END) AS in_exp
        |  FROM ev, b GROUP BY user_id),
        |pe AS (
        |  SELECT *, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM per WHERE in_exp = 1),
        |st AS (
        |  SELECT covar_samp(x, y) AS cxy, var_samp(x) AS vx,
        |    avg(x) AS mx, var_samp(y) AS vy
        |  FROM pe),
        |adj AS (
        |  SELECT variant, y,
        |    y - (CASE WHEN vx > 0 THEN cxy / vx ELSE 0 END) * (x - mx) AS yc,
        |    vy
        |  FROM pe, st),
        |vr AS (SELECT round(1.0 - var_samp(yc) / min(vy), 4)
        |         AS var_reduction FROM adj)
        |SELECT variant, count(*)::BIGINT AS n_users,
        |  round(avg(y), 4) AS mean_y, round(avg(yc), 4) AS mean_y_cuped,
        |  var_reduction
        |FROM adj, vr GROUP BY variant, var_reduction ORDER BY variant"""
        .stripMargin,
    "q92_ccf" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS y
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
        |idx AS (SELECT x, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
        |st AS (SELECT avg(x) AS mx, avg(y) AS my FROM idx),
        |dm AS (SELECT rn, x - mx AS ex, y - my AS ey FROM idx, st),
        |den AS (
        |  SELECT sqrt(sum(ex * ex) * sum(ey * ey)) AS den FROM dm),
        |lags AS (SELECT unnest(range(-7, 8)) AS lag_k),
        |terms AS (
        |  SELECT lag_k, sum(a.ex * b.ey) AS sk
        |  FROM dm a CROSS JOIN lags JOIN dm b ON b.rn = a.rn + lag_k
        |  GROUP BY 1)
        |SELECT lag_k::INT AS lag_k,
        |  CASE WHEN den > 0 THEN round(sk / den, 6) ELSE 0 END AS ccf
        |FROM terms, den ORDER BY lag_k""".stripMargin,
    "q93_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + i::INT AS day7
        |  FROM ud, range(0, 7) r(i)),
        |wau AS (SELECT day7 AS day, count(*)::BIGINT AS wau
        |        FROM contrib GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
        |  round(dau / wau::DOUBLE, 4) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q91_mann_kendall" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS y
        |  FROM orders GROUP BY 1),
        |st AS (
        |  SELECT sum(sign(b.y - a.y)) AS s_stat
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM daily),
        |ties AS (
        |  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::DOUBLE AS tt
        |  FROM (SELECT count(*)::BIGINT AS t FROM daily
        |        GROUP BY y HAVING count(*) > 1)),
        |v AS (
        |  SELECT n, s_stat,
        |    (n * (n - 1) * (2 * n + 5) - tt) / 18.0 AS variance,
        |    CASE WHEN s_stat > 0 THEN (s_stat - 1) /
        |           sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
        |         WHEN s_stat < 0 THEN (s_stat + 1) /
        |           sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
        |         ELSE 0 END AS zraw
        |  FROM st, nn, ties)
        |SELECT n::BIGINT AS n_days, s_stat::BIGINT AS s_stat,
        |  round(2.0 * s_stat / (n * (n - 1)), 6) AS tau,
        |  round(zraw, 4) AS z,
        |  CASE WHEN zraw > 1.96 THEN 'increasing'
        |       WHEN zraw < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM v""".stripMargin,
    "q89_spearman" ->
      """WITH base AS (
        |  SELECT o_custkey, count(*)::DOUBLE AS x,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
        |  FROM orders GROUP BY 1),
        |rn AS (
        |  SELECT x, y,
        |    row_number() OVER (ORDER BY x) AS rnx,
        |    row_number() OVER (ORDER BY y) AS rny
        |  FROM base),
        |rk AS (
        |  SELECT x, y,
        |    avg(rnx) OVER (PARTITION BY x) AS rx,
        |    avg(rny) OVER (PARTITION BY y) AS ry
        |  FROM rn)
        |SELECT count(*)::BIGINT AS n_customers,
        |  round(corr(rx, ry), 6) AS spearman_rho,
        |  round(corr(x, y), 6) AS pearson_r
        |FROM rk""".stripMargin,
    "q90_ks" ->
      """WITH ev AS (
        |  SELECT value AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |n AS (SELECT sum(g)::BIGINT AS n1, (count(*) - sum(g))::BIGINT AS n0
        |      FROM ev),
        |cells AS (
        |  SELECT v, sum(g)::BIGINT AS c1, (count(*) - sum(g))::BIGINT AS c0
        |  FROM ev GROUP BY 1),
        |cdf AS (
        |  SELECT v,
        |    sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k1,
        |    sum(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k0
        |  FROM cells),
        |d AS (SELECT v, abs(k1::DOUBLE / n1 - k0::DOUBLE / n0) AS dd
        |      FROM cdf, n),
        |mx AS (SELECT max(dd) AS ksd FROM d)
        |SELECT min(v) AS ks_at, round(ksd, 6) AS ks_d,
        |  round(ksd * sqrt(n1::DOUBLE * n0 / (n1 + n0)), 4) AS ks_scaled,
        |  n0, n1
        |FROM d, n, mx WHERE dd = ksd GROUP BY ksd, n0, n1""".stripMargin,
    "q88_acf" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS day, sum(o_totalprice) AS y
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT y, row_number() OVER (ORDER BY day) AS rn FROM daily),
        |st AS (SELECT avg(y) AS mu, count(*)::BIGINT AS n FROM idx),
        |dm AS (SELECT rn, y - mu AS e FROM idx, st),
        |den AS (SELECT sum(e * e) AS s0 FROM dm),
        |lags AS (SELECT unnest(range(1, 15)) AS lag_k),
        |terms AS (
        |  SELECT lag_k, sum(a.e * b.e) AS sk
        |  FROM dm a CROSS JOIN lags JOIN dm b ON a.rn = b.rn + lag_k
        |  GROUP BY 1),
        |acf AS (
        |  SELECT lag_k, CASE WHEN s0 > 0 THEN sk / s0 ELSE 0 END AS r, n
        |  FROM terms, den, st)
        |SELECT lag_k::INT AS lag_k, round(r, 6) AS acf,
        |  round(sum(r * r / (n - lag_k))
        |      OVER (ORDER BY lag_k ROWS UNBOUNDED PRECEDING) * n * (n + 2),
        |    4) AS ljung_box_q
        |FROM acf ORDER BY lag_k""".stripMargin,
    "q86_theil" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY 1),
        |g AS (
        |  SELECT n_name, count(*)::BIGINT AS n_customers, sum(x) AS t,
        |    sum(x * ln(x)) AS sxl
        |  FROM spend
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(t) AS gt, sum(n_customers) AS gn FROM g)
        |SELECT n_name, n_customers,
        |  round(t / gt, 6) AS share,
        |  round(sxl / t - ln(t / n_customers), 6) AS theil_within,
        |  round((t / gt) * ln((t / n_customers) / (gt / gn)), 6) AS between_term
        |FROM g, tot ORDER BY n_name""".stripMargin,
    "q87_hhi" ->
      """WITH rev AS (
        |  SELECT n_name, l_suppkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY n_name ORDER BY rev DESC, l_suppkey) AS rk
        |  FROM rev)
        |SELECT n_name, count(*)::BIGINT AS n_suppliers,
        |  round(sum(rev * rev) / (sum(rev) * sum(rev)), 6) AS hhi,
        |  round(sum(CASE WHEN rk <= 4 THEN rev ELSE 0 END) / sum(rev), 6) AS cr4
        |FROM r GROUP BY 1 ORDER BY n_name""".stripMargin,
    "q85_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn
        |      FROM spend)
        |SELECT count(*)::BIGINT AS n_customers,
        |  sum(cents)::BIGINT AS total_cents,
        |  round(2.0 * sum(rn * cents::DOUBLE) /
        |    (count(*) * sum(cents::DOUBLE)) -
        |    (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r""".stripMargin,
    "q84_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |fv AS (
        |  SELECT user_id, min(us) AS fv FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |conv AS (
        |  SELECT f.user_id,
        |    (min(p.us) - f.fv) / 3600000000.0 AS delay_h
        |  FROM fv f LEFT JOIN ev p
        |    ON p.user_id = f.user_id AND p.event_type = 'purchase'
        |      AND p.us > f.fv
        |  GROUP BY f.user_id, f.fv)
        |SELECT count(*)::BIGINT AS n_viewers,
        |  count(delay_h)::BIGINT AS n_converted,
        |  round(count(delay_h) / count(*)::DOUBLE, 4) AS cvr,
        |  round(quantile_cont(delay_h, 0.25), 2) AS p25_h,
        |  round(quantile_cont(delay_h, 0.5), 2) AS p50_h,
        |  round(quantile_cont(delay_h, 0.75), 2) AS p75_h,
        |  round(quantile_cont(delay_h, 0.9), 2) AS p90_h
        |FROM conv""".stripMargin,
    "q81_anova" ->
      """WITH spend AS (
        |  SELECT o_custkey, c_mktsegment, sum(o_totalprice) AS spend
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |means AS (
        |  SELECT c_mktsegment, count(*)::DOUBLE AS ng, avg(spend) AS mg
        |  FROM spend GROUP BY 1),
        |grand AS (SELECT avg(spend) AS m, count(*)::BIGINT AS n FROM spend),
        |w AS (
        |  SELECT sum(pow(spend - mg, 2)) AS ssw
        |  FROM spend JOIN means USING (c_mktsegment)),
        |b AS (
        |  SELECT sum(ng * pow(mg - m, 2)) AS ssb, count(*)::BIGINT AS k,
        |    first(n) AS n
        |  FROM means, grand)
        |SELECT k, n,
        |  round((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat,
        |  round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM b, w""".stripMargin,
    "q82_interpurchase" ->
      """WITH gaps AS (
        |  SELECT (date_diff('day',
        |      lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      o_orderdate::DATE) // 7)::BIGINT AS gap_weeks
        |  FROM orders),
        |g AS (SELECT gap_weeks FROM gaps WHERE gap_weeks IS NOT NULL),
        |t AS (SELECT count(*)::DOUBLE AS total FROM g)
        |SELECT gap_weeks, count(*)::BIGINT AS n_gaps,
        |  round(count(*) / total, 4) AS pct
        |FROM g, t GROUP BY gap_weeks, total ORDER BY gap_weeks""".stripMargin,
    "q83_forecast_eval" ->
      """WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT n, lag(n, 1) OVER (ORDER BY day) AS naive,
        |    lag(n, 7) OVER (ORDER BY day) AS snaive
        |  FROM daily),
        |d AS (SELECT * FROM f WHERE naive IS NOT NULL AND snaive IS NOT NULL)
        |SELECT 'naive' AS model, count(*)::BIGINT AS n_days,
        |  round(avg(abs(n - naive)), 4) AS mae,
        |  round(sqrt(avg(pow(n - naive, 2))), 4) AS rmse,
        |  round(avg(abs(n - naive) / n), 6) AS mape
        |FROM d
        |UNION ALL
        |SELECT 'snaive7', count(*)::BIGINT,
        |  round(avg(abs(n - snaive)), 4),
        |  round(sqrt(avg(pow(n - snaive, 2))), 4),
        |  round(avg(abs(n - snaive) / n), 6)
        |FROM d ORDER BY model""".stripMargin,
    "q76_benford" ->
      """WITH dg AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
        |g AS (SELECT digit, count(*)::BIGINT AS n FROM dg GROUP BY 1),
        |t AS (SELECT sum(n)::DOUBLE AS total FROM g)
        |SELECT digit, n, round(n / total, 4) AS share,
        |  round(log10(1 + 1.0 / digit), 4) AS benford_p,
        |  round(pow(n - total * log10(1 + 1.0 / digit), 2) /
        |    (total * log10(1 + 1.0 / digit)), 4) AS chi2_term
        |FROM g, t ORDER BY digit""".stripMargin,
    "q77_yoy_growth" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    round(sum(o_totalprice), 2) AS revenue, count(*)::BIGINT AS n_orders
        |  FROM orders GROUP BY 1),
        |w AS (SELECT *, lag(revenue, 1) OVER (ORDER BY month) AS pm,
        |  lag(revenue, 12) OVER (ORDER BY month) AS py FROM m)
        |SELECT month, n_orders, revenue,
        |  round((revenue - pm) / pm, 4) AS mom,
        |  round((revenue - py) / py, 4) AS yoy
        |FROM w ORDER BY month""".stripMargin,
    "q78_auc" ->
      """WITH s AS (
        |  SELECT value AS sc, (event_type = 'purchase')::BIGINT AS y FROM events),
        |g AS (SELECT sc, sum(y)::BIGINT AS np,
        |  (count(*) - sum(y))::BIGINT AS nn FROM s GROUP BY 1),
        |c AS (SELECT sc, np, nn, coalesce(sum(nn) OVER (ORDER BY sc
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS nnb
        |  FROM g),
        |t AS (SELECT sum(np * (nnb + nn / 2.0)) AS u, sum(np)::BIGINT AS n_pos,
        |  sum(nn)::BIGINT AS n_neg FROM c)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN round(u / (n_pos::DOUBLE * n_neg::DOUBLE), 6) END AS auc
        |FROM t""".stripMargin,
    "q79_survival" ->
      s"""WITH act AS (
        |  SELECT user_id, min(ts::DATE) AS fd, max(ts::DATE) AS ld
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(ld) AS mxd FROM act),
        |life AS (
        |  SELECT date_diff('day', fd, ld)::BIGINT AS t_days,
        |    (ld < mxd - ${SurvivalCensorDays - 1})::BIGINT AS death
        |  FROM act, mx),
        |byd AS (SELECT t_days, sum(death)::BIGINT AS deaths,
        |  count(*)::BIGINT AS n_ending FROM life GROUP BY 1),
        |t AS (SELECT sum(n_ending)::BIGINT AS total FROM byd),
        |km AS (
        |  SELECT t_days, n_ending, deaths,
        |    total - coalesce(sum(n_ending) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS at_risk
        |  FROM byd, t),
        |z AS (
        |  SELECT *, max((deaths = at_risk)::INT) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
        |  FROM km)
        |SELECT t_days, n_ending, deaths, at_risk,
        |  CASE WHEN zeroed = 1 THEN 0.0 ELSE
        |    round(exp(sum(CASE WHEN deaths < at_risk
        |      THEN ln(1.0 - deaths / at_risk::DOUBLE) END)
        |      OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) END
        |    AS survival
        |FROM z ORDER BY t_days""".stripMargin,
    "q80_price_elasticity" ->
      """WITH j AS (
        |  SELECT p_brand, ln(l_extendedprice / l_quantity) AS lp,
        |    ln(l_quantity) AS lq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT p_brand, regr_count(lq, lp)::BIGINT AS n,
        |  round(regr_slope(lq, lp), 4) AS elasticity,
        |  round(regr_r2(lq, lp), 4) AS r2
        |FROM j GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "q75_peak_concurrency" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |tagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess0 AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM tagged),
        |sess AS (
        |  SELECT user_id, sid, min(us) AS st, max(us) AS en
        |  FROM sess0 GROUP BY 1, 2),
        |segs AS (
        |  SELECT unnest(generate_series(st // 86400000000,
        |    en // 86400000000)) AS dayn, st, en FROM sess),
        |segs2 AS (
        |  SELECT dayn, greatest(st, dayn * 86400000000) AS seg_st,
        |    least(en, (dayn + 1) * 86400000000 - 1) AS seg_en FROM segs),
        |evts AS (
        |  SELECT dayn, seg_st AS t, 1 AS delta FROM segs2
        |  UNION ALL SELECT dayn, seg_en + 1, -1 FROM segs2),
        |runs AS (
        |  SELECT dayn, sum(delta) OVER (PARTITION BY dayn ORDER BY t, delta)
        |    AS run
        |  FROM evts)
        |SELECT strftime(to_timestamp(dayn * 86400)::DATE, '%Y-%m-%d') AS day,
        |  (count(*) / 2)::BIGINT AS n_segments,
        |  max(run)::BIGINT AS peak_concurrent
        |FROM runs GROUP BY dayn ORDER BY day""".stripMargin,
    "q74_top_paths" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |tagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM tagged),
        |f AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
        |    FROM sess) WHERE rn <= $PathDepth),
        |p AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM f GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q73_holt" ->
      s"""WITH RECURSIVE daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily),
        |h AS (
        |  SELECT 0 AS rn,
        |    (SELECT n FROM r WHERE rn = 0) AS level,
        |    (SELECT n FROM r WHERE rn = 1) - (SELECT n FROM r WHERE rn = 0)
        |      AS trend
        |  UNION ALL
        |  SELECT r.rn,
        |    $HoltAlpha * r.n + ${1 - HoltAlpha} * (h.level + h.trend),
        |    $HoltBeta * (($HoltAlpha * r.n
        |        + ${1 - HoltAlpha} * (h.level + h.trend)) - h.level)
        |      + ${1 - HoltBeta} * h.trend
        |  FROM h JOIN r ON r.rn = h.rn + 1)
        |SELECT day, n::BIGINT AS n_events, round(level, 4) AS level,
        |  round(trend, 4) AS trend, round(level + trend, 4) AS forecast_next
        |FROM h JOIN r USING (rn) ORDER BY day""".stripMargin,
    "q71_bollinger" ->
      """WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, n,
        |    avg(n) OVER f AS ma, stddev_samp(n) OVER f AS sd
        |  FROM daily
        |  WINDOW f AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, n::BIGINT AS n_events, round(ma, 4) AS ma7,
        |  round(ma + 2 * sd, 4) AS upper, round(ma - 2 * sd, 4) AS lower,
        |  CASE WHEN sd IS NOT NULL
        |    THEN (n > ma + 2 * sd OR n < ma - 2 * sd)::INT END AS breach
        |FROM w ORDER BY day""".stripMargin,
    "q72_new_returning" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM act GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*)::BIGINT AS n_active,
        |  sum((day = first_day)::BIGINT)::BIGINT AS n_new,
        |  (count(*) - sum((day = first_day)::BIGINT))::BIGINT AS n_returning
        |FROM act JOIN f USING (user_id)
        |GROUP BY day ORDER BY 1""".stripMargin,
    "q70_rolling_median" ->
      """WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n::BIGINT AS n_events,
        |  round(median(n) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS med7
        |FROM daily ORDER BY day""".stripMargin,
    "q69_stl_anomaly" ->
      s"""WITH q57 AS ($q57Sql),
        |res AS (SELECT * FROM q57 WHERE residual IS NOT NULL),
        |m AS (SELECT median(residual) AS med FROM res),
        |md AS (
        |  SELECT median(abs(residual - med)) AS mad FROM res, m)
        |SELECT day, n_events, residual,
        |  (abs(residual - med) > 3 * 1.4826 * mad)::INT AS is_anomaly
        |FROM res, m, md ORDER BY day""".stripMargin,
    "q67_contribution" ->
      """WITH rev AS (
        |  SELECT c_mktsegment, strftime(o_orderdate, '%Y-%m') AS m,
        |    sum(round(o_totalprice * 100)::BIGINT) AS rc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-03-01'
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT c_mktsegment,
        |    sum(CASE WHEN m = '1997-01' THEN rc ELSE 0 END) / 100.0 AS rev_prev,
        |    sum(CASE WHEN m = '1997-02' THEN rc ELSE 0 END) / 100.0 AS rev_curr
        |  FROM rev GROUP BY 1),
        |w AS (
        |  SELECT *, round(rev_curr - rev_prev, 2) AS delta FROM p)
        |SELECT c_mktsegment, round(rev_prev, 2) AS rev_prev,
        |  round(rev_curr, 2) AS rev_curr, delta,
        |  round(delta / sum(delta) OVER (), 4) AS share_of_delta
        |FROM w ORDER BY c_mktsegment""".stripMargin,
    "q65_ewma" ->
      s"""WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily)
        |SELECT a.day, a.n::BIGINT AS n_events,
        |  round(sum(pow(${1 - EwmaAlpha}, a.rn - b.rn) *
        |    (CASE WHEN b.rn = 0 THEN 1.0 ELSE $EwmaAlpha END) * b.n), 4)
        |    AS ewma
        |FROM r a JOIN r b ON b.rn <= a.rn
        |GROUP BY a.day, a.n ORDER BY a.day""".stripMargin,
    "q66_abc_analysis" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT) AS rc
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(rc)::DOUBLE AS t FROM rev),
        |c AS (
        |  SELECT rc,
        |    sum(rc) OVER (ORDER BY rc DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t AS cum
        |  FROM rev, tot),
        |cls AS (
        |  SELECT CASE WHEN cum <= 0.8 THEN 'A' WHEN cum <= 0.95 THEN 'B'
        |         ELSE 'C' END AS abc_class, rc FROM c),
        |tot2 AS (SELECT sum(rc)::DOUBLE AS t FROM cls)
        |SELECT abc_class, count(*)::BIGINT AS n_parts,
        |  round(sum(rc) / 100.0, 2) AS revenue,
        |  round(sum(rc) / t, 4) AS share
        |FROM cls, tot2 GROUP BY 1, t ORDER BY 1""".stripMargin,
    "q63_chisq" ->
      """WITH obs AS (
        |  SELECT event_type, dayofweek(ts::DATE) AS wd, count(*)::DOUBLE AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *, sum(o) OVER (PARTITION BY event_type) AS rt,
        |    sum(o) OVER (PARTITION BY wd) AS ct, sum(o) OVER () AS n
        |  FROM obs)
        |SELECT round(sum(pow(o - rt*ct/n, 2) / (rt*ct/n)), 4) AS chi2,
        |  ((count(DISTINCT event_type) - 1)
        |    * (count(DISTINCT wd) - 1))::INT AS dof,
        |  sum(o)::BIGINT AS n
        |FROM m""".stripMargin,
    "q64_linreg" ->
      """SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity)::BIGINT AS n
        |FROM lineitem""".stripMargin,
    "q59_skyline" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,
    "q60_gap_fill" ->
      s"""WITH series AS (
        |  SELECT l_shipdate::DATE AS day, count(*)::BIGINT AS n
        |  FROM lineitem WHERE l_quantity > $GapFillMinQty GROUP BY 1),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM series),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM b)
        |SELECT strftime(sp.day, '%Y-%m-%d') AS day,
        |  last_value(n IGNORE NULLS) OVER (ORDER BY sp.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |  (n IS NULL)::INT AS was_filled
        |FROM spine sp LEFT JOIN series se ON sp.day = se.day ORDER BY 1""".stripMargin,
    "q61_correlation" ->
      """WITH c AS (SELECT
        |  corr(l_discount, l_extendedprice) AS v1,
        |  corr(l_discount, l_quantity) AS v2,
        |  corr(l_discount, l_tax) AS v3,
        |  corr(l_extendedprice, l_quantity) AS v4,
        |  corr(l_extendedprice, l_tax) AS v5,
        |  corr(l_quantity, l_tax) AS v6 FROM lineitem)
        |SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |  round(v1, 4) AS corr FROM c
        |UNION ALL SELECT 'l_discount', 'l_quantity', round(v2, 4) FROM c
        |UNION ALL SELECT 'l_discount', 'l_tax', round(v3, 4) FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_quantity', round(v4, 4) FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', round(v5, 4) FROM c
        |UNION ALL SELECT 'l_quantity', 'l_tax', round(v6, 4) FROM c
        |ORDER BY col_a, col_b""".stripMargin,
    "q62_welch_ttest" ->
      """WITH g AS (SELECT
        |  count(*) FILTER (event_type = 'purchase')::DOUBLE AS na,
        |  count(*) FILTER (event_type = 'click')::DOUBLE AS nb,
        |  avg(value) FILTER (event_type = 'purchase') AS ma,
        |  avg(value) FILTER (event_type = 'click') AS mb,
        |  var_samp(value) FILTER (event_type = 'purchase') AS va,
        |  var_samp(value) FILTER (event_type = 'click') AS vb
        |  FROM events WHERE event_type IN ('purchase', 'click'))
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  round((ma - mb) / sqrt(va/na + vb/nb), 4) AS t_stat,
        |  round(pow(va/na + vb/nb, 2) /
        |    (pow(va/na, 2)/(na-1) + pow(vb/nb, 2)/(nb-1)), 2) AS dof
        |FROM g""".stripMargin,
    "q57_seasonal_decompose" -> q57Sql,
    "q56_session_metrics" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |tagged AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM tagged),
        |per AS (
        |  SELECT user_id, sid, count(*)::BIGINT AS n_events,
        |    (max(us) - min(us)) / 1000000.0 AS dur_s,
        |    max((event_type = 'purchase')::INT) AS converted,
        |    struct_extract(min(struct_pack(us := us, event_id := event_id,
        |      et := event_type)), 'et') AS entry_type
        |  FROM sess GROUP BY 1, 2)
        |SELECT entry_type, count(*)::BIGINT AS n_sessions,
        |  round(avg(n_events), 4) AS avg_events,
        |  round(avg(dur_s), 4) AS avg_duration_s,
        |  round(avg(converted), 4) AS conversion_rate
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q55_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT strftime(ts::DATE, '%Y-%m-%d') AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1),
        |mu AS (SELECT avg(n) AS mu FROM daily),
        |cus AS (
        |  SELECT day, n, sum(n - mu) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily, mu)
        |SELECT day, n::BIGINT AS n_events, round(cusum, 4) AS cusum,
        |  (abs(cusum) = max(abs(cusum)) OVER ())::INT AS is_changepoint
        |FROM cus ORDER BY day""".stripMargin,
    "q51_histogram" ->
      s"""WITH s AS (
        |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem),
        |b AS (
        |  SELECT least(floor((l_extendedprice - mn) / ((mx - mn) / $HistogramBuckets)),
        |           ${HistogramBuckets - 1})::INT AS bucket,
        |         CAST(round(mn * 100) AS BIGINT) AS mnc,
        |         CAST(round(mx * 100) AS BIGINT)
        |           - CAST(round(mn * 100) AS BIGINT) AS kc
        |  FROM lineitem, s)
        |SELECT bucket,
        |  ((2*($HistogramBuckets*mnc + bucket*kc) + $HistogramBuckets)
        |    // ${2 * HistogramBuckets}) / 100.0 AS lo,
        |  ((2*($HistogramBuckets*mnc + (bucket+1)*kc) + $HistogramBuckets)
        |    // ${2 * HistogramBuckets}) / 100.0 AS hi,
        |  count(*)::BIGINT AS n
        |FROM b GROUP BY bucket, mnc, kc ORDER BY bucket""".stripMargin,
    "q52_rfm" ->
      s"""WITH per AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(o_orderdate)::DATE, DATE '$RfmCutoff')::DOUBLE AS recency,
        |    count(*)::DOUBLE AS frequency,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mc
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT quantile_cont(recency, [0.2, 0.4, 0.6, 0.8]) AS rb,
        |         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
        |         quantile_cont(mc::DOUBLE, [0.2, 0.4, 0.6, 0.8]) AS mb
        |  FROM per)
        |SELECT 6 - (1 + (recency >= rb[1])::INT + (recency >= rb[2])::INT
        |    + (recency >= rb[3])::INT + (recency >= rb[4])::INT) AS r_score,
        |  1 + (frequency >= fb[1])::INT + (frequency >= fb[2])::INT
        |    + (frequency >= fb[3])::INT + (frequency >= fb[4])::INT AS f_score,
        |  1 + (mc::DOUBLE >= mb[1])::INT + (mc::DOUBLE >= mb[2])::INT
        |    + (mc::DOUBLE >= mb[3])::INT + (mc::DOUBLE >= mb[4])::INT AS m_score,
        |  count(*)::BIGINT AS n_customers,
        |  ((2 * sum(mc) + count(*)) // (2 * count(*))) / 100.0
        |    AS avg_monetary
        |FROM per, b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q53_mad_outliers" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |med AS (
        |  SELECT c_mktsegment, quantile_cont(sc, 0.5) AS med_c
        |  FROM spend GROUP BY 1),
        |dev AS (
        |  SELECT s.c_mktsegment, abs(sc - med_c) AS dev_c, med_c
        |  FROM spend s JOIN med USING (c_mktsegment)),
        |m2 AS (
        |  SELECT c_mktsegment, quantile_cont(dev_c, 0.5) AS mad_c
        |  FROM dev GROUP BY 1)
        |SELECT d.c_mktsegment, count(*)::BIGINT AS n_customers,
        |  round(any_value(d.med_c) / 100.0, 3) AS med,
        |  round(any_value(m2.mad_c) / 100.0, 3) AS mad,
        |  sum(CASE WHEN dev_c > 3 * mad_c THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers,
        |  round(sum(CASE WHEN dev_c > 3 * mad_c THEN 1 ELSE 0 END)
        |    / count(*), 4) AS pct_outliers
        |FROM dev d JOIN m2 USING (c_mktsegment)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_triangles" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n, count(*)::BIGINT AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS ddst
        |  FROM e JOIN deg du ON u = du.n JOIN deg dv ON v = dv.n),
        |tri AS (
        |  SELECT count(*)::BIGINT AS n_triangles
        |  FROM o x JOIN o y ON x.src = y.src AND (x.ddst, x.dst) < (y.ddst, y.dst)
        |           JOIN o z ON z.src = x.dst AND z.dst = y.dst)
        |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM e)::BIGINT AS n_edges,
        |  n_triangles,
        |  round(3.0 * n_triangles / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
        |    AS clustering
        |FROM tri""".stripMargin,
    "q46_cohort_retention" ->
      """WITH o AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS mon
        |  FROM orders),
        |f AS (
        |  SELECT o_custkey, min(mon) AS cohort FROM o GROUP BY 1),
        |act AS (
        |  SELECT cohort, date_diff('month', cohort, mon)::INT AS offset_m,
        |    count(DISTINCT o.o_custkey)::BIGINT AS n_active
        |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |sz AS (
        |  SELECT cohort, count(*)::BIGINT AS cohort_size FROM f GROUP BY 1)
        |SELECT cohort, offset_m, n_active, cohort_size,
        |  ((n_active * 20000 + cohort_size) // (cohort_size * 2)) / 10000.0
        |    AS retention
        |FROM act JOIN sz USING (cohort) ORDER BY 1, 2""".stripMargin,
    "q41_range_join" ->
      """WITH bands AS (
        |  SELECT i AS band, 900 + i*(i+1)//2 AS lo, 900 + (i+1)*(i+2)//2 AS hi
        |  FROM range(0, 14) t(i))
        |SELECT band, count(*)::BIGINT AS n_parts,
        |  round(avg(p_retailprice), 2) AS avg_price,
        |  round(sum(p_retailprice), 2) AS sum_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, ts::DATE AS day, epoch_us(ts::TIMESTAMP) AS us,
        |    value, event_id
        |  FROM events),
        |l AS (
        |  SELECT *, lead(us) OVER (
        |    PARTITION BY user_id, day ORDER BY us, event_id) AS next_us
        |  FROM e)
        |SELECT user_id, day, count(*)::BIGINT AS n_intervals,
        |  round(sum(value * (next_us - us)) / sum(next_us - us), 4) AS twa
        |FROM l WHERE next_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q49_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS b
        |  FROM events),
        |tr AS (
        |  SELECT a, b, count(*)::BIGINT AS n FROM seq
        |  WHERE b IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT a, sum(n)::DOUBLE AS na FROM tr GROUP BY 1)
        |SELECT a, b, n, round(n / na, 4) AS p
        |FROM tr JOIN tot USING (a) ORDER BY a, b""".stripMargin,
    "q50_pagerank" ->
      s"""WITH RECURSIVE ob AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |e0 AS (
        |  SELECT a.brand AS src, b.brand AS dst, count(*)::DOUBLE AS w
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand <> b.brand
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, sum(w) AS wout FROM e0 GROUP BY 1),
        |e AS (SELECT src, dst, w / wout AS p FROM e0 JOIN outw USING (src)),
        |nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM e0),
        |ranks AS (
        |  SELECT 0 AS it, src AS brand, 1.0 / (SELECT n FROM nn) AS r
        |  FROM (SELECT DISTINCT src FROM e0)
        |  UNION ALL
        |  SELECT it + 1, e.dst,
        |    ${1 - PageRankDamping} / (SELECT n FROM nn)
        |      + $PageRankDamping * sum(ranks.r * e.p)
        |  FROM ranks JOIN e ON ranks.brand = e.src
        |  WHERE it < $PageRankIters
        |  GROUP BY it + 1, e.dst)
        |SELECT brand, round(r, 6) AS pagerank FROM ranks
        |WHERE it = $PageRankIters ORDER BY brand""".stripMargin,
    "q47_attribution" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
        |    max_by(json_extract(props, '$.k')::BIGINT % 8, event_id) AS campaign
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, us, NULL::DOUBLE AS value, 1 AS kind,
        |    campaign, us AS c_us FROM clicks
        |  UNION ALL
        |  SELECT user_id, us, value, 0 AS kind, NULL, NULL FROM purchases),
        |w AS (
        |  SELECT user_id, us, value, kind,
        |    last_value(campaign IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, kind
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_campaign,
        |    last_value(c_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY us, kind
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
        |  FROM u)
        |SELECT CASE WHEN last_click_us IS NOT NULL
        |            AND us - last_click_us <= 86400000000
        |            THEN last_campaign ELSE -1 END::INT AS campaign,
        |  count(*)::BIGINT AS n_purchases,
        |  round(sum(value), 2) AS attributed_value
        |FROM w WHERE kind = 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_basket_lift" ->
      """WITH ob AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT ok)::DOUBLE AS n_orders FROM ob),
        |singles AS (SELECT brand, count(*)::DOUBLE AS n_b FROM ob GROUP BY 1),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*)::BIGINT AS n_ab
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab,
        |  round(n_ab * n_orders / (sa.n_b * sb.n_b), 4) AS lift
        |FROM pairs
        |JOIN singles sa ON sa.brand = pairs.brand_a
        |JOIN singles sb ON sb.brand = pairs.brand_b
        |CROSS JOIN n
        |WHERE n_ab >= 5
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin,
    "q44_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
        |tv AS (
        |  SELECT user_id, min(us) AS tv FROM ev WHERE event_type = 'view' GROUP BY 1),
        |tc AS (
        |  SELECT e.user_id, min(us) AS tc FROM ev e JOIN tv USING (user_id)
        |  WHERE event_type = 'click' AND us > tv AND us <= tv + 21600000000 GROUP BY 1),
        |tp AS (
        |  SELECT e.user_id, min(us) AS tp FROM ev e JOIN tc USING (user_id)
        |  WHERE event_type = 'purchase' AND us > tc AND us <= tc + 21600000000 GROUP BY 1),
        |depths AS (
        |  SELECT u.user_id,
        |    CASE WHEN tp IS NOT NULL THEN 3 WHEN tc IS NOT NULL THEN 2
        |         WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS depth
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN tv USING (user_id) LEFT JOIN tc USING (user_id)
        |  LEFT JOIN tp USING (user_id))
        |SELECT depth::INT AS depth, count(*)::BIGINT AS n_users
        |FROM depths GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_stats_profile" ->
      """SELECT l_returnflag,
        |  count(*)::BIGINT AS n,
        |  round(corr(l_extendedprice, l_quantity), 4) AS corr_price_qty,
        |  round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty,
        |  round(stddev_samp(l_quantity), 4) AS std_qty,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY substring(md5(c_custkey::VARCHAR), 1, 12), c_custkey) AS rn
        |  FROM customer)
        |SELECT c_mktsegment, rn::INT AS rn, c_custkey, c_name, c_acctbal
        |FROM ranked WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
        |    AS sum_base_price,
        |  ((2 * sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |            AS BIGINT)) + 100) // 200) / 100.0 AS sum_disc_price,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  count(*)::BIGINT AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
        |  AND l_discount >= 0.08 AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_agg" ->
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "q04_semijoin" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q05_multijoin" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q06_selective" ->
      """SELECT ((2 * sum(CAST(round(l_extendedprice * l_discount * 10000)
        |            AS BIGINT)) + 100) // 200) / 100.0 AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_window_rank" ->
      """SELECT c_nationkey, rn, c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey)::INT AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "q08_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q09_count_distinct" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey)::BIGINT AS n_cust,
        |  count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q11_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |  coalesce(n_name, 'ALL') AS nation_name,
        |  count(*)::BIGINT AS n_cust,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "q12_case_agg" ->
      """SELECT month(l_shipdate)::INT AS ship_month,
        |  sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |    ELSE 0 END) / 100.0 AS returned_price,
        |  sum(CASE WHEN l_returnflag <> 'R'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |    ELSE 0 END) / 100.0 AS kept_price,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_outer_join_agg" ->
      """SELECT c_custkey,
        |  count(o_orderkey)::BIGINT AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_union" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
        |ORDER BY custkey""".stripMargin,
    "q15_scalar_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q16_having" ->
      """SELECT c_nationkey, count(*)::BIGINT AS n_cust,
        |  round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer GROUP BY 1 HAVING count(*) >= 5
        |ORDER BY 1""".stripMargin,
    "q17_correlated" ->
      """SELECT count(*)::BIGINT AS n_items,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
        |    AS total_price
        |FROM lineitem l
        |WHERE l_quantity > 1.5 * (SELECT avg(l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q18_in_subquery" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_complex_pred" ->
      """SELECT ((2 * sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |            * 10000) AS BIGINT)) + 100) // 200) / 100.0 AS revenue,
        |  count(*)::BIGINT AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20 AND p_size BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30 AND p_size BETWEEN 1 AND 25)
        |   OR (p_type = 'PROMO' AND l_discount >= 0.05)""".stripMargin,
    "q20_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q21_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts::TIMESTAMP AS cts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS pts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, epoch_us(p.pts) AS ts_us,
        |  c.click_id,
        |  epoch_us(p.pts) - epoch_us(c.cts) AS gap_us
        |FROM purchases p
        |ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.cts < p.pts
        |ORDER BY p.event_id""".stripMargin,
    "q22_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q23_percentile" ->
      """WITH c AS (SELECT o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderpriority,
        |  round(quantile_cont(cents, 0.5) / 100.0, 4) AS p50,
        |  round(quantile_cont(cents, 0.9) / 100.0, 4) AS p90,
        |  round(quantile_cont(cents, 0.99) / 100.0, 4) AS p99,
        |  count(*)::BIGINT AS n_orders
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_pivot" ->
      """SELECT month(o_orderdate)::INT AS order_month,
        |  coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN
        |    CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0, 0.0)
        |    AS f_total,
        |  coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN
        |    CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0, 0.0)
        |    AS o_total,
        |  coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN
        |    CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0, 0.0)
        |    AS p_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_setops" ->
      """SELECT custkey, 'loyal' AS cohort FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |UNION ALL
        |SELECT custkey, 'churned' AS cohort FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |ORDER BY cohort, custkey""".stripMargin,
    "q26_lead_lag" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate, o_orderkey),
        |      o_orderdate::DATE)::INT AS gap_days
        |  FROM orders)
        |SELECT o_custkey, count(*)::BIGINT AS n_orders,
        |  round(avg(gap_days), 2) AS avg_gap_days, max(gap_days) AS max_gap_days
        |FROM g GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin,
    "q27_ntile" ->
      """WITH t AS (
        |  SELECT o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)::INT AS decile
        |  FROM orders)
        |SELECT decile, count(*)::BIGINT AS n_orders,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(avg(o_totalprice), 2) AS avg_price
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_string_agg" ->
      """SELECT c_nationkey, count(*)::BIGINT AS n_premium,
        |  string_agg(c_name, '|' ORDER BY c_name) AS roster
        |FROM customer WHERE c_acctbal > 9000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_json_extract" ->
      """SELECT json_extract_string(props, '$.k')::INT AS k,
        |  count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_rolling_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |r AS (
        |  SELECT day, count(DISTINCT user_id) OVER (
        |    ORDER BY date_diff('day', DATE '1970-01-01', day)
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS u7
        |  FROM du)
        |SELECT day, max(u7)::BIGINT AS users_7d
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_decile_profile" ->
      """WITH b AS (
        |  SELECT list_transform(
        |    quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> round(x, 4)) AS bnds
        |  FROM orders)
        |SELECT len(list_filter(b.bnds, x -> o.o_totalprice > x)) + 1 AS decile,
        |  count(*)::BIGINT AS n_orders,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(avg(o_totalprice), 2) AS avg_price
        |FROM orders o, b
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q36_percent_rank" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    round(percent_rank() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal, c_custkey), 6) AS pct_rank,
        |    round(cume_dist() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal, c_custkey), 6) AS cume
        |  FROM customer)
        |SELECT c_mktsegment, c_custkey, c_acctbal, pct_rank, cume
        |FROM r WHERE pct_rank >= 0.95
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q40_inactive_customers" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer c
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
        |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0
        |                     AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE'))
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_exists_agg" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_returnflag = 'R'))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q33_topk_per_key" ->
      """SELECT c_nationkey, rn, c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey)::INT AS rn
        |  FROM customer) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,
    "q31_trailing_window" ->
      """SELECT o_orderkey, o_custkey,
        |  date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::INT AS day_n,
        |  count(*) OVER w AS n_orders_30d,
        |  round(sum(o_totalprice) OVER w, 2) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q30_salted_join" ->
      """WITH dim AS (
        |  SELECT user_id, min(ts::TIMESTAMP) AS first_ts FROM events GROUP BY 1)
        |SELECT e.user_id, count(*)::BIGINT AS n_events,
        |  round(sum(e.value), 2) AS sum_value,
        |  epoch_us(min(d.first_ts)) AS first_ts_us
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
