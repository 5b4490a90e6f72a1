package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retention-bounded WAL store — the JetStream limits contract the daemon
  * configures per stream (creek internal/mq/nats.go:244-249: MaxAge /
  * MaxBytes / MaxMsgs under the `limits` policy, all from the
  * `nats-retention-*` flags c32 parses). Limits evict OLDEST-FIRST, so
  * the retained store is always a contiguous LSN suffix; a consumer
  * resuming below the retention floor must detect the gap (c19's
  * continuity check) and fall back to snapshot ⊕ remaining WAL (c08's
  * machinery) — snapshots live in their own stream and are not bounded
  * by the WAL's retention.
  *
  * Scale shape: the floors are computed WITHOUT a global sort or
  * single-partition window. Each is an order statistic over the suffix
  * measure (message count / cumulative bytes), found by iterative range
  * refinement: bucket the remaining LSN range into ≤4096 cells, aggregate
  * per-cell (sum, min, max), walk cells tail-first on the driver
  * (≤4096-row collects — bounded metadata), descend into the boundary
  * cell; ≤ log₄₀₉₆(range) aggregate passes total.
  */
object Retention {
  private type Q = (SparkSession, String) => DataFrame

  private val CellCount = 4096L

  /** Per-message stored size: envelope overhead + op tag (deterministic
    * and SQL-expressible so the oracle prices messages identically).
    */
  def sizeBytes: Column = lit(64L) + length(col("op")).cast("long")

  /** MaxAge floor: the oldest message whose age is within `ageSec` of the
    * head of the publish clock. The clock: messages arrive in LSN order
    * one second apart (arrival time is an MQ-side property, monotone by
    * construction — JetStream's per-message receive timestamps). One tiny
    * aggregate pair.
    */
  def ageFloor(flat: DataFrame, ageSec: Long): Long = {
    val mx = flat.agg(max("lsn_long")).head().getLong(0)
    flat.filter(col("lsn_long") >= mx - ageSec)
      .agg(min("lsn_long")).head().getLong(0)
  }

  /** MaxMsgs/MaxBytes floor: the minimum retained LSN such that the
    * suffix's total `size` stays within `budget` (evict-oldest-first ⇒
    * the retained set is the maximal suffix under the budget). Exact,
    * via range refinement — no global window. Returns max+1 when not
    * even the newest message fits.
    */
  def suffixFloor(flat: DataFrame, size: Column, budget: Long): Long = {
    val b = flat.agg(min("lsn_long"), max("lsn_long")).head()
    var lo = b.getLong(0); var hi = b.getLong(1)
    var rem = budget
    var floor = hi + 1 // nothing retained yet
    var narrowing = true
    while (narrowing && hi - lo + 1 > CellCount) {
      val span = (hi - lo) / CellCount + 1
      val cells = flat
        .filter(col("lsn_long").between(lo, hi))
        .groupBy(((col("lsn_long") - lo) / span).cast("long").as("cell"))
        .agg(sum(size).as("sz"), min("lsn_long").as("mnl"), max("lsn_long").as("mxl"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(-_._1)
      narrowing = false
      var i = 0
      var boundary = false
      while (!boundary && i < cells.length) {
        val (_, sz, mnl, mxl) = cells(i)
        if (sz <= rem) { rem -= sz; floor = mnl; i += 1 } // whole cell fits
        else { lo = mnl; hi = mxl; boundary = true; narrowing = true }
      }
      if (!boundary) return floor // every cell fit: floor is the global min
    }
    // ≤4096 candidates: exact tail-first walk (eviction is contiguous —
    // the first message that doesn't fit evicts everything older)
    val rows = flat.filter(col("lsn_long").between(lo, hi))
      .select(col("lsn_long"), size.cast("long").as("sz")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    var i = 0
    while (i < rows.length && rows(i)._2 <= rem) {
      rem -= rows(i)._2; floor = rows(i)._1; i += 1
    }
    floor
  }

  /** Resume against a retained store: the consumer's durable position is
    * `from` (its own state for a live consumer, the snapshot LSN after a
    * gap fallback); state ≤ from comes from OUTSIDE the bounded stream
    * (local state / snapshot store), the tail comes from the retained
    * suffix only. Same merge as c08: the state at `from` is the base of
    * one fold over the retained suffix.
    */
  def resumeReplay(flat: DataFrame, retainedFloor: Long, from: Long): DataFrame = {
    val wal = flat.filter(col("lsn_long") >= retainedFloor && col("lsn_long") > from)
    Apply.fold(wal, Some(Apply.snapshotOf(flat.filter(col("lsn_long") <= from))))
      .filter(col("last_op") =!= "d")
      .select(col("pk"), round(col("last_value"), 2).as("value"))
  }

  /** c34 (oracle: each setting's replay ≡ the full replay): three
    * retention settings — age-, msgs- and bytes-bounded, parsed through
    * the c32 flag parser — each cuts the store, a consumer parked at a
    * STALE position resumes, detects the gap iff its position fell below
    * the floor, and lands on the identical replica either way.
    */
  val c34_retention: Q = (s, d) => {
    val flat = Envelope.flat(graft.Tables.events(s, d))
      .select("lsn_long", "op", "pk_before", "pk_after", "after_value", "tx_at")
    val sVal = flat.filter(col("tx_at") < lit("2024-01-20").cast("timestamp"))
      .agg(coalesce(max("lsn_long"), lit(-1L)).as("s")).head().getLong(0)
    // the stale consumer's durable position; clamped to ≥0 before halving
    // so Scala truncation and the oracle's DuckDB floor-division (`//`)
    // agree even on the empty-prefix sentinel sVal = -1
    val applied = math.max(sVal, 0L) / 2
    val retention = (flags: Seq[String]) => DaemonConfig.parse(flags).nats.retention
    val settings = Seq(
      ("max_age_150m",
        ageFloor(flat, retention(Seq("--nats-retention-max-age", "150m")).maxAgeMs / 1000)),
      ("max_msgs_5000",
        suffixFloor(flat, lit(1L), retention(Seq("--nats-retention-max-msgs", "5000")).maxMsgs)),
      ("max_bytes_400k",
        suffixFloor(flat, sizeBytes, retention(Seq("--nats-retention-max-bytes", "400000")).maxBytes)))
    settings.map { case (name, floor) =>
      // c19's continuity check at the resume point: the first retained
      // message must be the consumer's next LSN, else data was expired
      val gapDetected = floor > applied + 1
      // gap ⇒ the consumer's position is unservable: fall back to the
      // snapshot store (cut S) ⊕ the retained WAL after S. If retention
      // has expired past even the newest STORED snapshot (floor > S+1),
      // the consumer requests a FRESH snapshot at the floor (c29's
      // request path) — the snapshot producer reads the live table, so
      // its cut always covers the evicted range. Without this, replay
      // silently loses the (S, floor) window.
      val from = if (gapDetected) math.max(sVal, floor - 1) else applied
      resumeReplay(flat, floor, from)
        .select(lit(name).as("setting"), lit(gapDetected).as("gap_detected"),
          col("pk"), col("value"))
    }.reduce(_ union _).orderBy("setting", "pk")
  }
}
