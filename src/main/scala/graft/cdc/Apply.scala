package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed CDC "apply to replica" — materializes the latest row state
  * per key from a change stream (the creek-pg-client consumer contract:
  * upsert on c/u/r, delete on d, pk-change u_pk = delete old key + upsert
  * new key, t truncates the table).
  *
  * Every replica merge in graft — full replay, snapshot ⊕ WAL, retention
  * resume, JDBC poll batches, the incremental view, the table sink — is
  * one call of [[fold]]: previous state ⊕ new WAL under one update rule.
  *
  * Scale design (SURVEY.md §4): shuffle-once-per-key. u_pk events are
  * exploded into two half-events (delete@before-key, insert@after-key)
  * BEFORE the shuffle, ordered by ord = 2*lsn(+1) so one max_by
  * aggregation materializes the final state — no per-key sort, no
  * row_number. Truncate is a tiny grouped aggregate broadcast to the
  * scan, pruning dead ops map-side (pre-shuffle). At 100 TB this is one
  * hash shuffle of the post-truncate half-events; partial max_by combines
  * map-side, so shuffle bytes ≈ one row per key per map partition.
  */
object Apply {

  /** Explode flat change events into upsert/delete half-events keyed by pk.
    * ord = lsn_long*2 for the primary half, +1 for the u_pk insert half.
    * `keys` ride along; `carry` columns ride like after_value (null on a
    * delete half).
    */
  def halfEvents(flat: DataFrame, keys: Seq[String] = Nil,
      carry: Seq[String] = Nil): DataFrame = {
    val deletes = col("op").isin("d", "u_pk")
    val upsert = (c: String) => when(!deletes, col(c))
    val primary = flat.filter(col("op") =!= "t").select(keys.map(col) ++ Seq(
      (col("lsn_long") * 2).as("ord"),
      when(col("op") === "u_pk", "d").otherwise(col("op")).as("eff_op"),
      when(deletes, col("pk_before")).otherwise(col("pk_after")).as("pk"),
      upsert("after_value").as("value")) ++ carry.map(c => upsert(c).as(c)): _*)
    val upkInsert = flat.filter(col("op") === "u_pk").select(keys.map(col) ++ Seq(
      (col("lsn_long") * 2 + 1).as("ord"),
      lit("c").as("eff_op"),
      col("pk_after").as("pk"),
      col("after_value").as("value")) ++ carry.map(col): _*)
    primary.union(upkInsert)
  }

  /** Half-events of `flat` plus the `base` rows — prior state
    * (keys…, pk, last_ord, last_op, last_value, last_<carry>…) entering
    * as pseudo half-events at their own ord — that survive the last
    * truncate of their `keys` group (ord > that group's max truncate
    * ord). Base ords precede the WAL's, so a truncate in `flat` cuts the
    * base too, exactly as in a full replay.
    */
  def liveEvents(flat: DataFrame, base: Option[DataFrame] = None,
      keys: Seq[String] = Nil, carry: Seq[String] = Nil): DataFrame = {
    val pseudo = base.map(_.select(keys.map(col) ++ Seq(
      col("last_ord").as("ord"), col("last_op").as("eff_op"), col("pk"),
      col("last_value").as("value")) ++ carry.map(c => col(s"last_$c").as(c)): _*))
    val half = halfEvents(flat, keys, carry)
    // the literal key keeps the cut a GROUPED aggregate when `keys` is
    // empty: no truncate yields no cut row, so over a frame the optimizer
    // can prove truncate-free the cut plans away entirely
    val cuts = flat.filter(col("op") === "t")
      .groupBy(keys.map(col) :+ lit(true): _*)
      .agg(max(col("lsn_long") * 2 + 1).as("tmax"))
      .select(keys.map(col) :+ col("tmax"): _*)
    pseudo.fold(half)(_.union(half))
      .join(broadcast(cuts), keys, "left")
      .filter(col("ord") > coalesce(col("tmax"), lit(-1L)))
      .drop("tmax")
  }

  /** The replica fold: `base` ⊕ `flat` → one row per (keys…, pk) with
    * last_ord, last_op, last_value, last_<carry>… and n_half (the live
    * half-events folded into the key, base rows included). Keys whose
    * last half-event is a delete stay as tombstones (last_op = 'd'), so
    * the result can be the next fold's base; `latest` filters them.
    * One keyed aggregation: a single shuffle on (keys…, pk).
    */
  def fold(flat: DataFrame, base: Option[DataFrame] = None,
      keys: Seq[String] = Nil, carry: Seq[String] = Nil): DataFrame = {
    val byOrd = (c: String) => max_by(col(c), col("ord"))
    liveEvents(flat, base, keys, carry)
      .groupBy(keys.map(col) :+ col("pk"): _*)
      .agg(max("ord").as("last_ord"),
        Seq(byOrd("eff_op").as("last_op"), byOrd("value").as("last_value")) ++
          carry.map(c => byOrd(c).as(s"last_$c")) :+
          count(lit(1)).as("n_half"): _*)
  }

  /** Latest state per key of a full replay, tombstones included. */
  def state(flat: DataFrame): DataFrame = fold(flat)

  /** Materialized replica: live rows only. */
  def latest(flat: DataFrame): DataFrame =
    state(flat).filter(col("last_op") =!= "d")

  /** A snapshot of `flat` as fold base rows: its live half-events (its
    * own truncate cut applied), not yet reduced per key. The fold's one
    * keyed aggregation reduces them together with the WAL after the
    * snapshot, so snapshot ⊕ WAL costs the single shuffle of a full
    * replay; every snapshot ord precedes the WAL's.
    */
  def snapshotOf(flat: DataFrame, keys: Seq[String] = Nil): DataFrame =
    liveEvents(flat, keys = keys).select(keys.map(col) ++ Seq(col("pk"),
      col("ord").as("last_ord"), col("eff_op").as("last_op"),
      col("value").as("last_value")): _*)

  /** Snapshot ⊕ WAL consistency (SURVEY.md §4): the state as of snapshot
    * LSN S is the base of a fold over the WAL after S — one aggregation
    * total yields the same live state as a full replay.
    */
  def snapshotPlusWal(flat: DataFrame, snapLsnDf: DataFrame): DataFrame = {
    val withS = flat.crossJoin(broadcast(snapLsnDf))
    val upToS = withS.filter(col("lsn_long") <= col("s")).drop("s")
    val afterS = withS.filter(col("lsn_long") > col("s")).drop("s")
    fold(afterS, Some(snapshotOf(upToS))).filter(col("last_op") =!= "d")
  }

  // ---- DuckDB oracle fragments mirroring the pipeline above ------------

  /** CTE chain `<p>half, <p>cut, <p>live, <p>state` over a filtered view
    * of `flat` (pass "" for the full stream). `where` is ANDed inside.
    */
  def sqlApply(prefix: String, where: String): String = {
    val w = if (where.isEmpty) "" else s" AND ($where)"
    s"""${prefix}half AS (
       |  SELECT lsn_long * 2 AS ord,
       |         CASE WHEN op = 'u_pk' THEN 'd' ELSE op END AS eff_op,
       |         CASE WHEN op IN ('d','u_pk') THEN pk_before ELSE pk_after END AS pk,
       |         CASE WHEN op IN ('d','u_pk') THEN NULL ELSE after_value END AS value
       |  FROM flat WHERE op <> 't'$w
       |  UNION ALL
       |  SELECT lsn_long * 2 + 1, 'c', pk_after, after_value
       |  FROM flat WHERE op = 'u_pk'$w),
       |${prefix}cut AS (
       |  SELECT coalesce(max(lsn_long * 2 + 1), -1) AS tmax
       |  FROM flat WHERE op = 't'$w),
       |${prefix}live AS (
       |  SELECT * FROM ${prefix}half WHERE ord > (SELECT tmax FROM ${prefix}cut)),
       |${prefix}state AS (
       |  SELECT pk, max(ord) AS last_ord,
       |         max_by(eff_op, ord) AS last_op,
       |         max_by(value, ord) AS last_value
       |  FROM ${prefix}live GROUP BY pk)""".stripMargin
  }
}
