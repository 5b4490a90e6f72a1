package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.cdc.{Apply, Retention, ViewMaintenance}

/** Property sweeps through the REAL distributed operators (not the pure
  * codec models of CodecPropertySpec): random WAL op streams run through
  * Spark's keyed apply and the retention-resume merge, compared against
  * an independent in-memory fold of the creek consumer contract. Fewer
  * cases than the pure suites (each case is a Spark job), but these pin
  * the distributed aggregation itself — ord discipline, u_pk half-event
  * explosion, truncate cuts, base-state and batch-by-batch folds, the
  * incremental view's delta advance — over inputs
  * the planted testdata never produces (dense key collisions, truncates
  * at every position, empty suffixes).
  */
case class FlatRow(lsn_long: Long, op: String, pk_before: Option[Long],
  pk_after: Option[Long], after_value: Option[Double])

object ApplyPropertySpec extends Properties("spark-apply") {
  import SparkTestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  // dense key space (collisions on nearly every stream), 2-dp-exact
  // values (n/100.0 survives Spark's round(x, 2) unchanged) and null
  // values on upserts
  private val genValue: Gen[Option[Double]] =
    Gen.option(Gen.choose(-99999L, 99999L).map(_ / 100.0))

  private val genRows: Gen[Seq[FlatRow]] = for {
    n <- Gen.chooseNum(1, 60)
    specs <- Gen.listOfN(n, for {
      op <- Gen.frequency((5, "c"), (4, "u"), (3, "u_pk"), (3, "d"), (1, "t"))
      pk <- Gen.choose(0L, 12L)
      pkNew <- Gen.choose(0L, 12L)
      v <- genValue
    } yield (op, pk, pkNew, v))
  } yield specs.zipWithIndex.map { case ((op, pk, pkNew, v), i) =>
    FlatRow((i + 1).toLong * 3, op,
      pk_before = if (op == "u_pk" || op == "d") Some(pk) else None,
      pk_after = op match {
        case "c" | "u" => Some(pk)
        case "u_pk" => Some(pkNew)
        case _ => None
      },
      after_value = if (op == "d" || op == "t") None else v)
  }

  private def toDf(rows: Seq[FlatRow]): DataFrame = rows.toDF()

  /** The consumer contract as a pure fold (upsert c/u, u_pk = delete old
    * + upsert new, d deletes, t clears) — the replica ground truth.
    * `v` is what an upsert stores for its key (the after value by default).
    */
  private def fold[V](rows: Seq[FlatRow], v: FlatRow => V): Map[Long, V] =
    rows.sortBy(_.lsn_long).foldLeft(Map.empty[Long, V]) { (st, r) =>
      r.op match {
        case "c" | "u" => st + (r.pk_after.get -> v(r))
        case "u_pk" => st - r.pk_before.get + (r.pk_after.get -> v(r))
        case "d" => st - r.pk_before.get
        case "t" => Map.empty
        case _ => st
      }
    }
  private def fold(rows: Seq[FlatRow]): Map[Long, Option[Double]] =
    fold(rows, _.after_value)

  private def double(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
    Option(r.getAs[java.lang.Double](i)).map(_.doubleValue)

  private def replica(df: DataFrame): Map[Long, Option[Double]] =
    df.collect().map(r => r.getAs[Long]("pk") -> double(r, r.fieldIndex("value"))).toMap

  /** Live rows of an `Apply.fold` result, rounded like the lanes do. */
  private def live(state: DataFrame): Map[Long, Option[Double]] =
    replica(state.filter(col("last_op") =!= "d")
      .select(col("pk"), round(col("last_value"), 2).as("value")))

  private def round2(v: Option[Double]): Option[Double] = v.map(x => math.rint(x * 100) / 100)

  private def rounded(m: Map[Long, Option[Double]]): Map[Long, Option[Double]] =
    m.map { case (k, v) => k -> round2(v) }

  // cut points splitting a stream into consecutive batches
  private def batches(rows: Seq[FlatRow], cutPcts: Seq[Int]): Seq[Seq[FlatRow]] = {
    val cuts = (0 +: cutPcts.map(_ * rows.length / 100) :+ rows.length).sorted
    cuts.zip(cuts.tail).map { case (a, b) => rows.slice(a, b) }
  }

  property("Apply.latest ≡ consumer fold over random streams") =
    Prop.forAll(genRows) { rows =>
      val got = replica(Apply.latest(toDf(rows))
        .select(col("pk"), round(col("last_value"), 2).as("value")))
      got == rounded(fold(rows))
    }

  property("fold over a base state with tombstones ≡ full replay") =
    Prop.forAll(genRows, Gen.chooseNum(0, 100)) { (rows, cutPct) =>
      val Seq(before, after) = batches(rows, Seq(cutPct))
      // the base is the prefix's state as the fold returns it, deletes
      // kept as tombstones at their own ord
      val base = Apply.fold(toDf(before)).persist()
      val tombstones = base.filter(col("last_op") === "d").count()
      val got = live(Apply.fold(toDf(after), Some(base)))
      base.unpersist()
      Prop.collect(if (tombstones > 0) "base has tombstones" else "no tombstones") {
        got == rounded(fold(rows))
      }
    }

  property("per-tbl truncate cuts ≡ the fold per table") =
    Prop.forAll(genRows.flatMap(rows =>
        Gen.listOfN(rows.length, Gen.oneOf("t0", "t1")).map(rows.zip(_)))) { tagged =>
      val df = tagged.map { case (r, t) =>
        (t, r.lsn_long, r.op, r.pk_before, r.pk_after, r.after_value)
      }.toDF("tbl", "lsn_long", "op", "pk_before", "pk_after", "after_value")
      val got = Apply.fold(df, keys = Seq("tbl"))
        .filter(col("last_op") =!= "d")
        .select(col("tbl"), col("pk"), round(col("last_value"), 2))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> double(r, 2)).toMap
      val want = tagged.groupBy(_._2).toSeq.flatMap { case (t, rs) =>
        rounded(fold(rs.map(_._1))).map { case (pk, v) => (t, pk) -> v }
      }.toMap
      got == want
    }

  property("a carried column follows the winning half-event") =
    Prop.forAll(genRows) { rows =>
      // src names the upsert that wrote it, so every key's src pins
      // exactly which half-event the fold kept
      val df = toDf(rows).withColumn("src",
        when(col("op").isin("c", "u", "u_pk"), concat(lit("e"), col("lsn_long"))))
      val got = Apply.fold(df, carry = Seq("src"))
        .filter(col("last_op") =!= "d")
        .select(col("pk"), round(col("last_value"), 2), col("last_src"))
        .collect().map(r => r.getLong(0) -> (double(r, 1), r.getString(2))).toMap
      got == fold(rows, r => (round2(r.after_value), s"e${r.lsn_long}"))
    }

  property("batch-by-batch folds, each on the previous state ≡ one fold") =
    Prop.forAll(genRows, Gen.listOfN(3, Gen.chooseNum(0, 100))) { (rows, cutPcts) =>
      // the poll / incremental-view contract: state_i = fold(batch_i,
      // state_{i-1}) lands on the single fold over the whole stream
      val parts = batches(rows, cutPcts)
      val stepwise = parts.foldLeft(Option.empty[DataFrame]) { (st, b) =>
        Some(Apply.fold(toDf(b), st).localCheckpoint())
      }.get
      val once = Apply.fold(toDf(rows))
      Prop.collect(s"${parts.count(_.nonEmpty)} non-empty batches") {
        live(stepwise) == live(once) && live(once) == rounded(fold(rows))
      }
    }

  /** Advances an IncrementalView over `parts` in order: after every
    * batch its view must equal `viewOf` the replay up to that batch, and
    * `onBatch` must report a rebuild for exactly the bootstrap batch and
    * the batches holding a truncate, and the distinct half-event keys of
    * every other batch as touched.
    */
  private def viewHolds(parts: Seq[Seq[FlatRow]]): Boolean = {
    val log = Seq.newBuilder[(Boolean, Long)]
    val engine = new ViewMaintenance.IncrementalView((inv, n) => log += ((inv, n)))
    // an all-null group sums to null, not 0
    val asTuples = (df: DataFrame) => df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getAs[java.lang.Long](2)).map(_.longValue)))
    val views = parts.indices.forall { i =>
      engine.advance(toDf(parts(i)))
      asTuples(engine.current) == asTuples(ViewMaintenance.viewOf(
        Apply.latest(toDf(parts.take(i + 1).flatten)).select(col("pk"), col("last_value")))
        .orderBy("grp"))
    }
    val wantLog = parts.zipWithIndex.map { case (b, i) =>
      if (i == 0 || b.exists(_.op == "t")) (true, -1L)
      else (false, b.flatMap(r => r.pk_before ++ r.pk_after).distinct.length.toLong)
    }
    views && log.result() == wantLog
  }

  // delta batches random cuts rarely make, each planted after a random
  // batch: deletes of keys no stream creates, a key moved across groups
  // and back, and a batch of only truncates
  private val genPlanted: Gen[Seq[(Int, Seq[FlatRow])]] = for {
    k <- Gen.choose(0L, 12L)
    v <- genValue
    at <- Gen.listOfN(3, Gen.choose(1, 4))
  } yield at.zip(Seq(
    Seq(FlatRow(0, "d", Some(100 + k), None, None), FlatRow(0, "d", Some(200), None, None)),
    Seq(FlatRow(0, "u_pk", Some(k), Some(k + 1), v), FlatRow(0, "u_pk", Some(k + 1), Some(k), v)),
    Seq(FlatRow(0, "t", None, None, None))))

  property("IncrementalView advanced batch by batch ≡ viewOf the full replay") =
    Prop.forAll(genRows, Gen.listOfN(3, Gen.chooseNum(0, 100)), genPlanted) {
      (rows, cutPcts, planted) =>
        val random = batches(rows, cutPcts)
        val withPlanted = random.indices.flatMap(i =>
          random(i) +: planted.filter(_._1 == i + 1).map(_._2))
        // renumbered in stream order, so every batch follows the last
        val lsns = Iterator.from(1).map(_ * 3L)
        val parts = withPlanted.map(_.map(_.copy(lsn_long = lsns.next())))
        Prop.classify(random.drop(1).exists(_.exists(_.op == "t")), "truncate after bootstrap") {
          viewHolds(parts)
        }
    }

  property("IncrementalView: a planted stream of the view's edge cases") = Prop.delay {
    def ev(lsn: Long, op: String, before: Option[Long], after: Option[Long], v: Double) =
      FlatRow(lsn, op, before, after, if (op == "d" || op == "t") None else Some(v))
    def up(lsn: Long, op: String, pk: Long, v: Double) = ev(lsn, op, None, Some(pk), v)
    def nul(lsn: Long, op: String, pk: Long) = FlatRow(lsn, op, None, Some(pk), None)
    def del(lsn: Long, pk: Long) = ev(lsn, "d", Some(pk), None, 0)
    def move(lsn: Long, from: Long, to: Long, v: Double) = ev(lsn, "u_pk", Some(from), Some(to), v)
    def truncate(lsn: Long) = ev(lsn, "t", None, None, 0)
    Prop(viewHolds(Seq(
      Seq(up(1, "c", 1, 1.0), up(2, "c", 2, -3.25), up(3, "c", 13, 5.0)),
      // u_pk across groups (1 → 7), a key created and deleted in the
      // batch, negative cents
      Seq(move(4, 1, 7, 2.5), up(5, "c", 4, 1.1), del(6, 4), up(7, "u", 2, -0.07)),
      // a truncate in a delta-era batch, with events on both sides of it
      Seq(up(8, "c", 8, 3.0), truncate(9), up(10, "c", 9, -4.4), move(11, 9, 11, -1.0)),
      Seq(up(12, "u", 11, 0.5), del(13, 13), up(14, "c", 3, 0.01), move(15, 3, 23, -0.99)),
      // an all-null group (5), a key moved across groups and back, and
      // deletes of keys the state lacks (40 never existed, 13 is gone)
      Seq(nul(16, "c", 15), nul(17, "c", 25), move(18, 11, 12, 0.75), move(19, 12, 11, 0.25),
        del(20, 40), del(21, 13)),
      // group 5 gains a value, group 3 loses its only one
      Seq(up(22, "u", 15, 2.0), nul(23, "u", 23), nul(24, "u", 25)),
      Seq(truncate(25), truncate(26)),
      Seq(nul(27, "c", 5), del(28, 99), up(29, "c", 6, 1.5)),
      // a rebuild into an all-null group, then a delta on it
      Seq(truncate(30), nul(31, "c", 14), nul(32, "c", 24)),
      Seq(up(33, "u", 14, 0.3), del(34, 24)))))
  }

  property("retention resume ≡ full replay for every gap-free cut") =
    Prop.forAll(genRows, Gen.chooseNum(0, 100), Gen.chooseNum(0, 100)) {
      (rows, floorPct, slackPct) =>
        val maxL = rows.map(_.lsn_long).max
        // any retention floor, and any consumer position at least
        // floor−1 (= no expiry gap between durable state and the
        // retained suffix; the gap case falls back to a snapshot cut,
        // which is the floor−1 bound again)
        val floor = 1L + (maxL * floorPct) / 100
        val from = math.min(maxL, floor - 1 + ((maxL - floor + 1).max(0) * slackPct) / 100)
        val flat = toDf(rows)
        val got = replica(Retention.resumeReplay(flat, floor, from))
        val want = replica(Apply.latest(flat)
          .select(col("pk"), round(col("last_value"), 2).as("value")))
        Prop.collect(s"floor≤${if (floor <= 1) "min" else "mid"}") {
          got == want
        }
    }
}
