package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: the percentile rule, span self times,
  * generator determinism, and the reference fold against graft's apply.
  */
class BenchLogicSpec extends AnyFunSuite {
  private def unit(xs: Seq[Double]) = xs.map(Sample(_, 1))

  test("percentile rule keeps at least 10 samples beyond the reported percentile") {
    val hundred = unit((1 to 100).map(_.toDouble))
    assert(Stats.percentile(hundred, 0.99) == Pct(0.9, 90.0, 100))
    assert(Stats.percentile(hundred, 0.5) == Pct(0.5, 50.0, 100))
    val thousand = unit((1 to 1000).map(_.toDouble))
    assert(Stats.percentile(thousand, 0.99) == Pct(0.99, 990.0, 1000))
    // too few samples for any tail: falls back to the median
    assert(Stats.percentile(unit((1 to 12).map(_.toDouble)), 0.99).q == 0.5)
  }

  test("weighted samples count every item they stand for") {
    val passes = Seq(Sample(5.0, 1000), Sample(7.0, 1000))
    assert(Stats.percentile(passes, 0.5).value == 5.0)
    assert(Stats.percentile(passes, 0.99) == Pct(0.99, 7.0, 2000))
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      Span(0, "pass", -1, 0, 0, 100),
      Span(1, "a", 0, 0, 10, 30),
      Span(2, "b", 0, 0, 20, 50),
      Span(3, "c", 0, 0, 90, 120))
    val self = Spans.selfTimes(spans)
    assert(self(0) == 50) // covered: [10,50) and [90,100)
    assert(self(1) == 20 && self(2) == 30 && self(3) == 30)
  }

  test("self times of a pass tree add up to the pass wall time") {
    val spans = Seq(
      Span(0, "pass", -1, 0, 0, 100),
      Span(1, "a", 0, 0, 5, 40),
      Span(2, "a.x", 1, 0, 10, 20),
      Span(3, "b", 0, 0, 40, 95))
    assert(Spans.selfTimes(spans).values.sum == 100)
  }

  test("generators are deterministic per seed") {
    def wal(seed: Long) = Wal.gen(seed, 5000, 300, 0.9, Seq(1000, 3000))
    val (a, b, c) = (wal(7), wal(7), wal(8))
    assert(a.eventId.sameElements(b.eventId) && a.userId.sameElements(b.userId) &&
      a.etype.sameElements(b.etype) && a.cents.sameElements(b.cents))
    assert(!a.userId.sameElements(c.userId))
    assert((0 until a.n).count(a.op(_) == 't') == 2)
    val (x, y) = (Corpus.gen(3, 500, 50, 8, 0.05, 0.05), Corpus.gen(3, 500, 50, 8, 0.05, 0.05))
    assert(x.text.sameElements(y.text) && x.nearPairs == y.nearPairs &&
      x.emb.map(_.toSeq).sameElements(y.emb.map(_.toSeq)))
    val (s1, s2) = (Star.gen(5, 0.002), Star.gen(5, 0.002))
    assert(s1.lPriceCents.sameElements(s2.lPriceCents) && s1.oCust.sameElements(s2.oCust))
  }

  test("reference fold matches Apply.latest on a tiny seeded WAL") {
    val spark = SparkSession.builder().master("local[2]").appName("bench-logic")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      val w = Wal.gen(11, 4000, 200, 0.9, Seq(1500))
      val rows = (0 until w.n).map(i =>
        Row(w.eventId(i), w.tsUs(i), w.userId(i), Wal.Types(w.etype(i)), w.value(i)))
      val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val events = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
        .withColumn("ts", timestamp_micros(col("ts")))
      val got = graft.cdc.Apply.latest(graft.cdc.Envelope.flat(events))
        .select("pk", "last_value").collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
      val want = Reference.fold(w, 0, w.n).toMap
      assert(want.nonEmpty && got == want)
    } finally spark.stop()
  }
}
