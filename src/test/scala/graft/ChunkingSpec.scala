package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.cdc.{Chunking, Envelope}

class ChunkingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("split/frame/parse roundtrips bytes exactly") {
    val bytes = (0 until 1000).map(_.toByte).toArray
    val frames = Chunking.split(42L, bytes, chunkSize = 64)
    assert(frames.length == 16) // ceil(1000/64)
    assert(frames.head.seq == 0 && frames.head.total_len == 1000)
    val wire = frames.map(f => Chunking.parseFrame(42L, Chunking.frameBytes(f)))
    assert(wire.map(_.seq) == frames.map(_.seq))
    assert(wire.flatMap(_.chunk).toArray.sameElements(bytes))
  }

  test("c15 distributed chunk-reassembly decodes every message") {
    implicit val s: SparkSession = spark
    val flat = Envelope.flat(Tables.events(spark, sf))
    val rows = Chunking.roundtrip(flat).collect()
    val expected = flat.filter(col("op") =!= "t").count()
    assert(rows.length == expected)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("len_ok"), s"len mismatch for ${r.getAs[Long]("msg_id")}")
      assert(r.getAs[Boolean]("codec_ok"))
    }
  }

  test("SQL extension functions resolve through GraftExtensions") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // do NOT stop s2 — it shares the JVM-wide SparkContext with the
    // other suites' session; just restore the session registry
    try testExtensionFns(s2) finally {
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }

  private def testExtensionFns(s2: SparkSession): Unit = {
    val r = s2.sql(
      "SELECT lsn_to_long('16/B374D848') AS l, long_to_lsn(97500059720) AS s, fnv_fingerprint('foobar') AS f")
      .collect().head
    assert(r.getAs[Long]("l") == 0x16B374D848L)
    assert(r.getAs[String]("s") == "16/B374D848")
    assert(r.getAs[Long]("f") == -8821353812377114648L)
    val r2 = s2.sql(
      """SELECT shingle_hashes('a b c d e f', 5, true) AS sh,
        |  minhash_sig(shingle_hashes('a b c d e f', 5, false), 16) AS sig,
        |  simhash64(shingle_hashes('a b c', 1, false)) AS sim,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  hyperplane_lsh(array(1.0D, -2.0D, 0.5D), 8, 4) AS hp""".stripMargin)
      .collect().head
    assert(r2.getSeq[Long](0).length == 2) // 6 tokens → 2 window hashes
    assert(r2.getSeq[Long](1).length == 16)
    assert(r2.getSeq[Long](0).toSet.subsetOf(
      s2.sql("SELECT shingle_hashes('a b c d e f', 5, false) AS x")
        .collect().head.getSeq[Long](0).toSet))
    assert(r2.getAs[Double]("dp") == 11.0)
    assert(r2.getSeq[Int](4).length == 8)
    r2.getSeq[Int](4).foreach(b => assert(b >= 0 && b < 16))
  }
}
