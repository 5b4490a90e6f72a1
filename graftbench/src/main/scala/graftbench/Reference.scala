package graftbench

import java.math.{BigDecimal => JBig, RoundingMode}
import scala.collection.mutable

/** Reference answers computed in plain single-threaded Scala over the
  * generated inputs, outside every timed region. None of them calls into
  * graft or Spark.
  */
object Reference {
  /** Spark's `round(x, scale)` on a double: HALF_UP on the shortest
    * decimal form of the double.
    */
  def round(x: Double, scale: Int): Double =
    JBig.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue

  def near(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol + 1e-12 * math.max(math.abs(a), math.abs(b))

  // ---- CDC ---------------------------------------------------------------

  /** The primary key that a u_pk event moves a row to. */
  val UpkShift: Long = 100000L

  /** Last-write-wins fold of wal events [from, until) onto `state`
    * (pk -> value in cents): c/u upsert, d deletes, u_pk deletes the old
    * key and upserts the moved one, t clears the table.
    */
  def fold(w: Wal, from: Int, until: Int,
      state: mutable.LongMap[Long] = mutable.LongMap.empty[Long]): mutable.LongMap[Long] = {
    var i = from
    while (i < until) {
      val pk = w.userId(i)
      w.op(i) match {
        case 't' => state.clear()
        case 'c' | 'u' => state(pk) = w.cents(i)
        case 'p' => state.remove(pk); state(pk + UpkShift) = w.cents(i)
        case 'd' => state.remove(pk)
      }
      i += 1
    }
    state
  }

  /** Order-independent checksum of a replica (pk -> cents). */
  def checksum(rows: Iterator[(Long, Long)]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { case (pk, c) =>
      n += 1
      var x = pk * 0x9E3779B97F4A7C15L + c
      x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
      h += x
    }
    (n, h)
  }

  /** The maintained view: per pk % 10 group, (rows, sum of cents). */
  def view(state: collection.Map[Long, Long]): Map[Long, (Long, Long)] =
    state.toSeq.groupBy(_._1 % 10).map { case (g, rs) => g -> (rs.length.toLong, rs.map(_._2).sum) }

  // ---- corpus ------------------------------------------------------------

  def norm(t: String): String = t.replaceAll("\\s+", " ").trim

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** d01: (content hash, keeper id, docs) per normalized text. */
  def exactDedup(c: Corpus): Map[String, (Long, Long)] =
    c.docId.indices.groupBy(i => md5Hex(norm(c.text(i)))).map { case (h, is) =>
      h -> (is.map(c.docId(_)).min, is.length.toLong) }

  private def tokens(t: String): Array[String] = norm(t).toLowerCase.split(" ", -1)

  /** t02 per doc: (len_chars, n_tokens, stop_hits, punct_chars, score). */
  def quality(t: String): (Int, Int, Int, Int, Double) = {
    val tk = tokens(t)
    val stop = tk.count(w => w == "the" || w == "a" || w == "of")
    val punct = t.count(".,!?;:".contains(_))
    val n = tk.length
    val len = t.length
    val score = math.min(n / 100.0, 1.0) * 0.5 + (stop.toDouble / n) * 0.3 +
      (1.0 - punct.toDouble / len) * 0.2
    (len, n, stop, punct, round(score, 4))
  }

  private val Bpe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]".r

  /** t03 per source: (docs, whitespace tokens, bpe tokens). */
  def tokenCounts(c: Corpus): Map[String, (Long, Long, Long)] =
    c.docId.indices.groupBy(c.source(_)).map { case (src, is) =>
      src -> (is.length.toLong, is.map(i => tokens(c.text(i)).length.toLong).sum,
        is.map(i => Bpe.findAllMatchIn(c.text(i)).length.toLong).sum) }

  private val Magic = Map("image/png" -> 8, "image/jpeg" -> 3, "audio/wav" -> 12,
    "video/mp4" -> 12, "application/octet-stream" -> 0)
  def contentType(source: String): String =
    Seq("image/png", "image/jpeg", "audio/wav", "video/mp4", "application/octet-stream")(
      Math.floorMod(source.substring(3).toInt, 5))

  /** m01 per source: (docs, total bytes, max bytes). */
  def binaryMeta(c: Corpus): Map[String, (Long, Long, Long)] =
    c.docId.indices.groupBy(c.source(_)).map { case (src, is) =>
      val bytes = is.map(i => c.text(i).getBytes("UTF-8").length.toLong + Magic(contentType(src)))
      src -> (is.length.toLong, bytes.sum, bytes.max) }

  /** v01: cosine of every vector but the query (vec 0) to vec 0,
    * accumulated in double in list order, best first.
    */
  def knn(c: Corpus, k: Int): Seq[(Long, Double)] =
    c.vecId.indices.drop(1).map(v => c.vecId(v) -> knn1(c, c.vecId(v)))
      .sortBy { case (id, cos) => (-cos, id) }.take(k)

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** cosine of vector `id` to the query vector 0, rounded like v01 */
  def knn1(c: Corpus, id: Long): Double = {
    val q = c.emb(0)
    val v = c.emb(id.toInt)
    round(dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q))), 6)
  }

  // ---- star --------------------------------------------------------------

  /** q01 rows keyed by (returnflag, linestatus):
    * (sum_qty, sum_base_price, sum_disc_price, count).
    */
  def q01(s: Star): Map[(String, String), (Double, Double, Double, Long)] = {
    val cut = Gen.epochDay("1998-09-02")
    val acc = mutable.Map.empty[(String, String), Array[Long]]
    var i = 0
    while (i < s.nLines) {
      if (s.lShipDay(i) <= cut) {
        val a = acc.getOrElseUpdate((s.returnFlag(i), s.lineStatus(i)), new Array[Long](4))
        val price = s.lPriceCents(i) / 100.0
        a(0) += s.lQty(i)
        a(1) += JBig.valueOf(price * 100).setScale(0, RoundingMode.HALF_UP).longValue
        a(2) += JBig.valueOf(price * (1.0 - s.lDiscPct(i) / 100.0) * 10000)
          .setScale(0, RoundingMode.HALF_UP).longValue
        a(3) += 1
      }
      i += 1
    }
    acc.map { case (k, a) =>
      k -> (a(0).toDouble, a(1) / 100.0, Math.floorDiv(2 * a(2) + 100, 200L) / 100.0, a(3)) }.toMap
  }

  private def revenue(s: Star, i: Int): Double =
    s.lPriceCents(i) / 100.0 * (1.0 - s.lDiscPct(i) / 100.0)

  /** q03: revenue per customer over orders dated in 1996. */
  def q03(s: Star): Map[Long, Double] = {
    val lo = Gen.epochDay("1996-01-01"); val hi = Gen.epochDay("1997-01-01")
    val rev = mutable.LongMap.empty[Double]
    var i = 0
    while (i < s.nLines) {
      val o = (s.lOrder(i) - 1).toInt
      val d = s.oDateDay(o)
      if (d >= lo && d < hi) {
        val c = s.oCust(o)
        rev(c) = rev.getOrElse(c, 0.0) + revenue(s, i)
      }
      i += 1
    }
    rev.toMap
  }

  /** q05: ASIA revenue per nation where customer and supplier share it. */
  def q05(s: Star): Map[String, Double] = {
    val asia = Star.Regions.indexOf("ASIA")
    val rev = mutable.Map.empty[String, Double]
    var i = 0
    while (i < s.nLines) {
      val o = (s.lOrder(i) - 1).toInt
      val cn = s.custNation((s.oCust(o) - 1).toInt)
      if (Star.nationRegion(cn) == asia && s.suppNation((s.lSupp(i) - 1).toInt) == cn) {
        val k = Star.nationName(cn)
        rev(k) = rev.getOrElse(k, 0.0) + revenue(s, i)
      }
      i += 1
    }
    rev.toMap
  }

  /** q07: top 3 customers by balance per nation: (nation, rank, custkey). */
  def q07(s: Star): Seq[(Int, Int, Long)] =
    (0 until s.nCust).groupBy(s.custNation(_)).toSeq.sortBy(_._1).flatMap { case (n, cs) =>
      cs.sortBy(c => (-s.custAcct(c), c)).take(3).zipWithIndex
        .map { case (c, r) => (n, r + 1, c + 1L) }
    }
}
