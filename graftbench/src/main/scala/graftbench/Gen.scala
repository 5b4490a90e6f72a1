package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
    c
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble() * cdf(n - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(n - 1, -i - 1)
  }
}

object Gen {
  /** A seeded random permutation of 0 until n. */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }

  def epochDay(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay
  val DayUs: Long = 86400L * 1000000L
}

/** A generated WAL in the `events` table shape the CDC envelope lifts
  * (`graft.cdc.Envelope.flat`): event_type picks the op (signup c, click
  * u, purchase u_pk, error d), lsn = event_id + 1, and every event_id
  * with id % 5003 == 1 is a truncate. The generator skips those ids
  * except where it plants a truncate, so truncates are rare and placed.
  */
final case class Wal(eventId: Array[Long], tsUs: Array[Long], userId: Array[Long],
    etype: Array[Byte], cents: Array[Long]) {
  def n: Int = eventId.length
  def lsn(i: Int): Long = eventId(i) + 1
  def isTrunc(i: Int): Boolean = eventId(i) % Wal.TruncMod == 1
  /** op code: c, u, p (u_pk), d or t */
  def op(i: Int): Char = if (isTrunc(i)) 't' else Wal.OpOf(etype(i))
  def value(i: Int): Double = cents(i) / 100.0
  def slice(from: Int, until: Int): Wal = Wal(eventId.slice(from, until),
    tsUs.slice(from, until), userId.slice(from, until), etype.slice(from, until),
    cents.slice(from, until))
}

object Wal {
  val TruncMod = 5003L
  val Types: Array[String] = Array("signup", "click", "purchase", "error")
  val OpOf: Array[Char] = Array('c', 'u', 'p', 'd')
  /** op shares for c, u, u_pk, d */
  val Mix: Array[Double] = Array(0.2, 0.5, 0.1, 0.2)
  val T0Us: Long = Gen.epochDay("2024-01-01") * Gen.DayUs

  /** `n` events over `nKeys` Zipf(`zipfS`)-skewed keys; a truncate at
    * the first truncate-eligible id at or after each index in `truncAt`.
    */
  def gen(seed: Long, n: Int, nKeys: Int, zipfS: Double, truncAt: Seq[Int]): Wal = {
    val r = new SplittableRandom(seed)
    val perm = Gen.permutation(nKeys, r)
    val zipf = new Zipf(nKeys, zipfS)
    val ids = new Array[Long](n)
    val ts = new Array[Long](n)
    val users = new Array[Long](n)
    val types = new Array[Byte](n)
    val cents = new Array[Long](n)
    val pending = mutable.Queue(truncAt.sorted: _*)
    var id = 0L
    var i = 0
    while (i < n) {
      val wantTrunc = pending.nonEmpty && i >= pending.head
      while (id % TruncMod == 1 && !wantTrunc) id += 1
      if (wantTrunc) while (id % TruncMod != 1) id += 1
      if (wantTrunc) pending.dequeue()
      ids(i) = id
      ts(i) = T0Us + id * 1000L
      users(i) = perm(zipf.sample(r)).toLong
      val u = r.nextDouble()
      var t = 0
      var acc = Mix(0)
      while (u >= acc && t < Mix.length - 1) { t += 1; acc += Mix(t) }
      types(i) = t.toByte
      cents(i) = 1L + r.nextLong(1000000L)
      id += 1
      i += 1
    }
    Wal(ids, ts, users, types, cents)
  }
}

/** A curation corpus: Zipfian vocabulary, log-normal lengths, exact
  * duplicates (whitespace-perturbed copies) and near-duplicates (a few
  * token substitutions) planted at stated rates, plus clustered
  * embeddings.
  */
final case class Corpus(docId: Array[Long], text: Array[String], source: Array[String],
    lang: Array[String], exactCopies: Seq[(Long, Long)], nearPairs: Seq[(Long, Long)],
    vecId: Array[Long], emb: Array[Array[Float]], label: Array[Int]) {
  def n: Int = docId.length
}

object Corpus {
  val Stop: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "for")
  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ze", "pa", "do", "fu", "gi", "ha", "ju", "be")
  /** the vocabulary word of a Zipf rank: stopwords first, then distinct
    * syllable words
    */
  def word(rank: Int): String =
    if (rank < Stop.length) Stop(rank)
    else {
      val sb = new StringBuilder
      var x = rank
      do { sb.append(Syl(x & 15)); x >>>= 4 } while (x > 0)
      if (sb.length < 4) sb.append("ta")
      sb.toString
    }

  def gen(seed: Long, nDocs: Int, nVec: Int, dim: Int,
      exactRate: Double, nearRate: Double): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab = 30000
    val zipf = new Zipf(vocab, 1.05)
    val words = Array.tabulate(vocab)(word)
    val toks = new Array[Array[String]](nDocs)
    val text = new Array[String](nDocs)
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val original = mutable.ArrayBuffer.empty[Int]
    val longOnes = mutable.ArrayBuffer.empty[Int]
    def fresh(): Array[String] = {
      val len = math.min(600, 20 + math.exp(4.2 + 0.7 * r.nextGaussian()).toInt)
      Array.tabulate(len) { _ =>
        val w = words(zipf.sample(r))
        val p = r.nextInt(24)
        if (p < 2) w + "." else if (p == 2) w + "," else w
      }
    }
    var i = 0
    while (i < nDocs) {
      val u = r.nextDouble()
      if (u < exactRate && original.nonEmpty) {
        val src = original(r.nextInt(original.length))
        toks(i) = toks(src)
        val cut = r.nextInt(toks(i).length)
        text(i) = toks(i).take(cut).mkString(" ") + "  " + toks(i).drop(cut).mkString(" ") + " "
        exact += ((src.toLong, i.toLong))
      } else if (u < exactRate + nearRate && longOnes.nonEmpty) {
        val src = longOnes(r.nextInt(longOnes.length))
        val t = toks(src).clone()
        val subs = 1 + r.nextInt(2)
        (0 until subs).foreach(_ => t(r.nextInt(t.length)) = words(8 + r.nextInt(vocab - 8)))
        toks(i) = t
        text(i) = t.mkString(" ")
        near += ((src.toLong, i.toLong))
      } else {
        toks(i) = fresh()
        text(i) = toks(i).mkString(" ")
        original += i
        if (toks(i).length >= 60) longOnes += i
      }
      i += 1
    }
    val source = Array.tabulate(nDocs)(_ => "src" + r.nextInt(8))
    val langs = Array("en", "de", "es")
    val lang = Array.tabulate(nDocs)(_ => langs(r.nextInt(3)))
    val clusters = 10
    val centers = Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    val label = Array.tabulate(nVec)(_ => r.nextInt(clusters))
    val emb = Array.tabulate(nVec) { v =>
      Array.tabulate(dim)(k => (centers(label(v))(k) + 0.6 * r.nextGaussian()).toFloat)
    }
    Corpus(Array.tabulate(nDocs)(_.toLong), text, source, lang, exact.toSeq, near.toSeq,
      Array.tabulate(nVec)(_.toLong), emb, label)
  }
}

/** TPC-H-ish star schema: region, nation, customer, supplier, part,
  * orders, lineitem, with the value domains the relational lanes filter
  * on (r_name ASIA, order dates 1992-1998, return flags by ship date).
  */
final case class Star(
    nCust: Int, custNation: Array[Int], custAcct: Array[Long], custSeg: Array[Byte],
    nSupp: Int, suppNation: Array[Int], suppAcct: Array[Long],
    nPart: Int, partPriceCents: Array[Long],
    oCust: Array[Long], oStatus: Array[Byte], oTotalCents: Array[Long], oDateDay: Array[Long],
    oPrio: Array[Byte],
    lOrder: Array[Long], lPart: Array[Long], lSupp: Array[Long], lLine: Array[Int],
    lQty: Array[Int], lPriceCents: Array[Long], lDiscPct: Array[Int], lTaxPct: Array[Int],
    lShipDay: Array[Long]) {
  def nOrders: Int = oCust.length
  def nLines: Int = lOrder.length
  def returnFlag(i: Int): String =
    if (lShipDay(i) > Star.FlagDay) "N" else if ((lOrder(i) + lLine(i)) % 2 == 0) "R" else "A"
  def lineStatus(i: Int): String = if (lShipDay(i) > Star.FlagDay) "O" else "F"
}

object Star {
  val Regions: Array[String] = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Prios: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses: Array[String] = Array("F", "O", "P")
  def nationName(k: Int): String = f"NATION_$k%02d"
  def nationRegion(k: Int): Int = k % 5
  val FlagDay: Long = Gen.epochDay("1995-06-17")
  val FirstDay: Long = Gen.epochDay("1992-01-01")
  val LastOrderDay: Long = Gen.epochDay("1998-08-02")

  def gen(seed: Long, sf: Double): Star = {
    val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val nCust = (150000 * sf).toInt
    val nSupp = (10000 * sf).toInt
    val nPart = (200000 * sf).toInt
    val nOrd = (1500000 * sf).toInt
    val custNation = Array.fill(nCust)(r.nextInt(25))
    val custAcct = Array.fill(nCust)(-99999L + r.nextLong(1099999L))
    val custSeg = Array.fill(nCust)(r.nextInt(5).toByte)
    val suppNation = Array.fill(nSupp)(r.nextInt(25))
    val suppAcct = Array.fill(nSupp)(-99999L + r.nextLong(1099999L))
    val partPrice = Array.fill(nPart)(90000L + r.nextLong(110000L))
    val oCust = Array.fill(nOrd)(1L + r.nextInt(nCust))
    val oStatus = Array.fill(nOrd)(r.nextInt(3).toByte)
    val oDate = Array.fill(nOrd)(FirstDay + r.nextLong(LastOrderDay - FirstDay + 1))
    val oPrio = Array.fill(nOrd)(r.nextInt(5).toByte)
    val lines = Array.fill(nOrd)(1 + r.nextInt(7))
    val nl = lines.sum
    val lOrder = new Array[Long](nl); val lPart = new Array[Long](nl)
    val lSupp = new Array[Long](nl); val lLine = new Array[Int](nl)
    val lQty = new Array[Int](nl); val lPrice = new Array[Long](nl)
    val lDisc = new Array[Int](nl); val lTax = new Array[Int](nl)
    val lShip = new Array[Long](nl)
    val oTotal = new Array[Long](nOrd)
    var j = 0
    var o = 0
    while (o < nOrd) {
      var k = 0
      while (k < lines(o)) {
        val p = r.nextInt(nPart)
        lOrder(j) = o + 1L; lPart(j) = p + 1L; lSupp(j) = 1L + r.nextInt(nSupp)
        lLine(j) = k + 1; lQty(j) = 1 + r.nextInt(50)
        lPrice(j) = lQty(j) * partPrice(p) / 100
        lDisc(j) = r.nextInt(11); lTax(j) = r.nextInt(9)
        lShip(j) = oDate(o) + 1 + r.nextInt(121)
        oTotal(o) += lPrice(j)
        j += 1; k += 1
      }
      o += 1
    }
    Star(nCust, custNation, custAcct, custSeg, nSupp, suppNation, suppAcct, nPart, partPrice,
      oCust, oStatus, oTotal, oDate, oPrio, lOrder, lPart, lSupp, lLine, lQty, lPrice,
      lDisc, lTax, lShip)
  }
}
