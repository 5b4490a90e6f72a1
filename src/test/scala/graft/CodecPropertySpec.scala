package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.unsafe.types.UTF8String
import graft.cdc.{AvroEnvelope, Chunking, EnvRecord, PgOutput, PgoDecoded, PgoRow,
  SingleObject, StandbyReply}
import graft.functions.Lsn

/** Property-based checks for the driver-side codec primitives — the byte
  * formats every CDC operator rides on. These run without a SparkSession
  * (pure functions), so the generators can sweep the full value domains
  * instead of the planted testdata's corner.
  */
object CodecPropertySpec extends Properties("codecs") {

  // -- LSN text form `%X/%X` ↔ u64 ------------------------------------
  property("lsn format∘parse = id over the full u64 domain") =
    Prop.forAll { (l: Long) =>
      Lsn.parse(Lsn.format(l)) == l
    }

  property("lsn format matches the pglogrepl %X/%X shape") =
    Prop.forAll { (l: Long) =>
      val s = Lsn.format(l).toString
      val parts = s.split("/")
      parts.length == 2 && parts.forall(p => p.matches("[0-9A-F]+"))
    }

  // -- chunk framing (client.go:642-686) -------------------------------
  private val genPayload = Gen.chooseNum(0, 4096).flatMap(n =>
    Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  property("chunk split → wire bytes → parse → concat = id") =
    Prop.forAll(genPayload, Gen.chooseNum(1, 257)) { (bytes, chunkSize) =>
      val frames = Chunking.split(7L, bytes, chunkSize)
        .map(f => Chunking.parseFrame(7L, Chunking.frameBytes(f)))
      val expected = math.max(1, math.ceil(bytes.length.toDouble / chunkSize).toInt)
      val reassembled = frames.sortBy(_.seq).flatMap(_.chunk).toArray
      (bytes.isEmpty || frames.length == expected) &&
        frames.zipWithIndex.forall { case (f, i) => f.seq == i && f.total_len == bytes.length } &&
        java.util.Arrays.equals(reassembled, bytes)
    }

  // -- Avro single-object codec reuse ----------------------------------
  // One codec instance frames a random mix of small and large envelopes
  // (every op including t, absent before/after images and values,
  // extreme lsn / timestamp / value): reusing its encoder and buffer must
  // leak no byte from one record into the next.

  private val genAnyLong: Gen[Long] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.oneOf(0L, 1L, -1L, Long.MaxValue, Long.MinValue))

  private val genEnvRecord: Gen[EnvRecord] = for {
    op <- Gen.oneOf("c", "u", "u_pk", "d", "t", "r")
    lsn <- genAnyLong
    txAt <- genAnyLong
    pkBefore <- Gen.option(genAnyLong)
    pkAfter <- Gen.option(genAnyLong)
    value <- Gen.option(Gen.oneOf(Gen.choose(-1e300, 1e300), Gen.oneOf(Double.MaxValue,
      -Double.MaxValue, Double.MinPositiveValue, Double.PositiveInfinity,
      Double.NegativeInfinity)))
  } yield EnvRecord(lsn, op, txAt, pkBefore, pkAfter,
    after_value = if (pkAfter.isEmpty) None else value) // no after image, no value

  property("a reused envelope codec frames like a fresh one, losslessly") =
    Prop.forAll(Gen.listOf(genEnvRecord)) { recs =>
      val codec = AvroEnvelope.codec()
      recs.forall { r =>
        val frame = AvroEnvelope.encodeOne(codec, r)
        val d = AvroEnvelope.decodeOne(codec, frame)
        java.util.Arrays.equals(frame, AvroEnvelope.encodeOne(AvroEnvelope.codec(), r)) &&
          (d.lsn_long, d.op, d.tx_at_us, d.pk_before, d.pk_after, d.after_value) ==
            (r.lsn_long, r.op, r.tx_at_us, r.pk_before, r.pk_after, r.after_value) &&
          SingleObject.header(frame).contains(codec.fingerprint)
      }
    }

  // -- pgoutput writer/reader primitives -------------------------------
  property("W/R u8·u16·u32·u64·cstr roundtrip") =
    Prop.forAll(Gen.chooseNum(0, 255), Gen.chooseNum(0, 65535),
      Gen.chooseNum(0L, 0xFFFFFFFFL), Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.alphaNumStr) { (a, b, c, d, s) =>
      import PgOutput.{R, W}
      val bytes = new W().u8(a).u16(b).u32(c).u64(d).cstr(s).result()
      val r = new R(bytes)
      r.u8() == a && r.u16() == b && r.u32() == c && r.u64() == d &&
        r.cstr() == s && r.remaining == 0
    }

  // -- standby status update 'r' ---------------------------------------
  property("standby status encode∘parse = id (flush/apply = write)") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(0L, Long.MaxValue),
      Gen.oneOf(true, false)) { (pos, t, reply) =>
      PgOutput.parseStandbyStatus(PgOutput.standbyStatus(pos, t, reply)) ==
        StandbyReply(pos, pos, pos, Lsn.format(pos).toString, reply)
    }

  // -- timestamptz text form -------------------------------------------
  property("timestamptz format∘parse = id over four digit years") =
    Prop.forAll(Gen.choose(0L, 250000000000000000L)) { (us: Long) =>
      PgOutput.parseTsTz(PgOutput.formatTsTz(us)) == us
    }

  // -- whole-stream pgoutput codec --------------------------------------
  // Random op sequences (ops, nullable values, pk moves, truncates)
  // through consume∘encode, compared against the planted-row
  // MODEL of what the consumer loop must emit — the property-sweep twin
  // of c25's testdata oracle.

  private val genValue: Gen[Option[Double]] = Gen.frequency(
    (1, Gen.const(None)),
    (5, Gen.choose(-1e12, 1e12).map(v => Some(v)))) // finite: text decode is total

  private val genRows: Gen[Seq[PgoRow]] = for {
    n <- Gen.chooseNum(1, 120)
    specs <- Gen.listOfN(n, for {
      op <- Gen.frequency((4, "c"), (4, "u"), (2, "u_pk"), (2, "d"), (1, "t"))
      pk <- Gen.choose(0L, 1000000L)
      pkNew <- Gen.choose(0L, 1000000L)
      ts <- Gen.choose(1000000000000000L, 2000000000000000L)
      v <- genValue
    } yield (op, pk, pkNew, ts, v))
  } yield specs.zipWithIndex.map { case ((op, pk, pkNew, ts, v), i) =>
    val lsn = (i + 1).toLong * 3 // strictly increasing, u32-safe
    PgoRow(lsn, op, ts, pk,
      pk_before = if (op == "u_pk" || op == "d") Some(pk) else None,
      pk_after = op match {
        case "c" | "u" => Some(pk)
        case "u_pk" => Some(pkNew)
        case _ => None
      },
      after_value = if (op == "d" || op == "t") None else v)
  }

  /** The consumer-loop model: what consume must emit for one planted
    * row (c25's oracle semantics — plain u derives its before image from
    * the NEW tuple's key, u_pk/d carry key-only old tuples, t has no
    * images; every after image carries the commit ts column).
    */
  private def model(r: PgoRow): PgoDecoded = {
    val hasAfter = r.pk_after.isDefined
    PgoDecoded(
      lsn_long = r.lsn_long, lsn_str = Lsn.format(r.lsn_long).toString,
      op = r.op, tx_id = r.lsn_long, tx_at_us = r.tx_at_us,
      schema_name = "public", table_name = "events",
      pk_before = r.op match {
        case "u" => r.pk_after // key of the new tuple
        case "u_pk" | "d" => r.pk_before
        case _ => None
      },
      n_before_cols = if (r.op == "u" || r.op == "u_pk" || r.op == "d") Some(1) else None,
      pk_after = r.pk_after,
      after_value = if (hasAfter) r.after_value else None,
      after_ts_us = if (hasAfter) Some(r.tx_at_us) else None)
  }

  property("consume∘encode = planted-row model over random ops") =
    Prop.forAll(genRows) { rows =>
      PgOutput.consume(PgOutput.encode(rows)).rows == rows.map(model)
    }

  property("keepalive placement is invariant for rows, exact for gauges") =
    Prop.forAll(genRows, Gen.chooseNum(1L, 1000L), Gen.chooseNum(0L, 5000000L)) {
      (rows, headSlack, clockSkewUs) =>
        import PgOutput._
        // interleave a STALE keepalive after EVERY message (worst-case
        // placement vs the every-97 production cadence): a keepalive whose
        // ServerWALEnd does not lead the stream must never perturb the
        // decoded rows (an AHEAD one legitimately advances CurrentLSN —
        // pinned separately in CdcSpec's monotonicity test)
        val rel = relationMsg(RelId, "public", "events", eventsCols)
        val plain = encode(rows)
        val dense = {
          val out = new java.io.ByteArrayOutputStream()
          frames(plain).foreach { f =>
            out.write(framed(f.bytes(f.remaining)))
            out.write(framed(keepalive(0L, reply = false,
              serverTimeUs = rows.head.tx_at_us)))
          }
          out.toByteArray
        }
        val sameRows = consume(dense).rows == consume(plain).rows
        // gauges: one observation per planted keepalive, clamped at zero
        val head = rows.last.lsn_long + headSlack
        val now = rows.head.tx_at_us + clockSkewUs
        val gauges = consume(framed(
          rel,
          keepalive(head - 1, reply = false, serverTimeUs = rows.head.tx_at_us),
          keepalive(head + 7, reply = false, serverTimeUs = now))).lag(head, now)
        val gaugesOk = gauges == Seq(
          LagGauge(head - 1, Lsn.format(head - 1).toString, 1L, clockSkewUs / 1000),
          LagGauge(head + 7, Lsn.format(head + 7).toString, 0L, 0L))
        sameRows && gaugesOk
    }

  // -- multi-table whole-stream sweep ----------------------------------
  // c35's lane under random conditions: arbitrary table SETS (1..6
  // relations over random keys), lazy Relation registration in whatever
  // order the rows happen to arrive, truncates carrying only their own
  // relation — the property-sweep twin of c35's testdata oracle.

  property("consume∘encode = model over random table sets") =
    Prop.forAll(genRows, Gen.chooseNum(1, 6)) { (rows, k) =>
      // rows route by user_id mod k — registration order is then driven
      // by the random key sequence, not a fixed table order
      val tableOf: Long => String = uid => s"tb${(uid % k).toInt}"
      val decoded = PgOutput.consume(PgOutput.encode(rows, tableOf)).rows
      decoded == rows.map(r => model(r).copy(table_name = tableOf(r.user_id)))
    }

  /** The c30 consumer model as a pure fold: upserts/deletes per (table,
    * pk), u_pk = delete old key + upsert new, truncate clears ONLY its
    * own table. The reference replica semantics with no Spark involved.
    */
  private def applyFold(rows: Seq[PgoDecoded]): Map[(String, Long), Option[Double]] =
    rows.sortBy(_.lsn_long).foldLeft(Map.empty[(String, Long), Option[Double]]) {
      (st, r) => r.op match {
        case "c" | "u" => st + ((r.table_name, r.pk_after.get) -> r.after_value)
        case "u_pk" => st - ((r.table_name, r.pk_before.get)) +
          ((r.table_name, r.pk_after.get) -> r.after_value)
        case "d" => st - ((r.table_name, r.pk_before.get))
        case "t" => st.filterNot { case ((t, _), _) => t == r.table_name }
        case _ => st
      }
    }

  property("interleaved multi-table apply ≡ per-table substream apply") =
    Prop.forAll(genRows, Gen.chooseNum(1, 6)) { (rows, k) =>
      val tableOf: Long => String = uid => s"tb${(uid % k).toInt}"
      val decoded = PgOutput.consume(PgOutput.encode(rows, tableOf)).rows
      // a truncate (or any op) on one table must be invisible to every
      // other: folding the interleaved stream equals folding each
      // table's isolated substream
      val interleaved = applyFold(decoded)
      val isolated = decoded.map(_.table_name).distinct
        .flatMap(t => applyFold(decoded.filter(_.table_name == t)))
        .toMap
      interleaved == isolated
    }

  property("truncating a stream yields a decoded prefix or fails loudly") =
    Prop.forAll(genRows, Gen.chooseNum(0.0, 1.0)) { (rows, frac) =>
      val bytes = PgOutput.encode(rows)
      val cut = (bytes.length * frac).toInt
      val full = PgOutput.consume(bytes).rows
      scala.util.Try(PgOutput.consume(bytes.take(cut)).rows) match {
        case scala.util.Success(prefix) => full.startsWith(prefix)
        case scala.util.Failure(_: IllegalArgumentException) => true // loud
        case scala.util.Failure(_) => false
      }
    }
}
