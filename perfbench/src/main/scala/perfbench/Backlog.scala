package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.ObjectMapper

/** Seeded envelope backlog, written as a capture directory of JSONL files
  * (the only thing the program under test receives), plus the expected
  * sink contents: how many rows must arrive and an order-insensitive
  * digest of their (sequence, subject, data).
  *
  * Envelopes carry the reference's shape: 10-segment `globex.supprt.…`
  * subjects (so `chat_id` and the 8 analytics segments do real work) and a
  * JSON payload with `text`/`meta`/`id`/`timestamp`. Event time grows with
  * the stream sequence; a redelivery repeats an earlier on-subject envelope
  * verbatim (same `streamSeq`, subject, payload and timestamp) from at most
  * [[RedeliveryLagSeconds]] of event time before, so it always falls inside
  * the dedup watermark but often in a later epoch than its original.
  *
  * The traffic mix of the bulk shape (shares of off-subject, malformed and
  * redelivered lines, the event-time span, the subject cardinalities) is an
  * assumption: no capture of real traffic is available to derive it from. */
object Backlog {

  final case class Shape(
      envelopes: Int,
      payloadMin: Int,
      payloadMax: Int,
      nonAscii: Boolean,
      offSubjectPerMille: Int,
      malformedPerMille: Int,
      redeliveryPerMille: Int,
      spanSeconds: Long)

  /** `ingest_ref`: ~200 B ASCII payloads, all on-subject, nothing to drop. */
  def reference(envelopes: Int): Shape =
    Shape(envelopes, 120, 260, nonAscii = false, 0, 0, 0,
      spanSeconds = envelopes / 20L)

  /** `ingest_bulk_*`: 1–4 KB non-ASCII payloads. Assumed, not measured:
    * 5% off-subject (a second tenant sharing the stream, enough rows for
    * the filter to matter), 1% malformed (rare, but every reader path for
    * them runs), 3% redeliveries (an occasional ack timeout, so dedup drops
    * rows every epoch); event time spans 40 minutes, four widths of the
    * service's 10-minute dedup watermark, so dedup state evicts. */
  def bulk(envelopes: Int): Shape =
    Shape(envelopes, 1024, 4096, nonAscii = true, 50, 10, 30,
      spanSeconds = 2400L)

  /** `bySeq` maps each row's sequence to its [[rowHash]]; `digest` is
    * their wrap-around sum, independent of arrival order. */
  final case class Expected(rows: Long, digest: Long, lines: Long,
      malformed: Long, offSubject: Long, redeliveries: Long,
      bySeq: scala.collection.mutable.LongMap[Long])

  /** 64-bit hash of one sink row's (sequence, subject, data). */
  def rowHash(sequence: Long, subject: String, data: String): Long = {
    val s = s"$sequence\u0001$subject\u0001$data"
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed1)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed2)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  private val Ascii = Array("alpha", "bravo", "ticket", "reply", "agent",
    "order", "refund", "status", "login", "invoice", "delivery", "account",
    "please", "thanks", "update", "error", "question", "customer", "support")
  private val Mixed = Ascii ++ Array("заказ", "доставка", "спасибо",
    "проблема", "客服", "订单", "退款", "谢谢", "Größe", "réponse", "ñandú",
    "ölçü", "🙂", "📦", "✅", "東京", "서울", "γεια")

  private val MixedBytes = Mixed.map(_.getBytes(StandardCharsets.UTF_8).length)

  /** Lines per backlog file: `NatsCapture.capture` writes one file per
    * batch of at most 1000 messages, and the source plans one partition per
    * file slice, so this sets how many tasks an epoch's read has. */
  val LinesPerFile = 1000

  /** How far back in event time a redelivery reaches: half the service's
    * 10-minute dedup watermark. */
  val RedeliveryLagSeconds = 300L

  private val Base = Instant.parse("2024-01-15T00:00:00Z").getEpochSecond

  def write(dir: Path, shape: Shape, seed: Long): Expected = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val mapper = new ObjectMapper()
    val words = if (shape.nonAscii) Mixed else Ascii
    val lines = new java.util.ArrayList[String](shape.envelopes)
    // recent on-subject lines, redelivered up to RedeliveryLagSeconds later
    val recent = new Array[String](math.max(1L,
      RedeliveryLagSeconds * shape.envelopes / math.max(1L, shape.spanSeconds)).toInt)
    var recentN = 0
    val bySeq = scala.collection.mutable.LongMap.empty[Long]
    var rows = 0L; var digest = 0L
    var malformed = 0L; var offSubject = 0L; var redeliveries = 0L
    var seq = 0L
    var i = 0
    while (i < shape.envelopes) {
      val roll = rnd.nextInt(1000)
      if (roll < shape.malformedPerMille) {
        lines.add(malformedLine(rnd, seq))
        malformed += 1
      } else if (roll < shape.malformedPerMille + shape.redeliveryPerMille &&
          recentN > 0) {
        lines.add(recent(rnd.nextInt(math.min(recentN, recent.length))))
        redeliveries += 1
      } else {
        seq += 1
        val off = roll >= 1000 - shape.offSubjectPerMille
        val subject = subjectOf(rnd, if (off) "globex.crmabc" else "globex.supprt")
        val ts = Base + seq * shape.spanSeconds / shape.envelopes
        val payload = mapper.createObjectNode()
        payload.put("text", text(rnd, words,
          shape.payloadMin + rnd.nextInt(shape.payloadMax - shape.payloadMin + 1)))
        payload.put("meta", s"channel=${rnd.nextInt(8)};lang=${rnd.nextInt(5)}")
        payload.put("id", s"m$seq")
        payload.put("timestamp", ts)
        val data = payload.toString
        val env = mapper.createObjectNode()
        env.put("subject", subject)
        env.put("data", data)
        env.put("metaTimestamp", Instant.ofEpochSecond(ts).toString)
        env.put("streamSeq", seq)
        val line = env.toString
        lines.add(line)
        if (off) offSubject += 1
        else {
          rows += 1
          val h = rowHash(seq, subject, data)
          bySeq(seq) = h
          digest += h
          recent(recentN % recent.length) = line
          recentN += 1
        }
      }
      i += 1
    }
    var f = 0
    var from = 0
    while (from < lines.size) {
      val to = math.min(lines.size, from + LinesPerFile)
      Files.write(dir.resolve(f"capture-$f%04d.jsonl"),
        lines.subList(from, to), StandardCharsets.UTF_8)
      from = to; f += 1
    }
    Expected(rows, digest, lines.size.toLong, malformed, offSubject,
      redeliveries, bySeq)
  }

  /** Assumed cardinalities (40 clients, 200 projects, 5000 users, 20 000
    * sessions): enough distinct values that the analytics grouping and the
    * dedup keys do not collapse onto a few hot keys. */
  private def subjectOf(rnd: SplittableRandom, prefix: String): String =
    Seq(prefix,
      f"client${rnd.nextInt(40)}%02d", f"proj${rnd.nextInt(200)}%03d",
      s"user${rnd.nextInt(5000)}", s"sess${rnd.nextInt(20000)}",
      if (rnd.nextBoolean()) "customer" else "agent",
      if (rnd.nextBoolean()) "agent" else "bot",
      Seq("text", "image", "event")(rnd.nextInt(3)),
      s"ctx${rnd.nextInt(16)}").mkString(".")

  private def text(rnd: SplittableRandom, words: Array[String],
      targetBytes: Int): String = {
    val b = new java.lang.StringBuilder(targetBytes + 16)
    var bytes = 0
    while (bytes < targetBytes) {
      val i = rnd.nextInt(words.length)
      if (b.length > 0) { b.append(' '); bytes += 1 }
      b.append(words(i))
      bytes += (if (words eq Mixed) MixedBytes(i) else words(i).length)
    }
    b.toString
  }

  /** Lines the source must skip: truncated JSON, an unparseable
    * timestamp, a missing sequence. */
  private def malformedLine(rnd: SplittableRandom, seq: Long): String =
    rnd.nextInt(3) match {
      case 0 => s"""{"subject":"globex.supprt.a.b.c.d.e.f.g.h","data":"{\\"te"""
      case 1 =>
        s"""{"subject":"globex.supprt.a.b.c.d.e.f.g.h","data":"{}",""" +
          s""""metaTimestamp":"not-a-time","streamSeq":${seq + 1}}"""
      case _ =>
        s"""{"subject":"globex.supprt.a.b.c.d.e.f.g.h","data":"{}",""" +
          s""""metaTimestamp":"2024-01-15T00:00:00Z"}"""
    }
}
