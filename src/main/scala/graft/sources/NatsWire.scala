package graft.sources

import java.io.{BufferedOutputStream, DataInputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, OffsetDateTime, ZoneOffset}

/** One delivered NATS message. `reply` carries the server-assigned reply
  * subject — for JetStream push consumers that is the `$JS.ACK.…` subject
  * whose dot-segments encode the delivery metadata the reference reads
  * via `msg.Metadata()` (`main.go:162`); see [[NatsWire.jetStreamMeta]]. */
final case class NatsMsg(subject: String, sid: String,
    reply: Option[String], payload: Array[Byte])

/** JetStream per-delivery metadata, parsed from the ACK reply subject. */
final case class JsMeta(stream: String, consumer: String,
    numDelivered: Long, streamSeq: Long, consumerSeq: Long,
    timestampNanos: Long, numPending: Long)

/** One durable consumer's server-side state, as reported by the
  * `$JS.API.CONSUMER.INFO`/`CREATE` responses ([[JetStreamApi]]): the
  * push-delivery target (deliver subject + queue group), the delivery
  * cursor, and the ack floor the server redelivers above. `created`
  * records whether THIS call created the consumer (first run) or
  * resumed an existing one. */
final case class JsConsumerInfo(stream: String, name: String,
    deliverSubject: String, deliverGroup: String,
    deliveredStreamSeq: Long, ackFloorStreamSeq: Long,
    numPending: Long, created: Boolean)

object NatsWire {

  /** `nats://host:port` (port defaults to 4222, the public NATS port) —
    * the reference's `nats.url` shape (`nats.yml:2`, `main.go:66`). */
  def parseUrl(url: String): Either[String, (String, Int)] = {
    val re = "^nats://([^:/@]+)(?::([0-9]+))?$".r
    url match {
      case re(host, null) => Right((host, 4222))
      case re(host, port) =>
        scala.util.Try(port.toInt).toOption
          .filter(p => p >= 1 && p <= 65535)
          .toRight(s"failed to parse NATS URL: $url")
          .map((host, _))
      case _ => Left(s"failed to parse NATS URL: $url")
    }
  }

  /** Parse a JetStream ACK reply subject:
    * `$JS.ACK.<stream>.<consumer>.<delivered>.<sseq>.<cseq>.<ts-nanos>.<pending>`
    * (the v1 form; longer domain-qualified forms keep these as the LAST
    * seven tokens). This is exactly the wire data `msg.Metadata()`
    * exposes to the reference (`main.go:162-171`). */
  def jetStreamMeta(reply: String): Option[JsMeta] = {
    val t = reply.split('.')
    if (t.length < 9 || t(0) != "$JS" || t(1) != "ACK") None
    else try {
      val n = t.length
      Some(JsMeta(
        stream = t(n - 7), consumer = t(n - 6),
        numDelivered = t(n - 5).toLong, streamSeq = t(n - 4).toLong,
        consumerSeq = t(n - 3).toLong, timestampNanos = t(n - 2).toLong,
        numPending = t(n - 1).toLong))
    } catch { case _: NumberFormatException => None }
  }
}

/** Minimal NATS client over a TCP socket, speaking the PUBLIC NATS text
  * protocol (docs.nats.io protocol reference): the server greets with
  * `INFO {…}`; the client answers `CONNECT {…}`; `SUB <subject>
  * [queue] <sid>` subscribes (queue-group semantics = the reference's
  * shared durable consumer, `main.go:88-94`); deliveries arrive as
  * `MSG <subject> <sid> [reply] <#bytes>\r\n<payload>\r\n`; keep-alive is
  * `PING`/`PONG`. This IS the real dial path for `nats://` URLs — the
  * spec drives it against a stub server speaking the same protocol.
  *
  * Scope: core protocol only (no TLS, no INFO-driven auth) — enough to
  * subscribe and drain a JetStream push consumer, whose per-message
  * metadata rides in the reply subject ([[NatsWire.jetStreamMeta]]).
  * Acks are an empty publish to the reply subject ([[ack]]), issued by
  * callers only AFTER their write lands (K2 ack-after-write). */
final class NatsSocketClient(host: String, port: Int,
    connectTimeoutMs: Int = 30000, readTimeoutMs: Int = 5000) {

  private val socket = new Socket()
  private var in: DataInputStream = _
  private var out: BufferedOutputStream = _
  private var serverInfo: String = ""
  private var dead = false

  private def die(): Unit = { dead = true; close() }

  /** Dial + handshake: block until the server's INFO line arrives, then
    * CONNECT. Fails fast (IOException) on an unreachable server — the
    * reference exits on a failed dial (`connection/connection.go`
    * ConnectNATS, called at `main.go:66`). */
  def connect(name: String = "graft"): Unit = {
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    socket.setSoTimeout(readTimeoutMs)
    socket.setTcpNoDelay(true)
    in = new DataInputStream(socket.getInputStream)
    out = new BufferedOutputStream(socket.getOutputStream)
    val info = readLine()
    if (!info.startsWith("INFO "))
      throw new IOException(s"expected INFO from $host:$port, got: $info")
    serverInfo = info.drop(5)
    send(s"""CONNECT {"verbose":false,"pedantic":false,"name":"$name","lang":"scala","protocol":1}""")
  }

  /** Raw INFO payload (JSON text) from the handshake. */
  def info: String = serverInfo

  /** SUB with an optional queue group — all members of a group share the
    * subject's traffic, the reference's horizontal-scaling seam. */
  def subscribe(subject: String, sid: String, queue: Option[String] = None): Unit =
    send(queue.fold(s"SUB $subject $sid")(q => s"SUB $subject $q $sid"))

  /** Publish (used for acks and tests): `PUB <subject> <#bytes>`. */
  def publish(subject: String, payload: Array[Byte]): Unit = {
    send(s"PUB $subject ${payload.length}", flush = false)
    out.write(payload); out.write('\r'); out.write('\n'); out.flush()
  }

  /** The request half of NATS request-reply:
    * `PUB <subject> <reply-to> <#bytes>`. */
  def publishRequest(subject: String, replyTo: String,
      payload: Array[Byte]): Unit = {
    send(s"PUB $subject $replyTo ${payload.length}", flush = false)
    out.write(payload); out.write('\r'); out.write('\n'); out.flush()
  }

  /** `UNSUB <sid>` — drop a subscription (throwaway request inboxes). */
  def unsubscribe(sid: String): Unit = send(s"UNSUB $sid")

  /** One request-reply round trip over a throwaway `_INBOX.…`
    * subscription — the transport under every `$JS.API.…` call
    * ([[JetStreamApi]]). Returns None on timeout. Deliveries for OTHER
    * sids arriving mid-request are dropped; callers do lifecycle
    * requests BEFORE subscribing to data subjects (as this client's
    * capture path does), so nothing real is ever in flight here. */
  def request(subject: String, payload: Array[Byte],
      timeoutMs: Long = 5000): Option[Array[Byte]] = {
    val inboxSid = s"_req${System.nanoTime()}"
    val inbox = s"_INBOX.graft.${java.util.UUID.randomUUID().toString.replace("-", "")}"
    subscribe(inbox, inboxSid)
    publishRequest(subject, inbox, payload)
    val deadline = System.currentTimeMillis() + timeoutMs
    var res: Option[Array[Byte]] = None
    var waiting = true
    while (waiting && System.currentTimeMillis() < deadline)
      next(deadline) match {
        case Some(m) if m.sid == inboxSid => res = Some(m.payload); waiting = false
        case Some(_) => () // foreign sid — see scaladoc
        case None => waiting = false
      }
    unsubscribe(inboxSid)
    res
  }

  /** Ack a JetStream delivery: empty publish to its reply subject. */
  def ack(msg: NatsMsg): Unit =
    msg.reply.foreach(publish(_, Array.emptyByteArray))

  /** Read protocol frames until the next MSG (answering PING with PONG,
    * skipping +OK/-ERR/INFO updates), or None once the socket idles past
    * its read timeout / the deadline passes / the server closes.
    *
    * A timeout BETWEEN frames is benign (returns None; the client stays
    * usable). A timeout MID-frame — inside a protocol line or a MSG
    * payload — leaves the stream desynchronized: the half-consumed bytes
    * cannot be re-parsed, so the connection is closed and marked dead
    * rather than returning a None that would invite a misparse on the
    * next call. */
  def next(deadlineMs: Long = Long.MaxValue): Option[NatsMsg] = {
    if (dead) throw new IOException("connection dead (mid-frame timeout)")
    while (System.currentTimeMillis() < deadlineMs) {
      val line =
        try readLine()
        catch {
          case _: java.net.SocketTimeoutException => return None
          case _: EOFException => return None
        }
      if (line.startsWith("MSG ")) {
        // MSG <subject> <sid> [reply-to] <#bytes>
        val p = line.drop(4).trim.split("\\s+")
        if (p.length < 3 || p.length > 4)
          throw new IOException(s"malformed MSG header: $line")
        val nBytes = p.last.toInt
        val payload = new Array[Byte](nBytes)
        try {
          in.readFully(payload)
          // trailing CRLF after the payload
          in.readByte(); in.readByte()
        } catch {
          case e @ (_: java.net.SocketTimeoutException | _: EOFException) =>
            // half-read payload: the stream can never resync
            die(); throw new IOException(s"timeout/EOF mid-MSG payload", e)
        }
        return Some(NatsMsg(p(0), p(1),
          if (p.length == 4) Some(p(2)) else None, payload))
      } else if (line == "PING") send("PONG")
      // PONG / +OK / -ERR / INFO updates: keep draining
    }
    None
  }

  def close(): Unit = {
    try socket.close() catch { case _: IOException => () }
  }

  private def send(line: String, flush: Boolean = true): Unit = {
    out.write(line.getBytes(StandardCharsets.UTF_8))
    out.write('\r'); out.write('\n')
    if (flush) out.flush()
  }

  private def readLine(): String = {
    val b = new java.io.ByteArrayOutputStream(64)
    // a timeout on the FIRST byte is benign idle (propagates to next()'s
    // catch); once any byte of a line is consumed, timeouts are fatal
    var c = in.read()
    while (c != -1 && c != '\n') {
      if (c != '\r') b.write(c)
      c =
        try in.read()
        catch {
          case e: java.net.SocketTimeoutException =>
            // partial line already consumed — resync is impossible
            die(); throw new IOException("timeout mid-protocol-line", e)
        }
    }
    if (c == -1 && b.size() == 0) throw new EOFException("server closed")
    new String(b.toByteArray, StandardCharsets.UTF_8)
  }
}

/** The JetStream consumer-lifecycle API over the core wire — what
  * `nats.Durable("monitor")` does under the hood in the reference
  * (`main.go:90-94`): request-reply against the `$JS.API.CONSUMER.*`
  * subjects (public JetStream wire API, docs.nats.io/reference). First
  * run CREATES the durable; later runs find it via INFO and resume its
  * server-side delivery cursor, so a restart never re-reads the stream
  * from scratch and unacked deliveries redeliver (at-least-once, B5).
  *
  * JSON in/out is handled with targeted field extraction rather than a
  * parser dependency: the response grammar is fixed by the server and
  * the five fields read here are flat or one level deep. */
object JetStreamApi {

  def infoSubject(stream: String, durable: String): String =
    s"$$JS.API.CONSUMER.INFO.$stream.$durable"

  def createSubject(stream: String, durable: String): String =
    s"$$JS.API.CONSUMER.DURABLE.CREATE.$stream.$durable"

  private def strField(json: String, name: String): Option[String] =
    s""""$name"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))

  private def longField(json: String, name: String): Option[Long] =
    s""""$name"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)

  /** stream_seq inside a named one-level object (`delivered` /
    * `ack_floor` both carry one). */
  private def seqIn(json: String, obj: String): Long =
    s""""$obj"\\s*:\\s*\\{([^}]*)\\}""".r.findFirstMatchIn(json)
      .flatMap(m => longField(m.group(1), "stream_seq")).getOrElse(0L)

  /** Parse a consumer INFO/CREATE response body. `Left` carries the
    * API error (`{"error":{"code":404,…}}`) as "code description". */
  private[graft] def parseConsumerInfo(json: String, created: Boolean)
      : Either[String, JsConsumerInfo] =
    s""""error"\\s*:\\s*\\{([^}]*)\\}""".r.findFirstMatchIn(json) match {
      case Some(err) =>
        val code = longField(err.group(1), "code").getOrElse(0L)
        val desc = strField(err.group(1), "description").getOrElse("")
        Left(s"$code $desc")
      case None =>
        Right(JsConsumerInfo(
          stream = strField(json, "stream_name").getOrElse(""),
          name = strField(json, "name").getOrElse(""),
          deliverSubject = strField(json, "deliver_subject").getOrElse(""),
          deliverGroup = strField(json, "deliver_group").getOrElse(""),
          deliveredStreamSeq = seqIn(json, "delivered"),
          ackFloorStreamSeq = seqIn(json, "ack_floor"),
          numPending = longField(json, "num_pending").getOrElse(0L),
          created = created))
    }

  /** Resolve which stream owns `subject` — `$JS.API.STREAM.NAMES` with a
    * subject filter, the same lookup the nats.go client runs when
    * `nats.Durable(...)` is given no explicit stream. None when the
    * server doesn't answer (not a JetStream server) or no stream covers
    * the subject. */
  def streamNameFor(client: NatsSocketClient, subject: String,
      timeoutMs: Long = 5000): Option[String] = {
    val req = s"""{"subject":"${JsonSafe(subject)}"}"""
    client.request("$JS.API.STREAM.NAMES",
      req.getBytes(StandardCharsets.UTF_8), timeoutMs)
      .map(b => new String(b, StandardCharsets.UTF_8))
      .flatMap(json =>
        """"streams"\s*:\s*\[\s*"([^"]+)"""".r.findFirstMatchIn(json)
          .map(_.group(1)))
  }

  /** INFO-then-CREATE: resume the durable if the server knows it
    * (preserving its delivery cursor and deliver subject), create it on
    * 404 — the exact first-run/restart behavior of the reference's
    * `nats.Durable(...)` subscribe. Explicit-ack push consumer with a
    * deliver group (the queue-subscribe seam) and a filter subject. */
  def ensureDurable(client: NatsSocketClient, stream: String,
      durable: String, filterSubject: String, deliverSubject: String,
      deliverGroup: String, timeoutMs: Long = 5000): JsConsumerInfo = {
    def ask(subject: String, payload: String, created: Boolean)
        : Either[String, JsConsumerInfo] =
      client.request(subject,
        payload.getBytes(StandardCharsets.UTF_8), timeoutMs) match {
        case None => Left(s"timeout awaiting $subject")
        case Some(b) =>
          parseConsumerInfo(new String(b, StandardCharsets.UTF_8), created)
      }
    ask(infoSubject(stream, durable), "", created = false) match {
      case Right(info) => info
      case Left(err) if err.startsWith("404") =>
        val cfg =
          s"""{"stream_name":"${JsonSafe(stream)}","config":{""" +
          s""""durable_name":"${JsonSafe(durable)}",""" +
          s""""deliver_subject":"${JsonSafe(deliverSubject)}",""" +
          s""""deliver_group":"${JsonSafe(deliverGroup)}",""" +
          s""""filter_subject":"${JsonSafe(filterSubject)}",""" +
          s""""ack_policy":"explicit"}}"""
        ask(createSubject(stream, durable), cfg, created = true).fold(
          e => throw new IOException(s"consumer create failed: $e"),
          identity)
      case Left(err) =>
        throw new IOException(s"consumer info failed: $err")
    }
  }

  private def JsonSafe(s: String): String = graft.util.JsonText.escape(s)
}

/** The `nats://` → replay-backlog bridge: dial, subscribe (queue-grouped
  * like the reference's durable consumer), drain deliveries into ONE
  * envelope JSONL file, atomically renamed into the backlog directory
  * that [[ReplayStreamProvider]] streams from. Capture-then-stream keeps the DSv2 source's offset
  * contract (global line positions over complete files — a half-written
  * file is never visible) while making the dial path real code.
  *
  * Each envelope row carries the JetStream metadata from the delivery's
  * ACK subject when present (stream sequence + publish timestamp — the
  * same fields `msg.Metadata()` gives the reference at `main.go:162`),
  * falling back to a local counter + receive time for core-NATS messages.
  * Deliveries are acked AFTER the rename publishes the file (K2
  * ack-after-write): a crash before the rename leaves every message
  * unacked for redelivery — at-least-once, like the reference. */
object NatsCapture {

  /** Drain up to `maxMsgs` (or until `maxWaitMs` of idle) from `subject`
    * into `backlogDir/<filePrefix>-<millis>.jsonl`. Returns the number of
    * captured rows (0 writes no file).
    *
    * `durable = Some(name)` runs the consumer LIFECYCLE first: resolve
    * the stream owning `subject` ([[JetStreamApi.streamNameFor]]), then
    * [[JetStreamApi.ensureDurable]] (create on first run, resume on
    * restart), then subscribe to the consumer's deliver subject instead
    * of the raw data subject — exactly what the reference's
    * `js.QueueSubscribe(subject, group, …, nats.Durable(dur))` does
    * (`main.go:86-94`). When no stream covers the subject (a core-NATS
    * server), capture falls back to the plain subscription. */
  def capture(url: String, subject: String, backlogDir: String,
      queue: Option[String] = Some("nats-clickhouse-delivery-group"),
      maxMsgs: Int = 1000, maxWaitMs: Long = 2000,
      filePrefix: String = "capture",
      durable: Option[String] = None): Long = {
    val (host, port) = NatsWire.parseUrl(url)
      .fold(e => throw new IOException(e), identity)
    val client = new NatsSocketClient(host, port,
      readTimeoutMs = math.min(maxWaitMs, Int.MaxValue.toLong).toInt)
    client.connect()
    try {
      val dataSubject = durable.flatMap { dur =>
        JetStreamApi.streamNameFor(client, subject, maxWaitMs).map { stream =>
          val info = JetStreamApi.ensureDurable(client, stream, dur,
            filterSubject = subject,
            deliverSubject = s"_INBOX.graft.$dur.deliver",
            deliverGroup = queue.getOrElse(""),
            timeoutMs = maxWaitMs)
          // resume uses the deliver subject the consumer was CREATED
          // with (the server keeps pushing there), not the default
          info.deliverSubject
        }
      }.getOrElse(subject)
      client.subscribe(dataSubject, sid = "1", queue = queue)
      val deadline = System.currentTimeMillis() + maxWaitMs
      val acc = Seq.newBuilder[NatsMsg]
      var n = 0
      var more = true
      while (n < maxMsgs && more) client.next(deadline) match {
        case Some(m) => acc += m; n += 1
        case None => more = false
      }
      val msgs = acc.result()
      if (msgs.isEmpty) 0L
      else {
        val dir = Paths.get(backlogDir)
        Files.createDirectories(dir)
        val fileMillis = System.currentTimeMillis()
        val name = f"$filePrefix-$fileMillis%013d.jsonl"
        val tmp = Files.createTempFile(dir, s".$name", ".tmp")
        Files.write(tmp,
          envelopeLines(msgs, fileMillis).getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, dir.resolve(name),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        // ack-after-write: only now is the backlog file visible
        msgs.foreach(client.ack)
        msgs.size.toLong
      }
    } finally client.close()
  }

  /** Envelope JSONL ([[graft.model.Schemas.envelope]] shape, the exact
    * format [[ReplayReader]] parses): JetStream sequence/timestamp when
    * the ACK subject carries them, local fallbacks otherwise.
    *
    * The core-NATS fallback sequence is `fileMillis << 20 | position` —
    * globally unique across capture files, not a per-file counter.
    * Downstream `dedupedRaw` keys exact-once suppression on `streamSeq`
    * within a watermark, so a per-file counter restarting at 1 would make
    * DISTINCT messages from different capture files collide and be
    * silently dropped. 20 bits of in-file position covers maxMsgs up to
    * ~1M; 43 bits of millis keeps the value positive past year 2200. */
  private[graft] def envelopeLines(msgs: Seq[NatsMsg],
      fileMillis: Long = System.currentTimeMillis()): String = {
    val sb = new StringBuilder
    var localSeq = 0L
    msgs.foreach { m =>
      localSeq += 1
      val meta = m.reply.flatMap(NatsWire.jetStreamMeta)
      val seq = meta.map(_.streamSeq).getOrElse((fileMillis << 20) | localSeq)
      val tsNanos = meta.map(_.timestampNanos)
        .getOrElse(System.currentTimeMillis() * 1000000L)
      val ts = OffsetDateTime.ofInstant(
        Instant.ofEpochSecond(tsNanos / 1000000000L, tsNanos % 1000000000L),
        ZoneOffset.UTC)
      sb.append("{\"subject\":\"")
        .append(graft.util.JsonText.escape(m.subject))
        .append("\",\"data\":\"")
        .append(graft.util.JsonText.escape(
          new String(m.payload, StandardCharsets.UTF_8)))
        .append("\",\"metaTimestamp\":\"").append(ts.toString)
        .append("\",\"streamSeq\":").append(seq).append("}\n")
    }
    sb.toString
  }
}
