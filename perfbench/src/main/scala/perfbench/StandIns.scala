package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, EOFException, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types.StructType

import graft.sinks.{NativeBlockCodec, NativeFraming, NativeProto}

/** A ClickHouse stand-in owned by the benchmark: it does protocol work
  * only, serves at most `maxConnections` connections at once, and counts
  * connections, blocks, bytes and the time spent inside inserts. */
sealed trait StandIn extends AutoCloseable {
  val connections = new AtomicLong
  val blocks = new AtomicLong
  val wireBytes = new AtomicLong
  /** Nanoseconds spent inside insert statements, summed over connections. */
  val busyNanos = new AtomicLong

  def url: String
  /** Forget received blocks and zero the counters (between drains). */
  def reset(): Unit = {
    connections.set(0); blocks.set(0); wireBytes.set(0); busyNanos.set(0)
    resetBlocks()
  }
  protected def resetBlocks(): Unit
}

/** Native TCP protocol: hello, ping, and the INSERT cycle of
  * `graft.sinks.NativeConnection`. Each inserted block is kept as the raw
  * compressed frame it arrived in; decoding, checksum verification and row
  * hashing run in [[received]], after a drain's timing stops. */
final class NativeStandIn(schema: StructType, maxConnections: Int)
    extends StandIn {
  import NativeProto._

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  private val pool: ExecutorService = Executors.newFixedThreadPool(maxConnections)
  private val frames = new ConcurrentLinkedQueue[Array[Byte]]()
  /** Body length of the empty block that terminates a statement's data. */
  private val emptyBodyLength = {
    val b = new ByteArrayOutputStream()
    writeVarint(b, 1L); b.write(0); writeVarint(b, 2L); writeInt32(b, -1)
    writeVarint(b, 0L); writeVarint(b, 0L); writeVarint(b, 0L)
    b.size
  }
  private val headerFrame = {
    val b = new ByteArrayOutputStream()
    NativeFraming.writeFrame(b, NativeBlockCodec.encode(schema, Seq.empty))
    b.toByteArray
  }

  val url: String = s"ch://writer:secret@127.0.0.1:${server.getLocalPort}"

  private val acceptor = new Thread(() => {
    try while (true) {
      val s = server.accept()
      pool.execute(() => serve(s))
    } catch { case _: SocketException => () }
  }, "perfbench-native-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  protected def resetBlocks(): Unit = frames.clear()

  private def serve(socket: Socket): Unit = {
    connections.incrementAndGet()
    open.add(socket)
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream, 1 << 16))
    val out = new BufferedOutputStream(socket.getOutputStream)
    try {
      require(readVarint(in) == ClientHello, "expected client hello")
      readString(in); readVarint(in); readVarint(in)
      val eff = math.min(readVarint(in), ClientRevision)
      readString(in); readString(in); readString(in)
      writeVarint(out, ServerHello)
      writeString(out, "perfbench")
      writeVarint(out, 23L); writeVarint(out, 8L)
      writeVarint(out, ClientRevision)
      writeString(out, "UTC")
      writeString(out, "perfbench")
      writeVarint(out, 0L)
      out.flush()
      var open = true
      while (open) {
        val pkt = try readVarint(in) catch { case _: EOFException => -1L }
        pkt match {
          case -1L => open = false
          case ClientPing => writeVarint(out, ServerPong); out.flush()
          case ClientQuery =>
            val t0 = System.nanoTime()
            readString(in)
            in.read()
            readString(in); readString(in); readString(in)
            in.read()
            readString(in); readString(in); readString(in)
            readVarint(in); readVarint(in); readVarint(in)
            readString(in); readVarint(in)
            var setting = readString(in)
            while (setting.nonEmpty) {
              readVarint(in); readString(in); setting = readString(in)
            }
            readVarint(in); readVarint(in); readString(in)
            readFrame(in) // end of external tables
            out.write(ServerData.toInt); writeString(out, ""); out.write(headerFrame)
            out.flush()
            var frame = readFrame(in)
            while (frame != null) {
              frames.add(frame); blocks.incrementAndGet()
              frame = readFrame(in)
            }
            writeVarint(out, ServerProgress)
            writeVarint(out, 0L); writeVarint(out, 0L); writeVarint(out, 0L)
            if (eff >= MinRevisionWithClientWriteInfo) {
              writeVarint(out, 0L); writeVarint(out, 0L)
            }
            writeVarint(out, ServerEndOfStream)
            out.flush()
            busyNanos.addAndGet(System.nanoTime() - t0)
          case ClientCancel => ()
          case other => throw new IOException(s"unexpected client packet $other")
        }
      }
    } catch {
      case _: SocketException | _: EOFException => ()
    } finally { open.remove(socket); socket.close() }
  }

  /** One client Data packet, kept as its raw compressed frame; `null` for
    * the empty terminator block. */
  private def readFrame(in: DataInputStream): Array[Byte] = {
    require(readVarint(in) == ClientData, "expected client data packet")
    readString(in)
    val head = new Array[Byte](25)
    in.readFully(head)
    val compressedWithHeader = littleEndianInt(head, 17)
    val body = littleEndianInt(head, 21)
    val frame = new Array[Byte](16 + compressedWithHeader)
    System.arraycopy(head, 0, frame, 0, 25)
    in.readFully(frame, 25, compressedWithHeader - 9)
    wireBytes.addAndGet(frame.length.toLong)
    if (body == emptyBodyLength) null else frame
  }

  private def littleEndianInt(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | (b(at + 1) & 0xff) << 8 | (b(at + 2) & 0xff) << 16 |
      (b(at + 3) & 0xff) << 24

  /** Decode every received block: one (sequence, [[Backlog.rowHash]]) per
    * row, duplicates included. */
  def received(): Array[(Long, Long)] = {
    val out = Array.newBuilder[(Long, Long)]
    frames.asScala.foreach { f =>
      val block = NativeBlockCodec.decode(
        NativeFraming.readFrame(new ByteArrayInputStream(f)))
      def col(n: String) = block.columns.find(_.name == n)
        .getOrElse(throw new IOException(s"block lacks column $n")).values
      val (seq, subj, data) = (col("sequence"), col("subject"), col("data"))
      var r = 0
      while (r < block.rows) {
        val s = seq(r).asInstanceOf[Long]
        out += s -> Backlog.rowHash(s, subj(r).asInstanceOf[String],
          String.valueOf(data(r)))
        r += 1
      }
    }
    out.result()
  }

  override def close(): Unit = {
    server.close()
    open.forEach(_.close())
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** HTTP interface: `GET /ping` and `POST /?query=INSERT … FORMAT …`, as
  * `graft.sinks.HttpTarget` sends; bodies are counted, not kept. */
final class HttpStandIn(maxConnections: Int) extends StandIn {
  private val pool: ExecutorService = Executors.newFixedThreadPool(maxConnections)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val peers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val url: String = s"ch://writer:secret@127.0.0.1:${server.getAddress.getPort}"

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    if (peers.add(ex.getRemoteAddress.toString)) connections.incrementAndGet()
    try {
      if (ex.getRequestURI.getPath == "/ping") respond(ex, "Ok.\n")
      else {
        val body = ex.getRequestBody.readAllBytes()
        blocks.incrementAndGet()
        wireBytes.addAndGet(body.length.toLong)
        respond(ex, "")
        busyNanos.addAndGet(System.nanoTime() - t0)
      }
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()

  private def respond(ex: HttpExchange, text: String): Unit = {
    val b = text.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
  }

  protected def resetBlocks(): Unit = peers.clear()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Core-NATS server half for `graft.sources.NatsCapture`: INFO, then on
  * each SUB it pushes `messages` as MSG frames to that subscription. */
final class NatsStandIn(messages: Seq[(String, Array[Byte])]) extends AutoCloseable {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  val url: String = s"nats://127.0.0.1:${server.getLocalPort}"

  private val acceptor = new Thread(() => {
    try while (true) {
      val s = server.accept()
      try serve(s) catch { case _: IOException => () } finally s.close()
    } catch { case _: SocketException => () }
  }, "perfbench-nats-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(socket: Socket): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      socket.getInputStream, StandardCharsets.UTF_8))
    val out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
    out.write("INFO {\"server_id\":\"perfbench\",\"max_payload\":1048576}\r\n"
      .getBytes(StandardCharsets.UTF_8))
    out.flush()
    var line = in.readLine()
    while (line != null) {
      if (line == "PING") { out.write("PONG\r\n".getBytes(StandardCharsets.UTF_8)); out.flush() }
      else if (line.startsWith("SUB ")) {
        val sid = line.split(' ').last
        messages.foreach { case (subject, payload) =>
          out.write(s"MSG $subject $sid ${payload.length}\r\n".getBytes(StandardCharsets.UTF_8))
          out.write(payload); out.write('\r'); out.write('\n')
        }
        out.flush()
      }
      line = in.readLine()
    }
  }

  override def close(): Unit = server.close()
}
