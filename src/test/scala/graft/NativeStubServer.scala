package graft

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket, SocketException}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types.StructType
import graft.sinks.{NativeBlockCodec, NativeFraming, NativeProto}

/** In-process ClickHouse NATIVE-protocol stub: the server half of the
  * packet grammar `graft.sinks.NativeWire` speaks — hello handshake,
  * Ping→Pong, and the INSERT cycle (Query → external-tables terminator →
  * header block → data blocks → EndOfStream). Every inbound compressed
  * frame goes through [[NativeFraming.readFrame]], so CityHash128
  * checksums are VERIFIED server-side; decoded rows accumulate in
  * [[rows]] and each block's decompressed body in [[blocks]] for
  * assertions, and [[connections]] counts the connections accepted.
  * `failHello = true` turns it into an auth-rejecting server (Exception
  * packet in place of the hello);
  * `chatty = true` makes it interleave ProfileInfo and (uncompressed)
  * Log packets into the INSERT response, as a real server under
  * `send_logs_level` does — the client must skip them. `serverRevision`
  * lets a spec impersonate an older server (the client must refuse the
  * handshake below settings-as-strings, not mis-frame the Query packet).
  * `failInsertOnce = true` raises a mid-INSERT Exception packet (after
  * consuming the first data block, in place of EndOfStream) exactly once
  * — the rows of that failed statement are NOT recorded, mirroring a
  * server that aborted the insert; subsequent attempts succeed, so a
  * retrying epoch can be asserted end-to-end. */
final class NativeStubServer(schema: StructType, failHello: Boolean = false,
    chatty: Boolean = false,
    serverRevision: Long = NativeProto.ClientRevision,
    failInsertOnce: Boolean = false) {
  import NativeProto._

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort

  /** (columnName → value) maps, one per decoded inserted row. */
  val rows = new ArrayBuffer[Map[String, Any]]()
  val queries = new ArrayBuffer[String]()
  /** Each committed data block's decompressed body, in arrival order. */
  val blocks = new ArrayBuffer[Array[Byte]]()
  /** Connections accepted, a ping's included. */
  @volatile var connections = 0
  val settings = new ArrayBuffer[(String, String)]()
  @volatile var framesSeen = 0
  @volatile var cancelsSeen = 0
  @volatile private var failedOnce = false
  private var lastFrame: Array[Byte] = null

  private val acceptThread = new Thread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      connections += 1
      serve(s) // sink writers connect sequentially in these specs
    } catch { case _: SocketException | _: EOFException => () }
  }, "native-stub-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  private def serve(socket: Socket): Unit = {
    val in = new BufferedInputStream(socket.getInputStream)
    val out = new BufferedOutputStream(socket.getOutputStream)
    try {
      // client hello
      require(readVarint(in) == ClientHello, "expected client hello")
      readString(in) // client name
      readVarint(in); readVarint(in) // client version
      val clientRev = readVarint(in)
      readString(in); readString(in); readString(in) // db, user, password
      if (failHello) {
        writeVarint(out, ServerException)
        writeInt32(out, 516) // AUTHENTICATION_FAILED
        writeString(out, "DB::Exception")
        writeString(out, "Authentication failed")
        writeString(out, "") // stack trace
        out.write(0) // no nested
        out.flush()
        return
      }
      writeVarint(out, ServerHello)
      writeString(out, "GraftStubClickHouse")
      writeVarint(out, 23L); writeVarint(out, 8L)
      writeVarint(out, serverRevision)
      val eff = math.min(clientRev, serverRevision)
      if (eff >= MinRevisionWithServerTimezone) writeString(out, "UTC")
      if (eff >= MinRevisionWithServerDisplayName) writeString(out, "stub")
      if (eff >= MinRevisionWithVersionPatch) writeVarint(out, 0L)
      out.flush()

      var open = true
      while (open) {
        val pkt =
          try readVarint(in)
          catch { case _: EOFException => open = false; -1L }
        pkt match {
          case -1L => ()
          case ClientPing =>
            writeVarint(out, ServerPong); out.flush()
          case ClientQuery =>
            readString(in) // query id
            if (eff >= MinRevisionWithClientInfo) {
              in.read() // query kind
              readString(in); readString(in); readString(in)
              in.read() // interface
              readString(in); readString(in); readString(in)
              readVarint(in); readVarint(in); readVarint(in)
              if (eff >= MinRevisionWithQuotaKey) readString(in)
              if (eff >= MinRevisionWithVersionPatch) readVarint(in)
            }
            // settings as strings (≥54429): (name, flags, value) triples
            // until the empty-name terminator
            var setting = readString(in)
            while (setting.nonEmpty) {
              readVarint(in) // flags
              settings += setting -> readString(in)
              setting = readString(in)
            }
            readVarint(in) // stage
            val compression = readVarint(in)
            require(compression == CompressionEnabled,
              "stub expects compressed wire")
            queries += readString(in)
            readDataPacket(in) // external-tables terminator (empty)
            // header block: the table structure, zero rows
            writeVarint(out, ServerData)
            writeString(out, "")
            NativeFraming.writeFrame(out,
              NativeBlockCodec.encode(schema, Seq.empty))
            out.flush()
            // data blocks until the empty terminator
            val stmtRows = new ArrayBuffer[Map[String, Any]]()
            val stmtBlocks = new ArrayBuffer[Array[Byte]]()
            var aborted = false
            var block = readDataPacket(in)
            while (!aborted && block.rows > 0) {
              stmtBlocks += lastFrame
              val cols = block.columns
              (0 until block.rows).foreach { r =>
                stmtRows += cols.map(c => c.name -> c.values(r)).toMap
              }
              if (failInsertOnce && !failedOnce) {
                // a real mid-INSERT failure (quota, memory, readonly):
                // Exception in place of further reads — the statement's
                // rows are lost server-side
                failedOnce = true
                aborted = true
                writeVarint(out, ServerException)
                writeInt32(out, 241) // MEMORY_LIMIT_EXCEEDED
                writeString(out, "DB::Exception")
                writeString(out, "Memory limit (for query) exceeded")
                writeString(out, "") // stack trace
                out.write(0) // no nested
                out.flush()
              } else block = readDataPacket(in)
            }
            if (aborted) {
              // drain what the client had already queued for this
              // statement (terminator included) so the connection state
              // machine stays aligned if the client keeps the socket
              var drain = readDataPacket(in)
              while (drain.rows > 0) drain = readDataPacket(in)
            } else {
              rows ++= stmtRows
              blocks ++= stmtBlocks
              // progress (5-field shape: every real server at the
              // negotiated revision appends written_rows/written_bytes —
              // the client desyncs here if it reads only 3) + chatter +
              // end of stream
              writeVarint(out, ServerProgress)
              writeVarint(out, rows.size.toLong); writeVarint(out, 0L)
              writeVarint(out, 0L)
              if (eff >= MinRevisionWithClientWriteInfo) {
                writeVarint(out, stmtRows.size.toLong) // written_rows
                writeVarint(out, 0L) // written_bytes
              }
              if (chatty) {
                writeVarint(out, ServerProfileInfo)
                writeVarint(out, rows.size.toLong) // rows
                writeVarint(out, 1L) // blocks
                writeVarint(out, 0L) // bytes
                out.write(0) // applied_limit
                writeVarint(out, 0L) // rows_before_limit
                out.write(0) // calculated_rows_before_limit
                // Log packet: block rides UNCOMPRESSED, always
                writeVarint(out, ServerLog)
                writeString(out, "")
                out.write(NativeBlockCodec.encode(
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("text",
                      org.apache.spark.sql.types.StringType, nullable = false))),
                  Seq(new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(Array[Any](
                      org.apache.spark.unsafe.types.UTF8String
                        .fromString("stub log line"))))))
              }
              writeVarint(out, ServerEndOfStream)
              out.flush()
            }
          case ClientCancel =>
            cancelsSeen += 1
          case other =>
            throw new IOException(s"stub: unexpected client packet $other")
        }
      }
    } finally socket.close()
  }

  private def readDataPacket(in: java.io.InputStream)
      : NativeBlockCodec.DecodedBlock = {
    require(readVarint(in) == ClientData, "expected client data packet")
    readString(in) // temporary-table name
    framesSeen += 1
    lastFrame = NativeFraming.readFrame(in)
    NativeBlockCodec.decode(lastFrame)
  }

  def close(): Unit = server.close()
}
