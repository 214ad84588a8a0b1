package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import net.jpountz.lz4.LZ4Factory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The ClickHouse NATIVE TCP protocol — the wire the reference actually
  * speaks (`connection/connection.go:44-60`: clickhouse-go v2 dials the
  * native port with `compression: lz4`; the HTTP interface the sink's
  * `wire=http` path uses is the PUBLIC fallback, this is the faithful
  * mapping).
  *
  * Implemented from the published protocol (ClickHouse is open source;
  * the packet grammar below is that of `src/Core/Protocol.h` and is
  * re-implemented independently by every third-party driver):
  *
  *  - client packets: Hello=0, Query=1, Data=2, Cancel=3, Ping=4
  *  - server packets: Hello=0, Data=1, Exception=2, Progress=3, Pong=4,
  *    EndOfStream=5, ProfileInfo=6, Log=10, TableColumns=11
  *  - scalars: unsigned LEB128 varints; strings = varint length + UTF-8;
  *    fixed-width integers little-endian
  *  - INSERT flow: Query("INSERT INTO t (cols) VALUES") → empty block
  *    (end of external tables) → server sends the header block → client
  *    streams data blocks + an empty terminator → EndOfStream
  *  - with compression enabled, each block payload rides in LZ4 frames:
  *    `[16B CityHash128 checksum][1B method=0x82][4B compressed size incl
  *    this 9B header][4B decompressed size][LZ4 block bytes]`, checksum
  *    over the 9-byte header + compressed bytes ([[CityHash102]] — the
  *    pinned v1.0.2 algorithm, NOT current CityHash).
  *
  * The client pins protocol revision 54429 (timezone + display-name +
  * version-patch in the hello, quota-key in client-info, settings
  * serialized as (name, flags, value) strings — which is how
  * `max_execution_time` rides the wire; still BEFORE the
  * interserver-secret revision) and negotiates `min(client, server)`
  * like every driver. Specs exercise the full
  * round trip against [[NativeStubServer]]; interop against a live
  * server is env-gated the same way as the HTTP path (no egress here).
  */
object NativeProto {
  val ClientHello = 0L
  val ClientQuery = 1L
  val ClientData = 2L
  val ClientCancel = 3L
  val ClientPing = 4L

  val ServerHello = 0L
  val ServerData = 1L
  val ServerException = 2L
  val ServerProgress = 3L
  val ServerPong = 4L
  val ServerEndOfStream = 5L
  val ServerProfileInfo = 6L
  val ServerLog = 10L
  val ServerTableColumns = 11L

  /** Pinned client revision (see class doc). */
  val ClientRevision = 54429L
  /** Revision gates used below (names follow the server's constants). */
  val MinRevisionWithClientInfo = 54032L
  val MinRevisionWithServerTimezone = 54058L
  val MinRevisionWithQuotaKey = 54060L
  val MinRevisionWithServerDisplayName = 54372L
  /** ≥ this (same gate as the display name), every Progress packet
    * carries written_rows + written_bytes after the 3 read-side fields —
    * any live server at the pinned revision sends the 5-field shape. */
  val MinRevisionWithClientWriteInfo = 54372L
  val MinRevisionWithVersionPatch = 54401L
  /** ≥ this, Progress additionally carries elapsed_ns. Above the pinned
    * [[ClientRevision]] so never negotiated today; gated anyway so a
    * future revision bump can't silently desync the stream. */
  val MinRevisionWithServerQueryTimeInProgress = 54460L
  /** ≥ this, query settings serialize as (name, flags, value-string)
    * triples — the format that lets us ship `max_execution_time` without
    * the pre-54429 typed-binary field encoding. */
  val MinRevisionWithSettingsAsStrings = 54429L

  val QueryStageComplete = 2L
  val CompressionEnabled = 1L
  val CompressionMethodLz4: Byte = 0x82.toByte

  // ---- scalar wire encoding ------------------------------------------

  def writeVarint(out: OutputStream, n0: Long): Unit = {
    var n = n0
    while ((n & ~0x7fL) != 0) { out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7 }
    out.write(n.toInt)
  }

  def readVarint(in: InputStream): Long = {
    var n = 0L; var shift = 0
    while (shift < 64) {
      val b = in.read()
      if (b < 0) throw new EOFException("varint")
      n |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return n
      shift += 7
    }
    throw new IOException("varint too long")
  }

  def writeString(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    writeVarint(out, b.length.toLong); out.write(b)
  }

  def readString(in: InputStream): String = {
    val len = readVarint(in).toInt
    val b = new Array[Byte](len)
    new DataInputStream(in).readFully(b)
    new String(b, StandardCharsets.UTF_8)
  }

  def writeInt32(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  def readInt32(in: InputStream): Int = {
    val b = new Array[Byte](4)
    new DataInputStream(in).readFully(b)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) |
      ((b(3) & 0xff) << 24)
  }

  def writeInt64(out: OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  def readInt64(in: InputStream): Long = {
    val b = new Array[Byte](8)
    new DataInputStream(in).readFully(b)
    var v = 0L; var i = 0
    while (i < 8) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
    v
  }
}

/** A server-raised Exception packet, surfaced TYPED so the sink can tell
  * a ClickHouse-side failure (retryable query error, auth reject,
  * mid-INSERT abort) from transport-level IO problems. Spark's epoch
  * retry applies either way; the type is for callers that branch. */
final case class ClickHouseServerException(code: Int, name: String,
    serverMessage: String, nested: String)
    extends IOException(
      s"ClickHouse exception $code $name: $serverMessage$nested")

/** LZ4 + CityHash128 compressed-frame codec (both directions — the sink
  * client and the stub server share it, but checksum VERIFICATION on read
  * is unconditional, so a corrupted frame fails loudly on either side). */
object NativeFraming {
  import NativeProto._

  private val lz4 = LZ4Factory.fastestInstance()

  /** Frame one payload: header+body checksummed with CityHash128. */
  def writeFrame(out: OutputStream, payload: Array[Byte]): Unit = {
    val comp = lz4.fastCompressor()
    val compressed = new Array[Byte](comp.maxCompressedLength(payload.length))
    val compLen = comp.compress(payload, 0, payload.length, compressed, 0,
      compressed.length)
    val frame = new Array[Byte](9 + compLen)
    frame(0) = CompressionMethodLz4
    val compSizeWithHeader = 9 + compLen
    var i = 0
    while (i < 4) {
      frame(1 + i) = ((compSizeWithHeader >>> (8 * i)) & 0xff).toByte
      frame(5 + i) = ((payload.length >>> (8 * i)) & 0xff).toByte
      i += 1
    }
    System.arraycopy(compressed, 0, frame, 9, compLen)
    val (lo, hi) = CityHash102.cityHash128(frame, 0, frame.length)
    writeInt64(out, lo); writeInt64(out, hi)
    out.write(frame)
  }

  /** Read + verify one frame; throws on checksum mismatch (the server's
    * `CHECKSUM_DOESNT_MATCH`). */
  def readFrame(in: InputStream): Array[Byte] = {
    val expectLo = readInt64(in)
    val expectHi = readInt64(in)
    val header = new Array[Byte](9)
    new DataInputStream(in).readFully(header)
    if (header(0) != CompressionMethodLz4)
      throw new IOException(f"unknown compression method 0x${header(0)}%02x")
    var compSizeWithHeader = 0; var decompSize = 0; var i = 0
    while (i < 4) {
      compSizeWithHeader |= (header(1 + i) & 0xff) << (8 * i)
      decompSize |= (header(5 + i) & 0xff) << (8 * i)
      i += 1
    }
    val frame = new Array[Byte](compSizeWithHeader)
    System.arraycopy(header, 0, frame, 0, 9)
    new DataInputStream(in).readFully(frame, 9, compSizeWithHeader - 9)
    val (lo, hi) = CityHash102.cityHash128(frame, 0, frame.length)
    if (lo != expectLo || hi != expectHi)
      throw new IOException(
        f"native frame checksum mismatch: got ($lo%016x,$hi%016x) " +
        f"expected ($expectLo%016x,$expectHi%016x)")
    val payload = new Array[Byte](decompSize)
    lz4.safeDecompressor()
      .decompress(frame, 9, compSizeWithHeader - 9, payload, 0, decompSize)
    payload
  }
}

/** Native-format block codec: the COLUMNAR block body (BlockInfo +
  * per-column name/type/values) that rides inside the compressed frames.
  * Type mapping mirrors [[RowBinarySerializer]]: String/Int64/Int32/
  * Float64/UInt8(Boolean)/DateTime64(6)(Timestamp micros)/String(Binary);
  * nullable Spark fields become `Nullable(T)` (null-map bytes first, then
  * values with defaults in null slots — the native layout). */
object NativeBlockCodec {
  import NativeProto._

  def chType(f: StructField): String = {
    val base = f.dataType match {
      case StringType => "String"
      case LongType => "Int64"
      case IntegerType => "Int32"
      case DoubleType => "Float64"
      case BooleanType => "UInt8"
      case TimestampType => "DateTime64(6)"
      case BinaryType => "String"
      case other =>
        throw new IOException(s"no native mapping for ${other.simpleString}")
    }
    if (f.nullable) s"Nullable($base)" else base
  }

  /** Encode `rows` (buffered copies) under `schema` as one block body. */
  def encode(schema: StructType, rows: Seq[InternalRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    // BlockInfo: field 1 = is_overflows(UInt8), field 2 = bucket_num
    // (Int32, -1 = no bucket), 0 terminates.
    writeVarint(out, 1L); out.write(0)
    writeVarint(out, 2L); writeInt32(out, -1)
    writeVarint(out, 0L)
    writeVarint(out, schema.fields.length.toLong)
    writeVarint(out, rows.size.toLong)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      writeString(out, f.name)
      writeString(out, chType(f))
      if (f.nullable) rows.foreach(r => out.write(if (r.isNullAt(i)) 1 else 0))
      rows.foreach { r =>
        val isNull = r.isNullAt(i)
        if (isNull && !f.nullable)
          throw new IOException(s"null in non-nullable native column ${f.name}")
        f.dataType match {
          case StringType =>
            val b = if (isNull) Array.emptyByteArray
                    else r.getUTF8String(i).getBytes
            writeVarint(out, b.length.toLong); out.write(b)
          case LongType => writeInt64(out, if (isNull) 0L else r.getLong(i))
          case IntegerType => writeInt32(out, if (isNull) 0 else r.getInt(i))
          case DoubleType =>
            writeInt64(out, java.lang.Double.doubleToLongBits(
              if (isNull) 0d else r.getDouble(i)))
          case BooleanType =>
            out.write(if (!isNull && r.getBoolean(i)) 1 else 0)
          case TimestampType =>
            writeInt64(out, if (isNull) 0L else r.getLong(i))
          case BinaryType =>
            val b = if (isNull) Array.emptyByteArray else r.getBinary(i)
            writeVarint(out, b.length.toLong); out.write(b)
          case other =>
            throw new IOException(s"no native mapping for ${other.simpleString}")
        }
      }
    }
    out.toByteArray
  }

  /** One decoded column: values boxed, null slots as `null`. */
  final case class DecodedColumn(name: String, chType: String,
      values: IndexedSeq[Any])
  final case class DecodedBlock(rows: Int, columns: IndexedSeq[DecodedColumn])

  /** Decode one block body (the stub server's read side — and the proof
    * the encoding is self-describing, not writer-trusting). */
  def decode(body: Array[Byte]): DecodedBlock =
    decodeStream(new java.io.ByteArrayInputStream(body))

  /** Decode one block directly off a stream — needed for packets whose
    * blocks ride UNCOMPRESSED with no length prefix (server Log /
    * ProfileEvents data), where only the parse itself knows the end. */
  def decodeStream(in: InputStream): DecodedBlock = {
    var field = readVarint(in)
    while (field != 0) {
      field match {
        case 1 => in.read()
        case 2 => readInt32(in)
        case other => throw new IOException(s"unknown BlockInfo field $other")
      }
      field = readVarint(in)
    }
    val nCols = readVarint(in).toInt
    val nRows = readVarint(in).toInt
    val cols = (0 until nCols).map { _ =>
      val name = readString(in)
      val tpe = readString(in)
      val nullable = tpe.startsWith("Nullable(")
      val base = if (nullable) tpe.stripPrefix("Nullable(").stripSuffix(")")
                 else tpe
      val nullMap: Array[Boolean] =
        if (nullable) Array.fill(nRows)(in.read() == 1)
        else Array.fill(nRows)(false)
      val values = (0 until nRows).map { r =>
        val v: Any = base match {
          case "String" =>
            val len = readVarint(in).toInt
            val b = new Array[Byte](len)
            new DataInputStream(in).readFully(b)
            new String(b, StandardCharsets.UTF_8)
          case "Int64" => readInt64(in)
          case "Int32" => readInt32(in)
          case "Float64" => java.lang.Double.longBitsToDouble(readInt64(in))
          case "UInt8" => in.read() == 1
          case "DateTime64(6)" => readInt64(in)
          case other => throw new IOException(s"unknown native type $other")
        }
        if (nullMap(r)) null else v
      }
      DecodedColumn(name, tpe, values)
    }
    DecodedBlock(nRows, cols)
  }
}

/** One native-protocol client connection: handshake on construction,
  * then [[ping]] / [[insert]]; each insert is a complete Query →
  * header → data → EndOfStream cycle (one block per statement — the
  * sink's flush unit, like the HTTP path's per-block POST). */
final class NativeConnection(host: String, port: Int, user: String,
    password: String, database: String, connectTimeoutMs: Int = BlockTransport.DialTimeoutMs,
    readTimeoutMs: Int = 120000) extends AutoCloseable {
  import NativeProto._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setSoTimeout(readTimeoutMs)
  socket.setTcpNoDelay(true)
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private val in = new BufferedInputStream(socket.getInputStream)

  /** Negotiated `min(client, server)` revision. */
  val serverRevision: Long = handshake()

  private def handshake(): Long = {
    writeVarint(out, ClientHello)
    writeString(out, "graft-spark")
    writeVarint(out, 1L); writeVarint(out, 0L) // client version major.minor
    writeVarint(out, ClientRevision)
    writeString(out, database)
    writeString(out, user)
    writeString(out, password)
    out.flush()
    readVarint(in) match {
      case ServerHello =>
        readString(in) // server name
        readVarint(in); readVarint(in) // server version major.minor
        val rev = readVarint(in)
        val eff = math.min(rev, ClientRevision)
        if (eff >= MinRevisionWithServerTimezone) readString(in)
        if (eff >= MinRevisionWithServerDisplayName) readString(in)
        if (eff >= MinRevisionWithVersionPatch) readVarint(in)
        // This client serializes query settings as (name, flags, value)
        // strings — the only format it speaks. Against an older server
        // that encoding is a malformed Query packet, so refuse the
        // handshake with a clear error instead of desyncing later.
        if (eff < MinRevisionWithSettingsAsStrings)
          throw new IOException(
            s"server protocol revision $rev is below the minimum supported " +
            s"$MinRevisionWithSettingsAsStrings (settings-as-strings); " +
            "upgrade the server or use the http wire path")
        eff
      case ServerException => throw readException()
      case other => throw new IOException(s"unexpected hello packet $other")
    }
  }

  /** Exception packet: code, name, message, stack trace, has_nested. */
  private def readException(): ClickHouseServerException = {
    val code = readInt32(in)
    val name = readString(in)
    val message = readString(in)
    readString(in) // stack trace
    val hasNested = in.read() == 1
    val nested = if (hasNested) s"; nested: ${readException().getMessage}" else ""
    ClickHouseServerException(code, name, message, nested)
  }

  def ping(): Unit = {
    writeVarint(out, ClientPing); out.flush()
    var pkt = readVarint(in)
    while (pkt == ServerProgress) { skipProgress(); pkt = readVarint(in) }
    if (pkt != ServerPong) throw new IOException(s"expected Pong, got $pkt")
  }

  /** Best-effort query cancellation — the graceful path when the writer's
    * own deadline fires mid-connection: tell the server to stop the
    * running query (it answers with Exception or EndOfStream, which the
    * CLOSE discards) instead of just dropping the socket and leaving the
    * server to notice the half-open TCP peer on its own schedule. */
  def cancel(): Unit = {
    writeVarint(out, ClientCancel)
    out.flush()
  }

  /** INSERT one block of buffered rows. */
  def insert(table: String, schema: StructType, rows: Seq[InternalRow],
      maxExecutionTimeSec: Int): Unit = {
    val cols = schema.fields.map(_.name).mkString(", ")
    sendQuery(s"INSERT INTO $table ($cols) VALUES",
      Seq("max_execution_time" -> maxExecutionTimeSec.toString))
    sendBlock(Array.emptyByteArray, empty = true) // end of external tables
    awaitHeaderBlock()
    sendBlock(NativeBlockCodec.encode(schema, rows), empty = false)
    sendBlock(Array.emptyByteArray, empty = true) // end of data
    awaitEndOfStream()
  }

  private def sendQuery(query: String,
      settings: Seq[(String, String)] = Nil): Unit = {
    writeVarint(out, ClientQuery)
    writeString(out, "") // query id (server assigns)
    // field PRESENCE is gated on the NEGOTIATED revision (min(client,
    // server)) — the server parses the packet by what it negotiated, so
    // gating on the pinned ClientRevision would mis-frame the packet
    // against an older server. (The version fields inside still carry
    // the client's own version, like every driver.)
    if (serverRevision >= MinRevisionWithClientInfo) {
      out.write(1) // query kind: initial query
      writeString(out, "") // initial user
      writeString(out, "") // initial query id
      writeString(out, "0.0.0.0:0") // initial address
      out.write(1) // interface: TCP
      writeString(out, System.getProperty("user.name", ""))
      writeString(out, "localhost")
      writeString(out, "graft-spark")
      writeVarint(out, 1L); writeVarint(out, 0L)
      writeVarint(out, ClientRevision)
      if (serverRevision >= MinRevisionWithQuotaKey) writeString(out, "")
      if (serverRevision >= MinRevisionWithVersionPatch) writeVarint(out, 0L)
    }
    // settings as strings (≥54429): the server-side query ceiling the
    // reference configures (`connection.go:55-57`) rides the wire, like
    // the HTTP path's max_execution_time query parameter. The writer
    // still enforces its own deadline — the stub can't.
    settings.foreach { case (name, value) =>
      writeString(out, name)
      writeVarint(out, 0L) // flags: not important, not custom
      writeString(out, value)
    }
    writeString(out, "") // settings terminator
    writeVarint(out, QueryStageComplete)
    writeVarint(out, CompressionEnabled)
    writeString(out, query)
    out.flush()
  }

  /** Client data packet: id, table name, compressed block body. The
    * empty block (0 cols / 0 rows) is the protocol's terminator. */
  private def sendBlock(body: Array[Byte], empty: Boolean): Unit = {
    writeVarint(out, ClientData)
    writeString(out, "") // temporary-table name
    val payload =
      if (empty) {
        val b = new java.io.ByteArrayOutputStream(16)
        writeVarint(b, 1L); b.write(0)
        writeVarint(b, 2L); writeInt32(b, -1)
        writeVarint(b, 0L)
        writeVarint(b, 0L); writeVarint(b, 0L) // 0 cols, 0 rows
        b.toByteArray
      } else body
    NativeFraming.writeFrame(out, payload)
    out.flush()
  }

  private def skipProgress(): Unit = {
    // read-side: rows, bytes, total_rows (all varints)
    readVarint(in); readVarint(in); readVarint(in)
    // write-side (≥54372 — always true at the pinned revision, so every
    // LIVE server sends it; reading only 3 fields here desyncs the
    // stream on the first real Progress packet)
    if (serverRevision >= MinRevisionWithClientWriteInfo) {
      readVarint(in); readVarint(in) // written_rows, written_bytes
    }
    if (serverRevision >= MinRevisionWithServerQueryTimeInProgress)
      readVarint(in) // elapsed_ns
  }

  private def readServerBlock(): NativeBlockCodec.DecodedBlock = {
    readString(in) // table name
    NativeBlockCodec.decode(NativeFraming.readFrame(in))
  }

  /** ProfileInfo: rows, blocks, bytes, applied_limit, rows_before_limit,
    * calculated_rows_before_limit. */
  private def skipProfileInfo(): Unit = {
    readVarint(in); readVarint(in); readVarint(in)
    in.read(); readVarint(in); in.read()
  }

  /** Server Log packets carry a block that is NEVER compressed,
    * regardless of the query's compression setting. */
  private def skipLogBlock(): Unit = {
    readString(in) // table name
    NativeBlockCodec.decodeStream(in)
  }

  private def awaitHeaderBlock(): Unit = {
    var done = false
    while (!done) readVarint(in) match {
      case ServerData => readServerBlock(); done = true
      case ServerProgress => skipProgress()
      case ServerTableColumns => readString(in); readString(in)
      case ServerProfileInfo => skipProfileInfo()
      case ServerLog => skipLogBlock()
      case ServerException => throw readException()
      case other => throw new IOException(s"unexpected packet $other awaiting header")
    }
  }

  private def awaitEndOfStream(): Unit = {
    var done = false
    while (!done) readVarint(in) match {
      case ServerEndOfStream => done = true
      case ServerProgress => skipProgress()
      case ServerData => readServerBlock()
      case ServerProfileInfo => skipProfileInfo()
      case ServerLog => skipLogBlock()
      case ServerException => throw readException()
      case other => throw new IOException(s"unexpected packet $other awaiting EOS")
    }
  }

  override def close(): Unit = socket.close()
}

/** Serializable handle for the native wire (the per-task writer opens
  * its own connection lazily — sockets don't serialize). Table name is
  * identifier-validated exactly like [[HttpTarget]]. */
final case class NativeTarget(host: String, port: Int, table: String,
    user: String, password: String, database: String = "default") {

  require(HttpTarget.TablePattern.matcher(table).matches(),
    s"illegal ClickHouse table name: '$table' " +
    "(expected [A-Za-z_][A-Za-z0-9_]* with optional db. qualifier)")

  /** Ping-on-open (`connection.go:69-72`): handshake + Ping/Pong. */
  def ping(): Unit = {
    val c = new NativeConnection(host, port, user, password, database)
    try c.ping()
    catch { case e: IOException =>
      throw new IOException(s"sink ping failed for native://$host:$port: $e") }
    finally c.close()
  }

  def connect(): NativeConnection =
    new NativeConnection(host, port, user, password, database)
}
