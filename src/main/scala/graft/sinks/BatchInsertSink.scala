package graft.sinks

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

import net.jpountz.lz4.LZ4BlockOutputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.config.GraftConfig

/** DataSource V2 streaming sink (SURVEY §2.4 K1/K2): the local stand-in
  * for the reference's batched ClickHouse INSERT protocol
  * (`main.go:153-212`, clickhouse-go `PrepareBatch`/`Append`/`Send`),
  * carrying the reference connection's client settings
  * (`connection/connection.go:46-76`).
  *
  * ONE task-side writer ([[BlockWriter]]) runs the reference's
  * `Append`×N → `Send` loop for every target: it buffers row copies,
  * sends each `batchSize`-row buffer as one block (the final partial
  * block at commit), enforces `maxExecutionTimeSec`, and counts blocks
  * and rows. Where a block goes is its transport, selected by options:
  *
  *  - file (no `url`): each partition's blocks append to one staged
  *    JSON-lines file; ONLY the driver-side `commit(epochId, …)` publishes
  *    it into the table directory (atomic rename) — ack-after-write (K2).
  *    A failed epoch leaves nothing visible and replays; published names
  *    are (epoch, partition), attempt-agnostic, so a replay overwrites
  *    itself. `compression=lz4` writes the file through
  *    `LZ4BlockOutputStream` as `.jsonl.lz4`.
  *  - HTTP (`url` = `ch://user:pass@host:port`, `wire=http`, + `table`):
  *    each block is POSTed to the ClickHouse HTTP interface as
  *    `INSERT INTO <table> FORMAT <insertFormat>` (`JSONEachRow` or the
  *    byte-exact `RowBinary`). Credentials ride as
  *    `X-ClickHouse-User`/`X-ClickHouse-Key`, `max_execution_time` as a
  *    query setting, and `compression=lz4` frames each body
  *    (`Content-Encoding: lz4`, `connection.go:58-60`).
  *  - native (`wire=native`): each block is one INSERT on the ClickHouse
  *    native TCP protocol — the reference's own wire
  *    (`connection.go:44-60`), always LZ4-framed — over a connection
  *    opened lazily at the first block and held for the writer's life.
  *
  * On the wires, blocks are Sent task-side (clickhouse-go commits per
  * `Send`, `main.go:205-210`); the epoch commit is what lets the SOURCE
  * advance its offsets, which is the ack. Replayed epochs re-send their
  * blocks (at-least-once, as in the reference; Replicated* engines
  * deduplicate identical re-inserted blocks by checksum).
  *
  *  - `maxExecutionTimeSec` (default 60, `connection.go:55-57`): a task
  *    whose writer outlives it fails the epoch before its next block is
  *    sent (an in-thread check cannot interrupt a send blocked in the OS
  *    — the guarantee is bounded epochs, not bounded syscalls).
  *  - ping-on-open (`connection.go:69-72`): the target is probed once per
  *    query, when its first micro-batch builds the write (`GET /ping`,
  *    native Ping/Pong, or a probe file), so an unreachable target fails
  *    the query at start, before its first epoch writes anything. Later
  *    epochs do not probe again: their blocks fail on their own.
  *  - a `wire`, `compression` or `insertFormat` outside its choices, a
  *    `batchSize` ≤ 0, or `compression=none` on the native wire fails
  *    `start()` with an IllegalArgumentException.
  *
  * Usage:
  * {{{
  * df.writeStream.format("graft.sinks.BatchInsertSinkProvider")
  *   .option("path", dir).option("batchSize", 1000)
  *   .options(sinkConn.writerOptions)   // from a ch:// URL
  *   // add for a wire transport (wire = http | native):
  *   .option("url", "ch://user:pass@host:8123").option("table", "t")
  *   .option("checkpointLocation", cp).start()
  * }}}
  */
class BatchInsertSinkProvider extends TableProvider {
  // Sink-only: schema comes from the query via LogicalWriteInfo.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    def opt(key: String, default: String): String =
      Option(properties.get(key)).getOrElse(default)
    /** A closed-choice option in its canonical spelling; a typo must not
      * silently select a different behaviour. */
    def oneOf(key: String, default: String, choices: String*): String = {
      val v = opt(key, default)
      choices.find(_.equalsIgnoreCase(v)).getOrElse(
        throw new IllegalArgumentException(
          s"sink option $key='$v' (expected one of ${choices.mkString(", ")})"))
    }
    val batchSize = opt("batchSize", "1000").toInt
    require(batchSize > 0, s"sink option batchSize=$batchSize (expected > 0)")
    val compression = oneOf("compression", "lz4", "lz4", "none")
    val wire = oneOf("wire", "http", "http", "native")
    require(wire != "native" || compression == "lz4",
      "sink option compression=none: the native wire always LZ4-frames its blocks")
    new BatchInsertTable(
      properties.get("path"),
      batchSize,
      compression,
      opt("maxExecutionTimeSec", "60").toInt,
      Option(properties.get("url")),
      opt("table", "nats_data_all_streams"),
      oneOf("insertFormat", "JSONEachRow", "JSONEachRow", "RowBinary"),
      wire)
  }
}

final class BatchInsertTable(path: String, batchSize: Int,
    compression: String, maxExecutionTimeSec: Int,
    url: Option[String], chTable: String,
    insertFormat: String = "JSONEachRow", wire: String = "http")
    extends Table with SupportsWrite {
  override def name(): String =
    url.fold(s"batch_insert($path)")(u => s"batch_insert($u/$chTable)")
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

  /** Set once the target answered its ping. Spark builds the write again
    * every time it plans a micro-batch, three times per epoch; a table is
    * built once per `start()`, so the query pings once. */
  @volatile private var pinged = false

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = {
          val conn = url.map(dsn => GraftConfig.parseSinkUrl(dsn)
            .fold(e => throw new IOException(e), identity))
          val (http, native) = conn match {
            case Some(c) if wire == "native" =>
              (None, Some(NativeTarget(c.host, c.port, chTable, c.user, c.password)))
            case Some(c) =>
              (Some(HttpTarget(s"http://${c.host}:${c.port}", chTable,
                c.user, c.password)), None)
            case None => (None, None)
          }
          val factory = BlockWriterFactory(path, batchSize, compression,
            maxExecutionTimeSec, info.schema(), http, insertFormat, native)
          if (!pinged) { factory.ping(); pinged = true }
          new BatchInsertStreamingWrite(factory)
        }
      }
    }
}

/** Serializable handle for the ClickHouse HTTP interface: one endpoint,
  * one target table; [[post]] sends one insert block.
  *
  * The table name is interpolated into the INSERT query string, so it is
  * validated against a strict identifier pattern at construction — a
  * malformed or attacker-influenced writer option must fail fast here,
  * not become arbitrary SQL (the reference binds the table through the
  * prepared-batch API, which has the same property). */
final case class HttpTarget(endpoint: String, table: String,
    user: String, password: String) {

  require(HttpTarget.TablePattern.matcher(table).matches(),
    s"illegal ClickHouse table name: '$table' " +
    "(expected [A-Za-z_][A-Za-z0-9_]* with optional db. qualifier)")

  def ping(): Unit = {
    val c = open(s"$endpoint/ping")
    c.setRequestMethod("GET")
    val rc =
      try c.getResponseCode
      catch { case e: IOException =>
        throw new IOException(s"sink ping failed for $endpoint: $e") }
    c.disconnect()
    if (rc != 200)
      throw new IOException(s"sink ping failed for $endpoint: HTTP $rc")
  }

  /** POST one block: `INSERT INTO <table> FORMAT <fmt>` with the
    * session settings in the query string; body optionally LZ4-framed
    * (`Content-Encoding: lz4`). Non-200 → IOException → task retry →
    * epoch replay (at-least-once). */
  def post(body: Array[Byte], lz4: Boolean, maxExecutionTimeSec: Int,
      format: String = "JSONEachRow"): Unit = {
    val q = java.net.URLEncoder.encode(
      s"INSERT INTO $table FORMAT $format", StandardCharsets.UTF_8)
    val c = open(s"$endpoint/?query=$q&max_execution_time=$maxExecutionTimeSec")
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    if (user.nonEmpty) c.setRequestProperty("X-ClickHouse-User", user)
    if (password.nonEmpty) c.setRequestProperty("X-ClickHouse-Key", password)
    if (lz4) c.setRequestProperty("Content-Encoding", "lz4")
    val out = c.getOutputStream
    val wire =
      if (lz4) new net.jpountz.lz4.LZ4FrameOutputStream(out) else out
    wire.write(body); wire.close()
    val rc = c.getResponseCode
    if (rc != 200) {
      val err = Option(c.getErrorStream).map { s =>
        try new String(s.readNBytes(512), StandardCharsets.UTF_8)
        finally s.close()
      }.getOrElse("")
      c.disconnect()
      throw new IOException(s"insert block rejected: HTTP $rc $err")
    }
    c.disconnect()
  }

  private def open(u: String): java.net.HttpURLConnection = {
    val c = java.net.URI.create(u).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(BlockTransport.DialTimeoutMs)
    c.setReadTimeout(120000)
    c
  }
}

object HttpTarget {
  /** `ident` or `db.ident`, ClickHouse unquoted-identifier rules. */
  private[sinks] val TablePattern = java.util.regex.Pattern.compile(
    "[A-Za-z_][A-Za-z0-9_]*(?:\\.[A-Za-z_][A-Za-z0-9_]*)?")
}

/** stagedPath includes the task attempt id; fileName is the attempt-
  * agnostic published name, so a replayed epoch overwrites itself. */
final case class BlockFileCommit(stagedPath: String, fileName: String)
    extends WriterCommitMessage

/** Wire commit message (HTTP or native): blocks were already Sent
  * task-side. */
final case class HttpBlocksCommit(blocks: Int, rows: Long)
    extends WriterCommitMessage

final class BatchInsertStreamingWrite(factory: BlockWriterFactory)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory

  /** The single ack point: rename every staged block file into the table
    * dir. Until this runs, nothing is visible (ack-after-write). The
    * wires have nothing staged to publish. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: BlockFileCommit => m }
    if (staged.nonEmpty) {
      val dir = Paths.get(factory.path)
      Files.createDirectories(dir)
      staged.foreach { case BlockFileCommit(stagedPath, name) =>
        Files.move(Paths.get(stagedPath), dir.resolve(name),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** A failed epoch deletes its staged files; blocks already sent on a
    * wire cannot be unsent — the epoch replays and re-sends them. */
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case BlockFileCommit(staged, _) => Files.deleteIfExists(Paths.get(staged))
      case _ => ()
    }
}

/** Serializable factory shipped to tasks (must not capture the
  * driver-side StreamingWrite). The target is `native` if set, else
  * `http` if set, else the staged files under `path`. */
final case class BlockWriterFactory(path: String, batchSize: Int,
    compression: String, maxExecutionTimeSec: Int, schema: StructType,
    http: Option[HttpTarget], insertFormat: String = "JSONEachRow",
    native: Option[NativeTarget] = None)
    extends StreamingDataWriterFactory {

  /** Ping-on-open (`connection.go:69-72`), run driver-side when a query's
    * first write is built; the file target must accept a probe file. */
  def ping(): Unit = (native, http) match {
    case (Some(target), _) => target.ping()
    case (None, Some(target)) => target.ping()
    case (None, None) =>
      try {
        val dir = Files.createDirectories(Paths.get(path))
        Files.delete(Files.createTempFile(dir, "_ping", ""))
      } catch {
        case e: Exception =>
          throw new IOException(s"sink ping failed for $path: $e")
      }
  }

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    val lz4 = compression.equalsIgnoreCase("lz4")
    val transport = (native, http) match {
      case (Some(target), _) =>
        new NativeTransport(target, schema, maxExecutionTimeSec)
      case (None, Some(target)) =>
        val serializer =
          if (insertFormat.equalsIgnoreCase("RowBinary"))
            new RowBinarySerializer(schema)
          else new JsonLineSerializer(schema)
        new HttpTransport(target, serializer, lz4, maxExecutionTimeSec)
      case (None, None) =>
        new FileTransport(path, new JsonLineSerializer(schema), lz4,
          partitionId, taskId, epochId)
    }
    new BlockWriter(transport, batchSize, maxExecutionTimeSec)
  }
}

/** The task-side writer for every target: buffer row copies up to
  * `batchSize`, send each full buffer as ONE block (the `Append`×N →
  * `Send` loop, `main.go:153-212`), send the final partial block on
  * commit, and fail the epoch before any block once the writer has
  * outlived `maxExecutionTimeSec`. */
final class BlockWriter private[sinks] (transport: BlockTransport,
    batchSize: Int, maxExecutionTimeSec: Int)
    extends DataWriter[InternalRow] {

  private val buffer = new ArrayBuffer[InternalRow](batchSize)
  private var blocks = 0
  private var rows = 0L
  private val startNanos = System.nanoTime()

  private def flush(): Unit = if (buffer.nonEmpty) {
    val elapsedSec = (System.nanoTime() - startNanos) / 1e9
    if (elapsedSec > maxExecutionTimeSec) {
      transport.teardown()
      throw new IOException(
        s"max_execution_time (${maxExecutionTimeSec}s) exceeded after " +
        f"$elapsedSec%.1fs on block $blocks")
    }
    transport.send(buffer.toSeq)
    blocks += 1
    rows += buffer.size
    buffer.clear()
  }

  override def write(row: InternalRow): Unit = {
    buffer += row.copy() // InternalRow is reused by the caller
    if (buffer.size >= batchSize) flush()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    transport.commit(blocks, rows)
  }

  override def abort(): Unit = {
    buffer.clear()
    transport.abort()
  }

  override def close(): Unit = transport.close()
}

/** Where a [[BlockWriter]]'s blocks go: one block per [[send]], in order. */
private[sinks] trait BlockTransport {
  def send(rows: Seq[InternalRow]): Unit
  /** The writer's deadline fired: release the target before failing. */
  def teardown(): Unit = ()
  /** Wires have Sent every block already; only the count is reported. */
  def commit(blocks: Int, rows: Long): WriterCommitMessage =
    HttpBlocksCommit(blocks, rows)
  def abort(): Unit = ()
  def close(): Unit = ()
}

private[sinks] object BlockTransport {
  /** Dial ceiling of both wires (`connection.go:46`). */
  val DialTimeoutMs = 30000
}

/** Native TCP: one INSERT per block over a connection opened at the first
  * block. The deadline sends the Cancel packet (the server stops any
  * in-flight query promptly), THEN closes — not a bare socket abort. */
private final class NativeTransport(target: NativeTarget, schema: StructType,
    maxExecutionTimeSec: Int) extends BlockTransport {
  private var conn: NativeConnection = null

  def send(rows: Seq[InternalRow]): Unit = {
    if (conn == null) conn = target.connect()
    conn.insert(target.table, schema, rows, maxExecutionTimeSec)
  }

  override def teardown(): Unit = if (conn != null) {
    try conn.cancel() catch { case _: IOException => () }
    try conn.close() catch { case _: IOException => () }
    conn = null
  }

  override def close(): Unit = if (conn != null) conn.close()
}

/** HTTP: one POST per block, rows serialized back to back. */
private final class HttpTransport(target: HttpTarget,
    serializer: RowSerializer, lz4: Boolean, maxExecutionTimeSec: Int)
    extends BlockTransport {
  private val body = new ByteArrayOutputStream()

  def send(rows: Seq[InternalRow]): Unit = {
    body.reset()
    rows.foreach { r => val b = serializer.rowBytes(r); body.write(b, 0, b.length) }
    target.post(body.toByteArray, lz4, maxExecutionTimeSec, serializer.format)
  }
}

/** Staged file: every block appends JSON lines to one file per task
  * attempt, optionally through one LZ4 block stream; the driver's epoch
  * commit publishes it. */
private final class FileTransport(path: String, serializer: RowSerializer,
    lz4: Boolean, partitionId: Int, taskId: Long, epochId: Long)
    extends BlockTransport {
  private val ext = if (lz4) "jsonl.lz4" else "jsonl"

  /** Published (attempt-agnostic) block name: replayed epochs overwrite. */
  private val published = f"epoch-$epochId%06d-part-$partitionId%05d.$ext"

  /** Staged per-ATTEMPT (taskId) so a retried/speculative attempt never
    * clobbers another attempt's file, and abort() deletes only its own. */
  private val staging = {
    val d = Paths.get(path, "_staging")
    Files.createDirectories(d)
    d.resolve(f"epoch-$epochId%06d-part-$partitionId%05d-task-$taskId.$ext")
  }
  private val out = {
    val raw = new FileOutputStream(staging.toFile)
    new BufferedOutputStream(if (lz4) new LZ4BlockOutputStream(raw) else raw)
  }

  def send(rows: Seq[InternalRow]): Unit =
    rows.foreach(r => out.write(serializer.rowBytes(r)))

  override def commit(blocks: Int, rows: Long): WriterCommitMessage = {
    out.close()
    BlockFileCommit(staging.toString, published)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staging)
  }
}

/** One row → wire bytes, under a named ClickHouse FORMAT. */
sealed trait RowSerializer extends Serializable {
  def format: String
  def rowBytes(row: InternalRow): Array[Byte]
}

/** Schema-driven row → JSON line serialization, shared by both wire
  * paths (string/long/int/double/boolean/timestamp/binary). */
final class JsonLineSerializer(schema: StructType) extends RowSerializer {

  override def format: String = "JSONEachRow"

  override def rowBytes(row: InternalRow): Array[Byte] =
    (jsonLine(row) + "\n").getBytes(StandardCharsets.UTF_8)

  private def esc(s: String): String = graft.util.JsonText.escape(s)

  def jsonLine(row: InternalRow): String = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      val v =
        if (row.isNullAt(i)) "null"
        else f.dataType match {
          case StringType => "\"" + esc(row.getUTF8String(i).toString) + "\""
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case DoubleType =>
            val d = row.getDouble(i)
            // NaN/Infinity are not valid JSON tokens; surface them as null
            // rather than emitting lines a strict consumer would reject
            if (java.lang.Double.isFinite(d)) d.toString else "null"
          case BooleanType => row.getBoolean(i).toString
          case TimestampType => row.getLong(i).toString // epoch micros
          case BinaryType => "\"" + java.util.Base64.getEncoder
            .encodeToString(row.getBinary(i)) + "\""
          case other => "\"" + esc(row.get(i, other).toString) + "\""
        }
      "\"" + f.name + "\":" + v
    }
    fields.mkString("{", ",", "}")
  }
}

/** Schema-driven row → ClickHouse RowBinary serialization (the PUBLIC
  * RowBinary format the HTTP interface accepts): values row-by-row in
  * column order, no names/delimiters — Strings and Binary as LEB128
  * varint length + bytes, Int32/Int64/Float64 little-endian fixed-width,
  * Boolean as UInt8, Timestamp as DateTime64(6) Int64 micros (Spark's
  * native resolution, lossless). A NULLABLE Spark field maps to
  * `Nullable(T)` (1-byte 0x00/0x01 null flag before each value, 0x01 =
  * NULL with no value bytes).
  *
  * This is the wire-efficiency analogue of the reference's native-
  * protocol columnar blocks (`connection/connection.go:58-60`):
  * JSONEachRow re-sends every field name and renders numbers as text on
  * every row; RowBinary sends each value once, in binary — the insert
  * bandwidth a real ClickHouse deployment actually achieves. */
final class RowBinarySerializer(schema: StructType) extends RowSerializer {

  override def format: String = "RowBinary"

  override def rowBytes(row: InternalRow): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      val isNull = row.isNullAt(i)
      if (f.nullable) out.write(if (isNull) 1 else 0)
      else if (isNull)
        throw new IOException(
          s"null in non-nullable RowBinary column ${f.name}")
      if (!isNull) f.dataType match {
        case StringType => bytesVal(out, row.getUTF8String(i).getBytes)
        case LongType => fixed64(out, row.getLong(i))
        case IntegerType =>
          val v = row.getInt(i)
          out.write(v & 0xff); out.write((v >>> 8) & 0xff)
          out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
        case DoubleType =>
          fixed64(out, java.lang.Double.doubleToLongBits(row.getDouble(i)))
        case BooleanType => out.write(if (row.getBoolean(i)) 1 else 0)
        case TimestampType => fixed64(out, row.getLong(i)) // DateTime64(6)
        case BinaryType => bytesVal(out, row.getBinary(i))
        case other =>
          bytesVal(out, row.get(i, other).toString
            .getBytes(StandardCharsets.UTF_8))
      }
      i += 1
    }
    out.toByteArray
  }

  private def bytesVal(out: java.io.ByteArrayOutputStream,
      b: Array[Byte]): Unit = {
    varint(out, b.length.toLong); out.write(b, 0, b.length)
  }

  /** Unsigned LEB128 — RowBinary's length encoding. */
  private def varint(out: java.io.ByteArrayOutputStream, n0: Long): Unit = {
    var n = n0
    while ((n & ~0x7fL) != 0) {
      out.write(((n & 0x7f) | 0x80).toInt); n >>>= 7
    }
    out.write(n.toInt)
  }

  private def fixed64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
}
