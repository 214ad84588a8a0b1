package graft.sources

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.OffsetDateTime
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** DataSource V2 micro-batch streaming source (SURVEY §2.1 S1, §4): the
  * local stand-in for a NATS JetStream consumer, replaying an envelope
  * backlog from JSON-lines files.
  *
  * Mapping of JetStream consumer semantics onto the DSv2 contract:
  *
  *  - stream sequence → [[ReplayOffset]] (count of rows consumed). The
  *    reference's durable consumer resumes from the last acked sequence
  *    (`main.go:86-94`); here the checkpointed offset plays that role —
  *    `initialOffset` only applies to a fresh consumer.
  *  - bounded channel + count flush (B1/B2, `main.go:25-28,75`) →
  *    [[SupportsAdmissionControl]] with `ReadLimit.maxRows(batchSize)`:
  *    each trigger admits at most `maxRowsPerTrigger` rows.
  *  - ack-after-write (K2) → `commit(offset)` is called only after the
  *    sink epoch commits; an uncommitted epoch replays — at-least-once.
  *
  * Backlog files are UTF-8 JSON lines, as [[NatsCapture]] writes them.
  *
  * Scale shape: the driver only counts lines per file (metadata pass);
  * rows are read executor-side, one [[InputPartition]] per file slice. A
  * production NATS source partitions by sequence range the same way.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.ReplayStreamProvider")
  *   .option("path", dir).option("maxRowsPerTrigger", 1000).load()
  * }}}
  */
class ReplayStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.envelope
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ReplayTable(properties.get("path"),
      Option(properties.get("maxRowsPerTrigger")).map(_.toInt).getOrElse(1000))
}

final class ReplayTable(path: String, maxRows: Int)
    extends Table with SupportsRead {
  override def name(): String = s"replay($path)"
  override def schema(): StructType = Schemas.envelope
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = Schemas.envelope
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ReplayMicroBatchStream(path, maxRows)
    }
}

/** Offset = number of envelope rows consumed from the (sorted) backlog. */
final case class ReplayOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

final class ReplayMicroBatchStream(path: String, maxRows: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Files in deterministic name order with their line counts — the
    * "stream backlog" index. Built once on the driver (metadata only).
    *
    * Contract: the backlog is a STATIC replay fixture — offsets are global
    * line positions over this name-sorted list, so adding or removing
    * files under an existing checkpoint would remap committed offsets.
    * (A live NATS source has no such caveat: its offsets are the broker's
    * absolute stream sequences.) Append new data as files that sort AFTER
    * the existing ones, or use a fresh checkpoint. */
  private lazy val files: Seq[(String, Long)] = {
    val p = Paths.get(path)
    val all =
      if (Files.isDirectory(p)) {
        val stream = Files.list(p)
        try stream.iterator().asScala.toSeq
          .filter(f => f.toString.endsWith(".json") || f.toString.endsWith(".jsonl"))
          .sortBy(_.getFileName.toString)
        finally stream.close()
      } else Seq(p)
    all.map(f => (f.toString, ReplayMicroBatchStream.countLines(f)))
  }
  private lazy val totalRows: Long = files.map(_._2).sum

  /** Backlog end captured when a Trigger.AvailableNow query starts — the
    * stream drains up to here in maxRows-sized batches, then stops. */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(totalRows)

  override def initialOffset(): Offset = ReplayOffset(0L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** B2: admit at most the read limit's row count per trigger. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ReplayOffset].rows
    val end = availableNowEnd.getOrElse(totalRows)
    val capped = limit match {
      // overflow-safe: compare against the remaining row count instead of
      // computing from + maxRows (maxRows may be huge)
      case m: ReadMaxRows =>
        if (m.maxRows() >= end - from) end else from + m.maxRows()
      case _ => end // allAvailable / composite limits: drain to the end
    }
    ReplayOffset(capped)
  }

  override def reportLatestOffset(): Offset = ReplayOffset(totalRows)

  override def deserializeOffset(json: String): Offset = ReplayOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ReplayOffset].rows
    val to = end.asInstanceOf[ReplayOffset].rows
    // One partition per file slice intersecting [from, to) — executors
    // read their own slices; the driver ships only (file, skip, take).
    var fileStart = 0L
    val parts = Seq.newBuilder[InputPartition]
    for ((f, n) <- files) {
      val lo = math.max(from, fileStart)
      val hi = math.min(to, fileStart + n)
      if (lo < hi) parts += ReplayPartition(f, lo - fileStart, hi - lo)
      fileStart += n
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new ReplayReader(partition.asInstanceOf[ReplayPartition])
    }

  override def commit(end: Offset): Unit = () // acked via checkpoint
  override def stop(): Unit = ()
}

object ReplayMicroBatchStream {

  /** The number of lines `BufferedReader.readLine` returns for `f`, counted
    * on the raw bytes without decoding them: `\n`, `\r\n` and a lone `\r`
    * each end a line, and a last line without a terminator counts too. In
    * UTF-8 the bytes 0x0A and 0x0D occur only as those characters, and the
    * reader's decoder replaces a malformed sequence without consuming a
    * following terminator, so the counts agree on any bytes. Readers skip
    * to their slice with `readLine`, so the two must never disagree. */
  def countLines(f: Path): Long = {
    val ch = FileChannel.open(f, StandardOpenOption.READ)
    try {
      val buf = ByteBuffer.allocate(1 << 16)
      val bytes = buf.array()
      var n = 0L
      var afterCr = false // the previous byte was a '\r'
      var open = false    // bytes seen since the last terminator
      var got = ch.read(buf)
      while (got >= 0) {
        var i = 0
        while (i < got) {
          val b = bytes(i)
          if (b == '\n') { if (!afterCr) n += 1; afterCr = false; open = false }
          else if (b == '\r') { n += 1; afterCr = true; open = false }
          else { afterCr = false; open = true }
          i += 1
        }
        buf.clear()
        got = ch.read(buf)
      }
      if (open) n + 1 else n
    } finally ch.close()
  }

  /** A line reader over a backlog file. Malformed bytes decode to U+FFFD
    * instead of failing the read, so one bad line fails only its own parse
    * (P1). */
  def reader(file: String): BufferedReader =
    new BufferedReader(new InputStreamReader(
      new FileInputStream(file), StandardCharsets.UTF_8))
}

final case class ReplayPartition(file: String, skip: Long, take: Long)
    extends InputPartition

/** Executor-side reader: skip to the slice, parse each JSON line into an
  * envelope InternalRow. Malformed lines are skipped — the reference's
  * row-level error tolerance (P1, `main.go:162-166`). */
final class ReplayReader(p: ReplayPartition) extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val reader = ReplayMicroBatchStream.reader(p.file)
  private var skipped = 0L
  while (skipped < p.skip && reader.readLine() != null) skipped += 1
  private var emitted = 0L
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (emitted < p.take) {
      val line = reader.readLine()
      if (line == null) return false
      emitted += 1
      parse(line) match {
        case Some(r) => row = r; return true
        case None => // skip malformed row, keep consuming the slice
      }
    }
    false
  }

  private def parse(line: String): Option[InternalRow] =
    try {
      val n = mapper.readTree(line)
      val ts = OffsetDateTime.parse(n.get("metaTimestamp").asText())
      val micros = TimeUnit.SECONDS.toMicros(ts.toEpochSecond) +
        TimeUnit.NANOSECONDS.toMicros(ts.getNano.toLong)
      Some(InternalRow(
        UTF8String.fromString(n.get("subject").asText()),
        if (n.hasNonNull("data")) UTF8String.fromString(n.get("data").asText()) else null,
        micros,
        n.get("streamSeq").asLong()))
    } catch { case _: Exception => None }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
