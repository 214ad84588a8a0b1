package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.model.Schemas
import graft.pipeline.{Ingest, Views}
import graft.sinks._
import graft.sources.{ReplayMicroBatchStream, ReplayOffset, ReplayPartition, ReplayReader}
import graft.streaming.NatsLikeStream

/** Direct calls into single layers, each recorded as a span whose attrs
  * carry the work it did (rows, bytes), so ns/row and byte ratios are
  * derived from the trace alone. Run only when tracing, after the timed
  * work. */
object Probes {

  /** Rows handed to each sink probe: enough for stable per-row figures,
    * few enough to keep a traced run short. */
  val SinkSampleRows = 10000

  /** Returns the lines the reader skipped as malformed. */
  def sources(backlog: Path, parent: Long): Long = {
    (0 until 3).foreach { _ =>
      Recorder.span("sources.index", parent) { _ =>
        new ReplayMicroBatchStream(backlog.toString, 1000)
          .latestOffset(ReplayOffset(0L), ReadLimit.allAvailable())
      }
    }
    val stream = new ReplayMicroBatchStream(backlog.toString, 1000)
    val end = stream.reportLatestOffset().asInstanceOf[ReplayOffset].rows
    val parts = stream.planInputPartitions(ReplayOffset(0L), ReplayOffset(end))
    var n = 0L
    Recorder.span("sources.read", parent,
      Map("lines" -> end.toDouble, "rows" -> n.toDouble)) { _ =>
      parts.foreach { p =>
        val r = new ReplayReader(p.asInstanceOf[ReplayPartition])
        try while (r.next()) { r.get(); n += 1 } finally r.close()
      }
    }
    end - n
  }

  /** `NatsCapture.capture` draining a core-NATS stand-in that pushes 1000
    * messages (the capture's batch size) taken from the backlog. */
  def capture(backlog: Path, work: Path, parent: Long): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = Files.list(backlog)
    val lines = try files.iterator().asScala.toSeq.sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f).asScala).take(1000)
      finally files.close()
    val messages = lines.flatMap { l =>
      scala.util.Try(mapper.readTree(l)).toOption
        .filter(n => n.hasNonNull("subject") && n.hasNonNull("data"))
        .map(n => n.get("subject").asText() ->
          n.get("data").asText().getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val nats = new NatsStandIn(messages)
    try (0 until 5).foreach { i =>
      val dir = work.resolve(s"capture-$i")
      var n = 0L
      Recorder.span("sources.capture", parent, Map("msgs" -> n.toDouble)) { _ =>
        n = graft.sources.NatsCapture.capture(nats.url, "globex.supprt.>", dir.toString,
          maxMsgs = messages.size)
      }
      Main.deleteTree(dir)
    } finally nats.close()
  }

  /** The ingest projection and the analytics view as batch jobs over the
    * backlog's well-formed envelopes (cached first, so the jobs time the
    * transforms, not the read). Returns up to [[SinkSampleRows]] raw rows
    * for the sink probes. */
  def pipeline(spark: SparkSession, backlog: Path, parent: Long): Array[InternalRow] = {
    val df = spark.read.schema(Schemas.envelope).json(backlog.toString)
      .na.drop(Seq("subject", "metaTimestamp", "streamSeq")).cache()
    val in = df.count()
    val raw = Ingest.envelopeToRaw(Ingest.subjectFilter(df, NatsLikeStream.SubjectPrefix))
    val passed = raw.count()
    Recorder.span("pipeline.raw", parent, Map("rows" -> in.toDouble, "rowsOut" -> passed.toDouble)) {
      _ => raw.write.format("noop").mode("overwrite").save()
    }
    val rawDf = raw.cache()
    rawDf.count()
    Recorder.span("pipeline.analytics", parent, Map("rows" -> passed.toDouble)) { _ =>
      Views.deriveAnalytics(rawDf, variant = true).write.format("noop").mode("overwrite").save()
    }
    val sample = rawDf.limit(SinkSampleRows).queryExecution.toRdd.map(_.copy()).collect()
    df.unpersist(); rawDf.unpersist()
    sample
  }

  /** Timed repeats of each sink probe, after one untimed call; `run.py`
    * takes the median. */
  val SinkRepeats = 3

  /** Each wire's writer on pre-built rows, then its pieces called alone:
    * serialize (rows → block bytes), compress (block bytes → wire bytes).
    * Every call runs once untimed first, then [[SinkRepeats]] times timed. */
  def sinks(rows: Array[InternalRow], native: StandIn, http: StandIn,
      work: Path, parent: Long): Unit = {
    val schema = Schemas.raw
    val block = NatsLikeStream.MaxRowsPerTrigger
    val n = rows.length.toDouble
    def conn(s: StandIn) = graft.config.GraftConfig.parseSinkUrl(s.url)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val nc = conn(native)
    val nativeTarget = NativeTarget(nc.host, nc.port, "nats_data_all_streams", nc.user, nc.password)
    val hc = conn(http)
    val httpTarget = HttpTarget(s"http://${hc.host}:${hc.port}", "nats_data_all_streams",
      hc.user, hc.password)
    def repeated(name: String, attrs: => Map[String, Double])(body: => Unit): Unit = {
      body
      (1 to SinkRepeats).foreach(_ => Recorder.span(name, parent, attrs)(_ => body))
    }

    /** `factory(dir)` builds the writer; the `blocks` wire writes into
      * `dir`, which is fresh for every call. */
    def writer(wire: String, standIn: Option[StandIn])(factory: String => BlockWriterFactory): Unit =
      (0 to SinkRepeats).foreach { i =>
        standIn.foreach(_.reset())
        val dir = Files.createTempDirectory(work, "blocks-probe-")
        val f = factory(dir.toString)
        def write(): Unit = {
          val w = f.createWriter(0, 0L, 0L)
          try { rows.foreach(w.write); w.commit() } finally w.close()
        }
        if (i == 0) write()
        else Recorder.span(s"sinks.$wire.writer", parent, Map("rows" -> n, "wireBytes" ->
          standIn.map(_.wireBytes.get).getOrElse(dirBytes(dir)).toDouble))(_ => write())
        Main.deleteTree(dir)
      }
    writer("native", Some(native))(_ => BlockWriterFactory("", block, "lz4", 60, schema, None,
      native = Some(nativeTarget)))
    writer("http_json", Some(http))(_ => BlockWriterFactory("", block, "lz4", 60, schema,
      Some(httpTarget), "JSONEachRow"))
    writer("http_rowbinary", Some(http))(_ => BlockWriterFactory("", block, "lz4", 60, schema,
      Some(httpTarget), "RowBinary"))
    writer("blocks", None)(dir => BlockWriterFactory(dir, block, "lz4", 60, schema, None))

    val groups = rows.grouped(block).map(_.toSeq).toSeq
    /** `send` puts the compressed blocks on the wire alone; the native wire
      * has no public call for that, so `run.py` derives its send time as
      * the writer's time less serialize and compress. */
    def pieces(wire: String, serialize: Seq[InternalRow] => Array[Byte],
        compress: Array[Byte] => Array[Byte], send: Option[Seq[Array[Byte]] => Unit]): Unit = {
      var bodies = Seq.empty[Array[Byte]]
      repeated(s"sinks.$wire.serialize", Map("rows" -> n)) { bodies = groups.map(serialize) }
      val plain = bodies.map(_.length.toLong).sum
      var packed = Seq.empty[Array[Byte]]
      repeated(s"sinks.$wire.compress", Map("rows" -> n, "bytesIn" -> plain.toDouble,
          "bytesOut" -> packed.map(_.length.toLong).sum.toDouble)) {
        packed = bodies.map(compress)
      }
      send.foreach(f => repeated(s"sinks.$wire.send", Map("rows" -> n))(f(packed)))
    }
    val json = new JsonLineSerializer(schema)
    val rowBinary = new RowBinarySerializer(schema)
    def rowsBody(s: RowSerializer)(rs: Seq[InternalRow]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      rs.foreach { r => val b = s.rowBytes(r); out.write(b, 0, b.length) }
      out.toByteArray
    }
    def lz4Frame(b: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val z = new net.jpountz.lz4.LZ4FrameOutputStream(out)
      z.write(b); z.close(); out.toByteArray
    }
    def lz4Block(b: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val z = new net.jpountz.lz4.LZ4BlockOutputStream(out)
      z.write(b); z.close(); out.toByteArray
    }
    val blocksDir = Files.createTempDirectory(work, "blocks-send-")
    def post(format: String)(bs: Seq[Array[Byte]]): Unit =
      bs.foreach(httpTarget.post(_, lz4 = false, 60, format))
    pieces("native", rs => NativeBlockCodec.encode(schema, rs), b => {
      val out = new ByteArrayOutputStream(); NativeFraming.writeFrame(out, b); out.toByteArray
    }, None)
    pieces("http_json", rowsBody(json), lz4Frame, Some(post("JSONEachRow")))
    pieces("http_rowbinary", rowsBody(rowBinary), lz4Frame, Some(post("RowBinary")))
    pieces("blocks", rowsBody(json), lz4Block,
      Some(_.zipWithIndex.foreach { case (b, i) => Files.write(blocksDir.resolve(s"block-$i"), b) }))
    Main.deleteTree(blocksDir)

    (0 until 5).foreach { _ =>
      Recorder.span("sinks.handshake", parent)(_ => nativeTarget.connect().close())
    }
  }

  private def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }
}
