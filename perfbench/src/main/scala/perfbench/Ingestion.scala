package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger

import graft.config.GraftConfig
import graft.pipeline.{Ddl, Ingest}
import graft.streaming.NatsLikeStream

/** The streaming workloads: closed-loop drains (`--once`, AvailableNow) of
  * a backlog generated before the run. Each drain is one service lifetime
  * — session, pipeline start with its sink ping, drain, stop — against a
  * fresh checkpoint, so drains are independent samples. */
object Ingestion {

  /** Size-driven cadence of the bulk workloads: five epochs per 25 000-line
    * drain, so redeliveries meet state written by earlier epochs and state
    * evicts while data still flows. */
  val BulkRowsPerTrigger = 5000

  /** `epochMs`: durations of the epochs that carried input rows. */
  final case class Drain(setupNs: Long, drainNs: Long, epochMs: Seq[Double],
      expected: Long, failed: Long)

  /** How one drain is started: `ingest_ref` calls `graft.Service.main`,
    * `ingest_bulk_native` composes the same pipeline at the bulk cadence. */
  trait Runner {
    def standIn: NativeStandIn
    def drain(backlog: Path, warehouse: Path): Unit
  }

  /** `Service.main --once --sink native` — what a user runs. */
  final class ServiceRunner(val standIn: NativeStandIn, config: Path) extends Runner {
    def drain(backlog: Path, warehouse: Path): Unit =
      graft.Service.main(Array("--config", config.toString,
        "--backlog", backlog.toString, "--warehouse", warehouse.toString,
        "--sink", "native", "--once"))
  }

  /** The pipeline `Service --sink native` runs, at `rowsPerTrigger`. */
  final class PipelineRunner(val standIn: NativeStandIn, cores: Int,
      rowsPerTrigger: Int = BulkRowsPerTrigger) extends Runner {
    def drain(backlog: Path, warehouse: Path): Unit = {
      val spark = Main.session(cores)
      val conn = GraftConfig.parseSinkUrl(standIn.url)
        .fold(e => throw new IllegalArgumentException(e), identity)
      val envelopes = spark.readStream
        .format("graft.sources.ReplayStreamProvider")
        .option("path", backlog.toString)
        .option("maxRowsPerTrigger", rowsPerTrigger)
        .load()
      val query = NatsLikeStream.dedupedRaw(
          Ingest.subjectFilter(envelopes, NatsLikeStream.SubjectPrefix))
        .writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", warehouse.resolve("blocks").toString)
        .option("batchSize", NatsLikeStream.MaxRowsPerTrigger)
        .options(conn.writerOptions)
        .option("checkpointLocation", warehouse.resolve("_checkpoint_blocks").toString)
        .trigger(Trigger.AvailableNow())
        .option("url", standIn.url)
        .option("table", Ddl.AllStreams)
        .option("wire", "native")
        .start()
      try query.awaitTermination() finally spark.stop()
    }
  }

  def writeConfig(dir: Path, standIn: StandIn): Path = {
    val p = dir.resolve("service.yml")
    Files.writeString(p,
      s"""nats:
         |  url: nats://127.0.0.1:4222
         |clickhouse:
         |  url: ${standIn.url}
         |log:
         |  format: json
         |  level: warn
         |subjects:
         |  - globex.supprt.>
         |""".stripMargin)
    p
  }

  /** One drain with a fresh warehouse and checkpoint, then (untimed) the
    * stand-in's decode and the comparison with the generator's rows. The
    * drain span's attrs carry the stand-in's counters. */
  def drainOnce(runner: Runner, backlog: Path, expected: Backlog.Expected,
      work: Path, parent: Long, kind: String): Drain = {
    val warehouse = Files.createTempDirectory(work, "drain-")
    val standIn = runner.standIn
    standIn.reset()
    Recorder.resetDrain()
    val t0 = System.nanoTime()
    Recorder.span(s"drain.$kind", parent, Map(
      "setupNs" -> (Recorder.queryStartedNs - t0).toDouble,
      "drainNs" -> (Recorder.queryTerminatedNs - Recorder.queryStartedNs).toDouble,
      "rows" -> expected.rows.toDouble,
      "connections" -> standIn.connections.get.toDouble,
      "blocks" -> standIn.blocks.get.toDouble,
      "wireBytes" -> standIn.wireBytes.get.toDouble,
      "busyNs" -> standIn.busyNanos.get.toDouble)) { id =>
      Recorder.current = id
      runner.drain(backlog, warehouse)
    }
    Recorder.current = parent
    val started = Recorder.queryStartedNs
    val epochs = Recorder.synchronized(
      Recorder.progress.filter(_.numInputRows > 0).map(_.batchDuration.toDouble).toSeq)
    val failed = Recorder.queryFailure
      .fold(mismatches(standIn.received(), expected))(_ => expected.rows)
    Main.deleteTree(warehouse)
    Drain(started - t0, Recorder.queryTerminatedNs - started, epochs, expected.rows, failed)
  }

  /** Rows that must have arrived but did not, plus rows that arrived but
    * must not have (duplicates, off-subject, malformed, altered). */
  def mismatches(received: Array[(Long, Long)], expected: Backlog.Expected): Long = {
    val seen = mutable.LongMap.empty[Int]
    var unexpected = 0L
    received.foreach { case (seq, hash) =>
      if (expected.bySeq.get(seq).contains(hash) && !seen.contains(seq)) seen(seq) = 1
      else unexpected += 1
    }
    (expected.rows - seen.size) + unexpected
  }
}
