package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException, Trigger}
import graft.config.GraftConfig
import graft.logging.GraftLogger
import graft.pipeline.Ingest
import graft.streaming.{CheckpointCommits, CorpusStream, NatsLikeStream, SessionStream, TopKStream}


/** The reference service's `main` (`main.go:30-104`), assembled from this
  * library's parts: config load (+env overrides) → source connect →
  * continuous pipeline → batched sink → block until termination. Flags:
  * [[Service.Usage]]; run it with `sbt "runMain graft.Service …"`.
  *
  * `--sink parquet` (default) streams the raw + analytics MV cascade as
  * month-partitioned parquet. `--sink blocks` streams raw rows through
  * [[graft.sinks.BatchInsertSinkProvider]] with the settings of the
  * config's `ch://` URL (LZ4 blocks, execution deadline, ping-on-open):
  * the reference's batched-INSERT path end to end. `--sink http` points
  * that sink at a LIVE ClickHouse HTTP interface (port 8123: `INSERT …
  * FORMAT JSONEachRow` POSTs, lz4 Content-Encoding, /ping probe);
  * `--sink native` speaks the NATIVE TCP protocol the reference's
  * clickhouse-go driver uses (port 9000, `connection/connection.go:44-60`:
  * hello handshake, INSERT query packets, LZ4-compressed columnar blocks
  * with CityHash128 checksums).
  *
  * Side streams run over the same envelopes, each under its own
  * checkpoint. `--sessions` appends x72 closed gap-sessions
  * ([[graft.streaming.SessionStream.sessionizeEnvelopes]]) to
  * `<warehouse>/sessions`; `--topk` appends each window's final x85
  * heavy-hitter ranking ([[graft.streaming.TopKStream.windowTopKEnvelopes]]
  * — payload `event_type`, subject fallback) to `<warehouse>/window_topk`.
  * Both are plain per-epoch parquet appends, so an epoch replayed after a
  * crash between its write and its commit log appends its rows again:
  * at-least-once. `--delta <baseDocsParquet>` MinHash-probes each
  * envelope's payload doc (`doc_id`/`text`, streamSeq fallback id;
  * [[graft.streaming.CorpusStream.deltaDedupEnvelopes]]) against the
  * static base corpus index built once from the given parquet; each doc's
  * FINAL verdict (match count, best base partner, the τ drop decision)
  * goes through the parquet file sink to `<warehouse>/delta_verdicts`,
  * whose commit log makes it exactly-once.
  *
  * `--capture` makes the config's `nats://` URL a REAL dial: drain the
  * subscription ([[graft.sources.NatsCapture]] — socket handshake,
  * queue-grouped SUB, JetStream-metadata extraction, ack-after-write)
  * into the backlog directory the DSv2 source replays; once under
  * `--once`, a daemon re-dial loop otherwise. Without the flag the
  * backlog directory alone feeds the stream (replay mode).
  *
  * Lifecycle (`main.go:56-62`, one consumer under one cancellable
  * context): the service waits on all its streams at once. Under `--once`
  * it returns when all have drained; when one fails, it stops the rest,
  * logs the failed stream and rethrows that stream's exception. Either
  * way it returns only after every stream it started has terminated, so
  * listeners see each stream's end before the session stops.
  */
object Service {
  private val ValueFlags = Set("config", "backlog", "warehouse", "sink", "delta")
  private val Flags = Set("once", "capture", "sessions", "topk")
  val Usage = "usage: graft.Service [--config <yml>] [--backlog <jsonl dir>] " +
    "[--warehouse <dir>] [--sink parquet|blocks|http|native] [--once] " +
    "[--capture] [--sessions] [--topk] [--delta <baseDocsParquet>]"

  /** Flag name → value (`"true"` for a valueless flag) over the backlog,
    * warehouse and sink defaults; `Left` on an unknown token or sink and
    * on a value flag without a value. Only value flags consume the next
    * token, so the valueless ones work in any position. */
  def parseArgs(args: Seq[String]): Either[String, Map[String, String]] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(acc)
        case s"--$k" :: tail if Flags(k) => loop(tail, acc + (k -> "true"))
        case s"--$k" :: v :: tail if ValueFlags(k) && !v.startsWith("--") =>
          loop(tail, acc + (k -> v))
        case s"--$k" :: _ if ValueFlags(k) => Left(s"--$k needs a value")
        case k :: _ => Left(s"unknown argument '$k'")
      }
    loop(args.toList, Map("backlog" -> "/tmp/graft_backlog",
        "warehouse" -> "/tmp/graft_warehouse", "sink" -> "parquet"))
      .filterOrElse(o => Set("parquet", "blocks", "http", "native")(o("sink")),
        "unknown --sink (expected parquet|blocks|http|native)")
  }

  /** `SPARK_MASTER` (else `local[4]`) with `SPARK_GRAFT_CPUS` shuffle partitions. */
  def conf(env: Map[String, String]): Seq[(String, String)] = Session.conf(Session.cores(env),
    "spark.master" -> env.getOrElse("SPARK_MASTER", "local[4]"),
    "spark.app.name" -> "graft-service")

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq) match {
      case Right(o) => o
      case Left(err) => System.err.println(s"$err\n$Usage"); sys.exit(2)
    }
    val cfg = opts.get("config") match {
      case Some(path) => GraftConfig.load(path) match {
        case Right(c) => c
        case Left(err) => System.err.println(err); sys.exit(1)
      }
      case None => GraftConfig("", "", "text", "info",
        Seq("globex.supprt.>", "globex.crmabc.>"))
    }
    val warehouse = opts("warehouse")

    // logger.Init + ConfigBanner (logger.go:18-52): format/level from config
    val log = GraftLogger.init(cfg)
    log.configBanner(cfg)
    log.info("pipeline paths", "backlog" -> opts("backlog"), "warehouse" -> warehouse)

    val spark = Session.build(conf(sys.env), "WARN")
    // Every query below checkpoints under the warehouse: on a local one,
    // commit checkpoint files with rename(2) instead of FileContext's
    // fork-per-file rename. A manager already set in the conf wins.
    if (spark.conf.getOption(CheckpointCommits.ManagerConf).isEmpty)
      CheckpointCommits.managerFor(warehouse, spark.sparkContext.hadoopConfiguration)
        .foreach(spark.conf.set(CheckpointCommits.ManagerConf, _))
    try run(spark, cfg, opts, log) finally spark.stop()
  }

  /** One streaming query: its name, its checkpoint directory under the
    * warehouse, and how it writes up to the checkpoint, trigger and start. */
  private final case class Stream(name: String, checkpoint: String, writer: DataStreamWriter[_])

  /** Bootstrap, capture, then every stream the options ask for, started
    * from one table and awaited together on `spark`, which the caller owns
    * and stops. Throws the first failed stream's exception. */
  def run(spark: SparkSession, cfg: GraftConfig, opts: Map[String, String],
      log: GraftLogger): Unit = {
    val backlog = opts("backlog")
    val warehouse = opts("warehouse")

    // Q9: the reference's init.sql bootstrap — idempotent CREATE TABLE IF
    // NOT EXISTS over the warehouse layout plus the Q2-Q4 MV cascade as
    // SQL-facing views, re-run on every start (init.sql:8-121).
    graft.pipeline.Ddl.ensureTables(spark, warehouse)
    graft.pipeline.Ddl.ensureViews(spark)
    // SQL surface: graft_polyhash / graft_shingles / graft_vec_dot for
    // plain-SQL users of the catalog tables (same list a cluster gets
    // via spark.sql.extensions=graft.GraftExtensions)
    GraftFunctions.register(spark)

    // S1 real dial path (--capture): the config's nats:// URL drains the
    // broker into the backlog the DSv2 source replays. Once under --once
    // (fail-fast on a dead broker, like the reference's ConnectNATS);
    // a daemon re-dial loop with backoff in continuous mode.
    if (opts.contains("capture")) {
      // the reference's durable push consumer (`main.go:86`): created on
      // the first run via $JS.API, resumed (cursor intact) on restarts;
      // against a core-NATS-only broker capture falls back to plain SUB
      def capture(maxWaitMs: Long) = graft.sources.NatsCapture.capture(
        cfg.natsUrl, cfg.subjects.headOption.getOrElse("globex.>"), backlog,
        maxWaitMs = maxWaitMs, durable = Some("nats-clickhouse-durable"))
      if (opts.contains("once"))
        log.info("nats capture", "url" -> cfg.natsUrl, "rows" -> capture(2000))
      else {
        val t = new Thread(() => while (true) {
          try { val n = capture(5000); if (n > 0) log.info("nats capture", "rows" -> n) }
          catch { case e: Exception =>
            log.error(s"nats capture failed, retrying: ${e.getMessage}")
            Thread.sleep(5000)
          }
        }, "nats-capture")
        t.setDaemon(true)
        t.start()
      }
    }

    val envelopes = spark.readStream.format("graft.sources.ReplayStreamProvider")
      .option("path", backlog).option("maxRowsPerTrigger", NatsLikeStream.MaxRowsPerTrigger).load()
    val trigger = if (opts.contains("once")) Trigger.AvailableNow() else NatsLikeStream.BatchTimeout
    // --sessions/--topk: plain parquet appends, so an epoch replayed after a
    // crash between write and commit log appends again (at-least-once)
    def appendParquet[T](ds: Dataset[T], mode: String, dir: String) =
      ds.writeStream.outputMode(mode).foreachBatch { (b: Dataset[T], _: Long) =>
        b.write.mode("append").parquet(s"$warehouse/$dir"); ()
      }

    val mainStream = opts("sink") match {
      case "parquet" => Stream("parquet", "_checkpoint", NatsLikeStream.writer(envelopes, warehouse))
      case mode =>
        // the ch:// URL's client settings drive the block sink; a bad URL
        // fails like the reference's DSN parse (connection.go:31-38)
        val conn = GraftConfig.parseSinkUrl(cfg.clickhouseUrl).fold(
          err => { log.error(err); throw new IllegalArgumentException(err) }, identity)
        log.info("block sink", "mode" -> mode, "compression" -> conn.compression,
          "maxExecutionTimeSec" -> conn.maxExecutionTimeSec)
        // own checkpoint: the parquet pipeline's offsets/state are a
        // DIFFERENT query graph — sharing its checkpoint would skip
        // already-committed offsets (blocks silently never written)
        Stream(mode, "_checkpoint_blocks", NatsLikeStream.dedupedRaw(
            Ingest.subjectFilter(envelopes, NatsLikeStream.SubjectPrefix))
          .writeStream
          .format("graft.sinks.BatchInsertSinkProvider")
          .option("path", s"$warehouse/blocks")
          .option("batchSize", NatsLikeStream.MaxRowsPerTrigger)
          .options(conn.writerOptions)
          // http/native: the DSN selects a REAL wire path — blocks go to
          // the ClickHouse HTTP interface or the native TCP protocol
          // (the reference's actual wire) instead of staging as files
          .options(if (mode == "blocks") Map.empty[String, String] else Map(
            "url" -> cfg.clickhouseUrl, "table" -> graft.pipeline.Ddl.AllStreams, "wire" -> mode)))
    }
    val streams = Seq(
      Some(mainStream),
      // x72: each session closes once, by in-stream gap or watermark timeout
      Option.when(opts.contains("sessions"))(Stream("sessions", "_checkpoint_sessions",
        appendParquet(SessionStream.sessionizeEnvelopes(spark, envelopes), "update", "sessions"))),
      // x85: a window's ranking emits once, at watermark close
      Option.when(opts.contains("topk"))(Stream("topk", "_checkpoint_topk",
        appendParquet(TopKStream.windowTopKEnvelopes(spark, envelopes), "append", "window_topk"))),
      // x104: the base index is built ONCE at query start and persisted (a
      // deployment swaps in a freshly compacted index by restarting); final
      // verdicts go through the file sink, whose commit log makes them
      // exactly-once
      opts.get("delta").map { basePath =>
        val baseDocs = spark.read.parquet(basePath).select("doc_id", "text")
        log.info("delta dedup", "base" -> basePath)
        Stream("delta", "_checkpoint_delta", CorpusStream.deltaDedupEnvelopes(spark, envelopes,
          baseDocs).writeStream.outputMode("append").format("parquet")
          .option("path", s"$warehouse/delta_verdicts"))
      }).flatten

    // B4: SIGTERM/SIGINT → graceful stop; checkpoint replays the tail.
    @volatile var started = List.empty[(String, StreamingQuery)]
    def stopAll(): Unit = started.foreach { case (_, q) => if (q.isActive) q.stop() }
    val hook = sys.addShutdownHook(stopAll())
    // a query that ended earlier in this session must not end this wait
    spark.streams.resetTerminated()
    try {
      streams.foreach { s => started ::= s.name -> s.writer.queryName(s.name)
        .option("checkpointLocation", s"$warehouse/${s.checkpoint}").trigger(trigger).start() }
      def failed = started.find(_._2.exception.isDefined)
      while (failed.isEmpty && started.exists(_._2.isActive)) {
        try spark.streams.awaitAnyTermination() catch { case _: StreamingQueryException => }
        spark.streams.resetTerminated()
      }
      failed.foreach { case (name, q) =>
        log.error("stream failed", "stream" -> name, "error" -> q.exception.get.getMessage)
        throw q.exception.get
      }
    } finally {
      stopAll()
      // a query turns inactive before Spark posts its QueryTerminatedEvent;
      // join each one so listeners see its end before the caller stops the
      // session (a failure is rethrown above)
      started.foreach { case (_, q) =>
        try q.awaitTermination() catch { case _: StreamingQueryException => } }
      try hook.remove() catch { case _: IllegalStateException => } // JVM exiting
    }
  }
}
