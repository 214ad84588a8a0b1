package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.config.GraftConfig
import graft.pipeline.Ingest
import graft.streaming.{CheckpointCommits, NatsLikeStream}


/** The reference service's `main` (`main.go:30-104`), assembled from this
  * library's parts: config load (+env overrides) → source connect →
  * continuous pipeline → batched sink → block until termination.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.Service --config nats.yml --backlog <jsonl dir> \
  *   --warehouse <out dir> [--sink parquet|blocks|http|native] [--once] \
  *   [--capture] [--sessions] [--topk] [--delta <baseDocsParquet>]"
  * }}}
  *
  * `--sink parquet` (default) streams the raw + analytics MV cascade as
  * month-partitioned parquet. `--sink blocks` streams raw rows through
  * [[graft.sinks.BatchInsertSinkProvider]] with the connection settings
  * parsed from the config's `ch://` URL — LZ4 blocks, execution deadline,
  * ping-on-open — i.e. the reference's batched-INSERT path end to end.
  * `--sink http` is the same sink pointed at a LIVE ClickHouse HTTP
  * endpoint: the config's `ch://` DSN selects the real wire path
  * (`INSERT … FORMAT JSONEachRow` POSTs, lz4 Content-Encoding, /ping
  * probe — point the DSN's port at the HTTP interface, 8123).
  * `--sink native` speaks the ClickHouse NATIVE TCP protocol — the wire
  * the reference's clickhouse-go driver actually uses
  * (`connection/connection.go:44-60`): hello handshake, INSERT query
  * packets, LZ4-compressed columnar blocks with CityHash128 checksums
  * (point the DSN's port at the native interface, 9000).
  *
  * `--sessions` additionally runs x72 gap-sessionization over the same
  * envelope stream ([[graft.streaming.SessionStream.sessionizeEnvelopes]])
  * and appends closed sessions to `<warehouse>/sessions` under an
  * independent checkpoint.
  *
  * `--topk` additionally runs x85 windowed heavy hitters over the same
  * envelope stream ([[graft.streaming.TopKStream.windowTopKEnvelopes]] —
  * payload `event_type`, subject fallback) and appends each window's
  * final ranking to `<warehouse>/window_topk` under an independent
  * checkpoint.
  *
  * `--delta <baseDocsParquet>` additionally runs x104 at-ingest near-dup
  * over the same envelope stream
  * ([[graft.streaming.CorpusStream.deltaDedupEnvelopes]] — payload
  * `doc_id`/`text`, streamSeq fallback id): each envelope is MinHash-
  * probed against the static base corpus index built once from the
  * given parquet, and its verdict row (match count, best base partner,
  * the τ drop decision) appends to `<warehouse>/delta_verdicts` under
  * an independent checkpoint. Verdicts are FINAL (one watermark-closed
  * window per doc), so the parquet appends are exactly-once.
  *
  * `--capture` makes the config's `nats://` URL a REAL dial: drain the
  * subscription ([[graft.sources.NatsCapture]] — socket handshake,
  * queue-grouped SUB, JetStream-metadata extraction, ack-after-write)
  * into the backlog directory the DSv2 source replays; once under
  * `--once`, a daemon re-dial loop otherwise. Without the flag the
  * backlog directory alone feeds the stream (replay mode).
  */
object Service {
  def main(args: Array[String]): Unit = {
    // Fold-based flag parsing: only value-taking keys consume the next
    // token, so the valueless --once/--capture work in ANY position (a
    // pairwise sliding would mis-pair everything after a non-trailing
    // valueless flag).
    val valueKeys = Set("config", "backlog", "warehouse", "sink", "delta")
    val opts = {
      @annotation.tailrec
      def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
        rest match {
          case k :: v :: tail if k.startsWith("--") && valueKeys(k.drop(2)) =>
            loop(tail, acc + (k.drop(2) -> v))
          case "--once" :: tail => loop(tail, acc + ("once" -> "true"))
          case "--capture" :: tail => loop(tail, acc + ("capture" -> "true"))
          case "--sessions" :: tail => loop(tail, acc + ("sessions" -> "true"))
          case "--topk" :: tail => loop(tail, acc + ("topk" -> "true"))
          case _ :: tail => loop(tail, acc)
          case Nil => acc
        }
      loop(args.toList, Map.empty)
    }

    val cfg = opts.get("config") match {
      case Some(path) => GraftConfig.load(path) match {
        case Right(c) => c
        case Left(err) => System.err.println(err); sys.exit(1)
      }
      case None => GraftConfig("", "", "text", "info",
        Seq("globex.supprt.>", "globex.crmabc.>"))
    }
    val backlog = opts.getOrElse("backlog", "/tmp/graft_backlog")
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft_warehouse")

    // logger.Init + ConfigBanner (logger.go:18-52): format/level from config
    val log = graft.logging.GraftLogger.init(cfg)
    log.configBanner(cfg)
    log.info("pipeline paths", "backlog" -> backlog, "warehouse" -> warehouse)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-service")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every query below checkpoints under the warehouse: on a local one,
    // commit checkpoint files with rename(2) instead of FileContext's
    // fork-per-file rename. A manager already set in the conf wins.
    if (spark.conf.getOption(CheckpointCommits.ManagerConf).isEmpty)
      CheckpointCommits.managerFor(warehouse, spark.sparkContext.hadoopConfiguration)
        .foreach(spark.conf.set(CheckpointCommits.ManagerConf, _))

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
      val subject = cfg.subjects.headOption.getOrElse("globex.>")
      // the reference's durable push consumer (`main.go:86`): created on
      // the first run via $JS.API, resumed (cursor intact) on restarts;
      // against a core-NATS-only broker capture falls back to plain SUB
      val durable = Some("nats-clickhouse-durable")
      if (opts.contains("once")) {
        val n = graft.sources.NatsCapture.capture(cfg.natsUrl, subject,
          backlog, durable = durable)
        log.info("nats capture", "url" -> cfg.natsUrl, "rows" -> n)
      } else {
        val t = new Thread(() => while (true) {
          try {
            val n = graft.sources.NatsCapture.capture(cfg.natsUrl, subject,
              backlog, maxWaitMs = 5000, durable = durable)
            if (n > 0) log.info("nats capture", "rows" -> n)
          } catch {
            case e: Exception =>
              log.error(s"nats capture failed, retrying: ${e.getMessage}")
              Thread.sleep(5000)
          }
        }, "nats-capture")
        t.setDaemon(true)
        t.start()
      }
    }

    val envelopes = spark.readStream
      .format("graft.sources.ReplayStreamProvider")
      .option("path", backlog)
      .option("maxRowsPerTrigger", NatsLikeStream.MaxRowsPerTrigger)
      .load()
    val trigger =
      if (opts.contains("once")) Trigger.AvailableNow()
      else NatsLikeStream.BatchTimeout
    val query = opts.getOrElse("sink", "parquet") match {
      case mode @ ("blocks" | "http" | "native") =>
        // the ch:// URL's client settings drive the block sink; a bad URL
        // exits like the reference's DSN parse failure (connection.go:31-38)
        val conn = GraftConfig.parseSinkUrl(cfg.clickhouseUrl) match {
          case Right(c) => c
          case Left(err) => log.error(err); sys.exit(1)
        }
        log.info("block sink", "mode" -> mode,
          "compression" -> conn.compression,
          "maxExecutionTimeSec" -> conn.maxExecutionTimeSec)
        val base = NatsLikeStream.dedupedRaw(
            Ingest.subjectFilter(envelopes, NatsLikeStream.SubjectPrefix))
          .writeStream
          .format("graft.sinks.BatchInsertSinkProvider")
          .option("path", s"$warehouse/blocks")
          .option("batchSize", NatsLikeStream.MaxRowsPerTrigger)
          .options(conn.writerOptions)
          // own checkpoint: the parquet pipeline's offsets/state are a
          // DIFFERENT query graph — sharing its checkpoint would skip
          // already-committed offsets (blocks silently never written)
          .option("checkpointLocation", s"$warehouse/_checkpoint_blocks")
          .trigger(trigger)
        // http/native: the DSN selects a REAL wire path — blocks go to
        // the ClickHouse HTTP interface or the native TCP protocol
        // (the reference's actual wire) instead of staging as files
        (if (mode == "http" || mode == "native")
          base.option("url", cfg.clickhouseUrl)
            .option("table", graft.pipeline.Ddl.AllStreams)
            .option("wire", mode)
        else base).start()
      case "parquet" =>
        NatsLikeStream.start(
          envelopes, warehouse, s"$warehouse/_checkpoint", trigger)
      case other =>
        log.error(s"unknown --sink '$other' (expected parquet|blocks|http|native)")
        sys.exit(2)
    }

    // x72 through the service (--sessions): the SAME envelope stream
    // gap-sessionizes alongside the main sink — emitted rows are FINAL
    // (each session closes exactly once, by in-stream gap or watermark
    // timeout), so per-micro-batch parquet appends are exactly-once
    // under the query's own checkpoint.
    val sessionQuery = if (opts.contains("sessions")) Some {
      graft.streaming.SessionStream.sessionizeEnvelopes(spark, envelopes)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$warehouse/_checkpoint_sessions")
        .trigger(trigger)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[graft.streaming.SessionRow],
           _: Long) =>
            ds.write.mode("append").parquet(s"$warehouse/sessions"); ()
        }
        .start()
    } else None

    // x85 through the service (--topk): per-window heavy hitters over
    // the same envelope stream — a window's ranking emits exactly once
    // at watermark close, so per-micro-batch parquet appends are
    // exactly-once under the query's own checkpoint.
    val topkQuery = if (opts.contains("topk")) Some {
      graft.streaming.TopKStream.windowTopKEnvelopes(spark, envelopes)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$warehouse/_checkpoint_topk")
        .trigger(trigger)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[graft.streaming.WindowTopK],
           _: Long) =>
            ds.write.mode("append").parquet(s"$warehouse/window_topk"); ()
        }
        .start()
    } else None

    // x104 through the service (--delta): at-ingest near-dup of every
    // envelope against the static base corpus index (built ONCE from the
    // given parquet at query start and persisted — a deployment swaps in
    // a freshly compacted index by restarting the query). Verdict rows
    // are final watermark-closed windows, so per-micro-batch parquet
    // appends under the query's own checkpoint are exactly-once.
    val deltaQuery = opts.get("delta").map { basePath =>
      val baseDocs = spark.read.parquet(basePath).select("doc_id", "text")
      log.info("delta dedup", "base" -> basePath)
      graft.streaming.CorpusStream.deltaDedupEnvelopes(spark, envelopes, baseDocs)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$warehouse/delta_verdicts")
        .option("checkpointLocation", s"$warehouse/_checkpoint_delta")
        .trigger(trigger)
        .start()
    }

    // B4: SIGTERM/SIGINT → graceful stop; checkpoint replays the tail.
    sys.addShutdownHook {
      if (query.isActive) query.stop()
      sessionQuery.foreach(q => if (q.isActive) q.stop())
      topkQuery.foreach(q => if (q.isActive) q.stop())
      deltaQuery.foreach(q => if (q.isActive) q.stop())
    }
    query.awaitTermination()
    sessionQuery.foreach(_.awaitTermination())
    topkQuery.foreach(_.awaitTermination())
    deltaQuery.foreach(_.awaitTermination())
    spark.stop()
  }
}
