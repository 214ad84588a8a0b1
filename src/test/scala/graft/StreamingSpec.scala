package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.NatsLikeStream

/** Top-level so Spark can generate an Encoder (inner classes can't). */
case class Env(subject: String, data: String,
  metaTimestamp: Timestamp, streamSeq: Long)

/** Event row for the stream-stream join test. */
case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String)

/** Streaming parity (SURVEY §2.2, §2.4, §5.5): micro-batch pipeline over a
  * MemoryStream source, at-least-once replay from checkpoint, stateful
  * dedup, windowed aggregation with watermark. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def envs(from: Long, n: Int): Seq[Env] =
    (from until from + n).map { i =>
      Env(
        subject = if (i % 3 == 0) s"globex.crmabc.u$i" else s"globex.supprt.u$i.chat${i % 5}",
        data = s"""{"text":"ev-$i","id":"m$i","timestamp":${1704067200L + i}}""",
        metaTimestamp = ts("2024-01-15 10:00:00"),
        streamSeq = i)
    }

  test("pipeline writes raw + analytics in the same epoch; subject filter applies") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_stream_wh").toString
    val cp = Files.createTempDirectory("graft_stream_cp").toString
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Env]
    src.addData(envs(0, 30): _*)
    val q = NatsLikeStream.writer(src.toDF(), wh)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", cp).start()
    q.awaitTermination()
    val raw = spark.read.parquet(s"$wh/raw")
    val analytics = spark.read.parquet(s"$wh/analytics")
    // 10 of 30 subjects are crmabc → filtered out (S2, only Subjects[0])
    assert(raw.count() === 20)
    assert(analytics.count() === 20)
    assert(analytics.columns.contains("message_text"))
    // second epoch appends incrementally (MV semantics: per insert block)
    src.addData(envs(30, 15): _*)
    val q2 = NatsLikeStream.writer(src.toDF(), wh)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", cp).start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$wh/raw").count() === 30)
  }

  test("restart from checkpoint does not reprocess committed offsets (K2)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_replay_wh").toString
    val cp = Files.createTempDirectory("graft_replay_cp").toString
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Env]
    src.addData(envs(0, 10): _*)
    val q = NatsLikeStream.writer(src.toDF(), wh)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", cp).start()
    q.awaitTermination()
    val n1 = spark.read.parquet(s"$wh/raw").count()
    // restart with NO new data: committed epochs must not replay
    val q2 = NatsLikeStream.writer(src.toDF(), wh)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", cp).start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$wh/raw").count() === n1)
  }

  test("dropDuplicatesWithinWatermark removes replayed sequences (B5 upgrade)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Env]
    val out = Files.createTempDirectory("graft_dedup_out").toString
    val cp = Files.createTempDirectory("graft_dedup_cp").toString
    // the same 10 sequences delivered twice (at-least-once duplicate risk)
    src.addData(envs(0, 10): _*)
    src.addData(envs(0, 10): _*)
    val q = NatsLikeStream.dedupedRaw(src.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === 10)
    assert(got.select("sequence").distinct().count() === 10)
  }

  test("windowed counts with watermark run in streaming mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Env]
    src.addData(envs(0, 20): _*)
    val q = NatsLikeStream.windowedCounts(src.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only closed windows; with one batch nothing closes —
    // the assertion is that the stateful plan runs and commits.
    assert(spark.table("win_counts").columns.toSeq ===
      Seq("hour_start", "stream", "n_msgs", "approx_seqs"))
  }

  test("sessionCounts: merge INCLUSIVE at the gap boundary, split just past it; streams in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one subject: 10:00, 10:29 (gap < 30: merge), 10:59:00 at EXACTLY
    // the previous window end (session_window merges ts <= prev end —
    // the boundary this test pins, and the r8 oracle's `>` mirrors),
    // then 11:29:00.001 just past the new end: split
    val batch = Seq(
      Env("globex.supprt.u1", "{}", ts("2024-01-15 10:00:00"), 1L),
      Env("globex.supprt.u1", "{}", ts("2024-01-15 10:29:00"), 2L),
      Env("globex.supprt.u1", "{}", ts("2024-01-15 10:59:00"), 3L),
      Env("globex.supprt.u1", "{}", ts("2024-01-15 11:29:00.001"), 4L)
    ).toDF()
    val r = NatsLikeStream.sessionCounts(batch)
      .orderBy("session_start").collect()
    assert(r.length === 2)
    assert(r(0).getAs[java.sql.Timestamp]("session_start") === ts("2024-01-15 10:00:00"))
    assert(r(0).getAs[java.sql.Timestamp]("session_end") === ts("2024-01-15 11:29:00"))
    assert(r(0).getAs[Long]("n_msgs") === 3)
    assert(r(1).getAs[java.sql.Timestamp]("session_start") === ts("2024-01-15 11:29:00.001"))
    assert(r(1).getAs[Long]("n_msgs") === 1)
    // and the stateful session plan runs + commits under streaming
    val src = MemoryStream[Env]
    src.addData(envs(0, 10): _*)
    val q = NatsLikeStream.sessionCounts(src.toDF())
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("sess_counts").columns.toSeq ===
      Seq("session_start", "session_end", "subject", "n_msgs"))
  }

  test("stream-stream interval join: clicks attribute to same-user views within 1h") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    views.addData(
      Evt(100L, ts("2024-01-15 10:00:00"), 1L, "view"),
      Evt(101L, ts("2024-01-15 10:20:00"), 1L, "view"))
    clicks.addData(
      Evt(200L, ts("2024-01-15 10:30:00"), 1L, "click"), // in window of both views
      Evt(201L, ts("2024-01-15 11:10:00"), 1L, "click"), // >1h after view 100, <=1h after 101
      Evt(202L, ts("2024-01-15 10:10:00"), 2L, "click"), // user without views
      Evt(203L, ts("2024-01-15 09:50:00"), 1L, "click")) // click BEFORE any view
    val q = NatsLikeStream.viewClickAttribution(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("vc_join")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val pairs = spark.table("vc_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((200L, 100L), (200L, 101L), (201L, 101L)))
  }

  test("left-outer interval join: unmatched view emits null-padded only after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_oj_out").toString
    val cp = Files.createTempDirectory("graft_oj_cp").toString
    val views = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    def run(): Unit = {
      val q = NatsLikeStream
        .viewClickAttribution(views.toDF(), clicks.toDF(), "left_outer")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // phase 1: one matched view, one view with no click. The unmatched
    // view must NOT emit yet — its join window is still open.
    views.addData(
      Evt(100L, ts("2024-01-15 10:00:00"), 1L, "view"),
      Evt(101L, ts("2024-01-15 10:05:00"), 3L, "view"))
    clicks.addData(Evt(200L, ts("2024-01-15 10:30:00"), 1L, "click"))
    run()
    val phase1 = spark.read.parquet(out).collect()
    assert(phase1.map(r => (r.getLong(1), r.isNullAt(0))).toSet
      === Set((100L, false)))
    // phase 2: late traffic on BOTH streams pushes the global watermark
    // (min of the two) past view 101's window end + delay → its state is
    // evicted and the null-padded row emits
    views.addData(Evt(102L, ts("2024-01-15 15:00:00"), 4L, "view"))
    clicks.addData(Evt(201L, ts("2024-01-15 15:00:00"), 2L, "click"))
    run()
    // one more empty-input pass lets the engine finalize eviction if the
    // phase-2 batch only ADVANCED the watermark without acting on it
    run()
    val rows = spark.read.parquet(out).collect()
    val unmatched = rows.filter(r => r.getLong(1) == 101L)
    assert(unmatched.length === 1)
    assert(unmatched.head.isNullAt(0), "click_id must be null-padded")
    assert(unmatched.head.getLong(2) === 3L)
  }

  test("windowedCounts batch flavor aggregates per hour and stream") {
    import spark.implicits._
    // sequences 5-14 redelivered, and a second hour
    val rows = envs(0, 30) ++ envs(5, 10) ++
      envs(40, 6).map(_.copy(metaTimestamp = ts("2024-01-15 11:20:00")))
    val r = NatsLikeStream.windowedCounts(rows.toDF())
      .orderBy("hour_start", "stream").collect()
    assert(r.head.schema.fieldNames.toSeq ===
      Seq("hour_start", "stream", "n_msgs", "n_seqs"))
    assert(r.map(_.getAs[Long]("n_msgs")).sum === rows.size)
    assert(r.map(_.getAs[String]("stream")).toSet ===
      Set("globex.supprt", "globex.crmabc"))
    // exact count(DISTINCT streamSeq) per (hour, stream)
    val want = rows.groupBy(e => (e.metaTimestamp.toLocalDateTime
        .withMinute(0).withSecond(0).withNano(0),
        e.subject.split("\\.").take(2).mkString(".")))
      .map { case (k, es) => k -> es.map(_.streamSeq).distinct.size.toLong }
    assert(r.map(x => (x.getAs[Timestamp]("hour_start").toLocalDateTime,
      x.getAs[String]("stream")) -> x.getAs[Long]("n_seqs")).toMap === want)
  }

  test("windowTopK (batch): exact per-window ranks with (count DESC, type ASC) " +
      "ties and the top-8 cut") {
    import spark.implicits._
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 10: a×3, b×3 (tie → a first), then c..j×1 (j falls off the top-8);
    // hour 11: solo window
    val h10 = Seq.fill(3)("a") ++ Seq.fill(3)("b") ++
      Seq("c", "d", "e", "f", "g", "h", "i", "j")
    val evts = h10.zipWithIndex.map { case (t, i) =>
      Evt(i.toLong, at("2024-01-15 10:05:00"), 1L, t)
    } :+ Evt(99L, at("2024-01-15 11:30:00"), 1L, "z")
    val out = graft.streaming.TopKStream
      .windowTopK(spark, evts.toDF())
      .collect().sortBy(r => (r.window_start.getTime, r.rank))
    val h10rows = out.filter(_.window_start === at("2024-01-15 10:00:00"))
    assert(h10rows.length === 8, "top-8 cut")
    assert(h10rows.take(2).map(r => (r.event_type, r.n_events)).toSeq ===
      Seq(("a", 3L), ("b", 3L)))
    assert(h10rows.map(_.rank).toSeq === (1L to 8L))
    assert(!h10rows.map(_.event_type).contains("j"), "rank 9 must be cut")
    assert(out.filter(_.window_start === at("2024-01-15 11:00:00"))
      .map(r => (r.rank, r.event_type, r.n_events)).toSeq === Seq((1L, "z", 1L)))
  }

  test("windowTopK (streaming): summary accumulates across restarts, emits " +
      "once at watermark close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft_topk_cp").toString
    val src = MemoryStream[Evt]
    val rows = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.WindowTopK]
    def run(): Unit = {
      val q = graft.streaming.TopKStream
        .windowTopK(spark, src.toDF())
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.WindowTopK], _: Long) =>
          rows.synchronized { rows ++= ds.collect() }; ()
        }
        .start()
      q.awaitTermination()
    }
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: hour-10 window opens (a×2, b×1) — nothing emits
    src.addData(Evt(1, at("2024-01-15 10:01:00"), 1, "a"),
      Evt(2, at("2024-01-15 10:02:00"), 1, "a"),
      Evt(3, at("2024-01-15 10:03:00"), 1, "b"))
    run()
    assert(rows.synchronized(rows.isEmpty), "open window must not emit")
    // batch 2 = RESTARTED query: the summary survived; more a's and c's
    src.addData(Evt(4, at("2024-01-15 10:30:00"), 1, "c"),
      Evt(5, at("2024-01-15 10:31:00"), 1, "c"),
      Evt(6, at("2024-01-15 10:32:00"), 1, "a"))
    run()
    assert(rows.synchronized(rows.isEmpty), "still open")
    // batches 3+4: advance the watermark past 11:00 (batch 4's watermark
    // derives from batch 3's max event time) → hour-10 closes once
    src.addData(Evt(7, at("2024-01-15 12:30:00"), 1, "z"))
    run()
    src.addData(Evt(8, at("2024-01-15 12:31:00"), 1, "z"))
    run()
    val got = rows.synchronized(rows.toList)
    assert(got.map(r => (r.rank, r.event_type, r.n_events)) ===
      List((1L, "a", 3L), (2L, "c", 2L), (3L, "b", 1L)),
      s"hour-10 must close exactly once with merged counts: $got")
    assert(got.forall(_.window_start === at("2024-01-15 10:00:00")))
  }

  test("variant analytics MV ≡ string-path MV, streaming and batch " +
      "(single-parse VariantType derivation is a drop-in for the json_tuple one)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // payloads exercising every extraction edge: full, missing keys,
    // malformed JSON (variant degrades to null -> '' / epoch-0 defaults,
    // same as the string path), short subjects ('' segments)
    val rows = envs(0, 20) ++ Seq(
      Env("g", "not json at all", ts("2024-01-15 10:00:00"), 100L),
      Env("a.b", """{"meta":"m only"}""", ts("2024-01-15 10:00:00"), 101L))
    // STREAMING through the variant MV (stateless projection -> append)
    val src = MemoryStream[Env]
    src.addData(rows: _*)
    val q = graft.pipeline.Views
      .deriveAnalyticsVariant(graft.pipeline.Ingest.envelopeToRaw(src.toDF()))
      .writeStream.format("memory").queryName("variant_mv")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("variant_mv")
    // BATCH through the string-path MV over the same envelope rows
    val batch = graft.pipeline.Views
      .deriveAnalytics(graft.pipeline.Ingest.envelopeToRaw(rows.toDF()))
    assert(streamed.columns.toSeq === batch.columns.toSeq)
    val key = streamed.columns.map(col)
    assert(streamed.orderBy(key: _*).collect().map(_.toSeq).toSeq ===
      batch.orderBy(key: _*).collect().map(_.toSeq).toSeq)
    assert(streamed.count() === rows.size)
    spark.sql("DROP TABLE IF EXISTS variant_mv")
  }

  test("redelivery end-to-end: a crashed epoch replays (NumDelivered>1) " +
      "and dedup + ack-after-write yield effectively-once in the sink") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_redeliver").toString
    val cp = Files.createTempDirectory("graft_redeliver_cp").toString
    val src = MemoryStream[Env]
    // the server redelivers unacked sequences 5-9 (at-least-once delivery)
    src.addData(envs(0, 10): _*)
    src.addData(envs(5, 5): _*)
    // injected mid-epoch crash BEFORE the sink's driver commit — the
    // consumer dies without acking, so on restart the whole batch is
    // delivered again (the reference's NumDelivered > 1 path: unacked
    // messages replay because batch.Send never succeeded, main.go:199-208)
    CrashOnce.armed.set(true)
    val crash = udf { (seq: Long) =>
      if (seq == 7L && CrashOnce.armed.compareAndSet(true, false))
        throw new RuntimeException("injected crash before epoch commit")
      seq
    }
    def run() = NatsLikeStream.dedupedRaw(src.toDF())
      .withColumn("sequence", crash(col("sequence")))
      .writeStream.format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("compression", "none")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run().awaitTermination()
    }
    // K2: the crashed epoch acked nothing — no blocks visible
    import scala.jdk.CollectionConverters._
    def published = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(p => !java.nio.file.Files.isDirectory(p)).toSeq
    assert(published.isEmpty)
    // restart: everything redelivers, dedup collapses the duplicates,
    // the epoch commits — each sequence lands exactly once
    run().awaitTermination()
    assert(published.nonEmpty)
    val got = spark.read.json(s"$dir/*.jsonl")
    assert(got.count() === 10)
    assert(got.select("sequence").distinct().count() === 10)
  }

  test("firstSeenDedup: online verdicts, state across restarts, event-time TTL forgetting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft_dedup_cp").toString
    val src = MemoryStream[Doc]
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.DedupVerdict]
    def run(): Unit = {
      val q = graft.streaming.CorpusStream
        .firstSeenDedup(spark, src.toDF())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.DedupVerdict], _: Long) =>
          verdicts.synchronized { verdicts ++= ds.collect() }; ()
        }
        .start()
      q.awaitTermination()
    }
    val t0 = ts("2024-01-15 10:00:00").getTime
    def at(minutes: Long) = new Timestamp(t0 + minutes * 60000)
    // batch 1: A twice + B — online ranks within one batch
    src.addData(Doc(1, "aaa", at(0)), Doc(2, "bbb", at(0)), Doc(3, "aaa", at(1)))
    run()
    val byId = () => verdicts.synchronized { verdicts.map(v => v.doc_id -> v).toMap }
    assert(byId()(1).keep && byId()(1).dup_rank === 1)
    assert(byId()(2).keep)
    assert(!byId()(3).keep && byId()(3).dup_rank === 2 && byId()(3).first_id === 1)
    // batch 2 = a RESTARTED query (new run, same checkpoint): the hash
    // state survived — a later duplicate still points at doc 1
    src.addData(Doc(4, "aaa", at(10)))
    run()
    assert(!byId()(4).keep && byId()(4).dup_rank === 3 && byId()(4).first_id === 1)
    // batches 3+4: advance the watermark far past aaa's TTL (1 h after
    // its last sight at t+10 min) WITHOUT touching the key — batch 4's
    // watermark (derived from batch 3's max event time) is what fires
    // the timeout and drops the entry
    src.addData(Doc(5, "zzz", at(200)))
    run()
    src.addData(Doc(6, "yyy", at(201)))
    run()
    // batch 5: the SAME content re-arrives after the forget — a fresh
    // first sighting, not duplicate rank 4
    src.addData(Doc(7, "aaa", at(202)))
    run()
    assert(byId()(7).keep, s"aaa state must have aged out: ${byId()(7)}")
    assert(byId()(7).dup_rank === 1 && byId()(7).first_id === 7)
  }

  test("sessionize (streaming): in-stream gap close, cross-restart continuation, watermark timeout close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft_sess_cp").toString
    val src = MemoryStream[SessEv]
    val sessions = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.SessionRow]
    def run(): Unit = {
      val q = graft.streaming.SessionStream
        .sessionize(spark, src.toDF())
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.SessionRow], _: Long) =>
          sessions.synchronized { sessions ++= ds.collect() }; ()
        }
        .start()
      q.awaitTermination()
    }
    val t0 = ts("2024-01-15 10:00:00").getTime
    def at(minutes: Long) = new Timestamp(t0 + minutes * 60000)
    // batch 1: two close events → ONE open session, nothing emitted
    src.addData(SessEv(1, at(0), 1, 1.5), SessEv(2, at(10), 1, 2.5))
    run()
    assert(sessions.synchronized(sessions.isEmpty),
      "open session must not emit early")
    // batch 2 = RESTARTED query: the open session survived the restart;
    // event at 11min continues it, the 120min event's >30min gap closes
    // it in-stream and opens session 2
    src.addData(SessEv(3, at(11), 1, 1.0), SessEv(4, at(120), 1, 9.0))
    run()
    val s1 = sessions.synchronized(sessions.toList)
    assert(s1.map(s => (s.user_id, s.session_seq, s.n_events, s.sum_value))
      === List((1L, 1L, 3L, 5.0)))
    assert(s1.head.session_start === at(0) && s1.head.session_end === at(11))
    // batches 3+4: another user's far-future events advance the
    // watermark past session 2's last+gap — the TIMEOUT closes it
    // (batch 4's watermark, derived from batch 3's max event time, is
    // what fires; same two-step as the dedup TTL test)
    src.addData(SessEv(5, at(300), 2, 4.0))
    run()
    src.addData(SessEv(6, at(301), 2, 4.0))
    run()
    val s2 = sessions.synchronized(sessions.toList)
    assert(s2.map(s => (s.user_id, s.session_seq, s.n_events, s.sum_value))
      .contains((1L, 2L, 1L, 9.0)),
      s"timeout must close user 1's trailing session: $s2")
  }

  test("sessionize end-to-end through the DSv2 replay source: checkpoint " +
      "restart mid-session continues the open session (the Service --sessions path)") {
    val backlog = Files.createTempDirectory("graft_sess_backlog").toString
    val cp = Files.createTempDirectory("graft_sess_e2e_cp").toString
    def env(seq: Long, user: Long, hhmm: String, value: Double): String =
      s"""{"subject":"globex.supprt.u$user.chat1","data":"{\\"user_id\\":$user,\\"value\\":$value}","metaTimestamp":"2024-01-15T$hhmm:00+00:00","streamSeq":$seq}"""
    val sessions = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.SessionRow]
    def run(): Unit = {
      val envelopes = spark.readStream
        .format("graft.sources.ReplayStreamProvider")
        .option("path", backlog)
        .option("maxRowsPerTrigger", 2)
        .load()
      val q = graft.streaming.SessionStream
        .sessionizeEnvelopes(spark, envelopes)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.SessionRow], _: Long) =>
          sessions.synchronized { sessions ++= ds.collect() }; ()
        }
        .start()
      q.awaitTermination()
    }
    // run 1: two close events + one non-event envelope → ONE open
    // session held in state when the query STOPS mid-session
    Files.writeString(Paths.get(backlog, "part-000.jsonl"),
      Seq(env(1, 7, "10:00", 1.5), env(2, 7, "10:10", 2.5),
        """{"subject":"globex.supprt.ping","data":"{}","metaTimestamp":"2024-01-15T10:11:00+00:00","streamSeq":3}""")
        .mkString("\n") + "\n")
    run()
    assert(sessions.synchronized(sessions.isEmpty),
      "open session must not emit before the gap")
    // run 2 = RESTART from the checkpoint against the same DSv2 source:
    // a new backlog file continues the session (10:20) and a >30 min
    // gap (12:00) closes it — the emitted session spans BOTH runs
    Files.writeString(Paths.get(backlog, "part-001.jsonl"),
      Seq(env(4, 7, "10:20", 1.0), env(5, 7, "12:00", 9.0)).mkString("\n") + "\n")
    run()
    val got = sessions.synchronized(sessions.toList)
    assert(got.map(s => (s.user_id, s.session_seq, s.n_events, s.sum_value))
      === List((7L, 1L, 3L, 5.0)),
      s"session must span the restart: $got")
    assert(got.head.session_start === ts("2024-01-15 10:00:00"))
    assert(got.head.session_end === ts("2024-01-15 10:20:00"))
  }

  test("windowTopK end-to-end through the DSv2 replay source: checkpoint " +
      "restart mid-window merges counts (the Service --topk path)") {
    val backlog = Files.createTempDirectory("graft_topk_backlog").toString
    val cp = Files.createTempDirectory("graft_topk_e2e_cp").toString
    def env(seq: Long, hhmm: String, etype: String): String =
      s"""{"subject":"globex.supprt.u1.chat1","data":"{\\"event_type\\":\\"$etype\\"}","metaTimestamp":"2024-01-15T$hhmm:00+00:00","streamSeq":$seq}"""
    val rows = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.WindowTopK]
    def run(): Unit = {
      val envelopes = spark.readStream
        .format("graft.sources.ReplayStreamProvider")
        .option("path", backlog)
        .option("maxRowsPerTrigger", 2)
        .load()
      val q = graft.streaming.TopKStream
        .windowTopKEnvelopes(spark, envelopes)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.WindowTopK], _: Long) =>
          rows.synchronized { rows ++= ds.collect() }; ()
        }
        .start()
      q.awaitTermination()
    }
    // run 1: hour-10 window opens (a, a, b) — summary held in state, no emit.
    // One envelope has no event_type in the payload → subject fallback key.
    Files.writeString(Paths.get(backlog, "part-000.jsonl"),
      Seq(env(1, "10:01", "a"), env(2, "10:02", "a"), env(3, "10:03", "b"),
        """{"subject":"globex.supprt.ping","data":"{}","metaTimestamp":"2024-01-15T10:04:00+00:00","streamSeq":4}""")
        .mkString("\n") + "\n")
    run()
    assert(rows.synchronized(rows.isEmpty), "open window must not emit")
    // run 2 = RESTART from the checkpoint: more a's merge into the
    // surviving summary; two late-hour envelopes advance the watermark
    // past 11:00 across the AvailableNow sub-batches → hour-10 closes
    Files.writeString(Paths.get(backlog, "part-001.jsonl"),
      Seq(env(5, "10:30", "a"), env(6, "12:30", "z"), env(7, "12:31", "z"))
        .mkString("\n") + "\n")
    run()
    run() // watermark from run 2's max event time fires the timeout
    val got = rows.synchronized(rows.toList)
      .filter(_.window_start === ts("2024-01-15 10:00:00"))
    assert(got.map(r => (r.rank, r.event_type, r.n_events)) ===
      List((1L, "a", 3L), (2L, "b", 1L), (3L, "globex.supprt.ping", 1L)),
      s"hour-10 ranking must span the restart: $got")
  }

  test("sessionize (batch): one pathological 2M-event user fits a single group " +
      "invocation (primitive-column buffering) and sums exactly") {
    // The batch path buffers one user's whole history in one task — the
    // documented boundary is ~28 B/event. 2×10⁶ events ≈ 56 MB transient
    // (boxed tuples would be ~300 MB); the assertions pin the exact
    // session algebra so the primitive re-implementation cannot drift
    // from the boxed original.
    val n = 2000000L
    val t0us = 1705312800000000L // 2024-01-15 10:00:00 UTC
    val big = spark.range(0, n).selectExpr(
      "id AS event_id",
      s"timestamp_micros($t0us + id * 1000000) AS ts", // 1 s apart → 1 session
      "CAST(1 AS BIGINT) AS user_id",
      "CAST(1.5 AS DOUBLE) AS value")
    val out = graft.streaming.SessionStream
      .sessionize(spark, big).collect()
    assert(out.length === 1)
    val s = out.head
    assert(s.user_id === 1L && s.session_seq === 1L && s.n_events === n)
    assert(s.sum_value === 1.5 * n)
    assert(s.session_start.getTime === t0us / 1000L)
    assert(s.session_end.getTime === t0us / 1000L + (n - 1) * 1000L)
  }

  test("deltaDedupStream: online verdicts against the static base index — " +
      "match, no-match, and null-text docs all emit; restarts keep the " +
      "composition consistent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft_ddd_cp").toString
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val src = MemoryStream[Doc]
    val got = scala.collection.mutable.Map
      .empty[Long, (Long, Option[Long], Option[Double], Boolean)]
    def run(): Unit = {
      val q = graft.streaming.CorpusStream
        .deltaDedupStream(spark, src.toDF(), base)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            df.collect().foreach { r =>
              got(r.getLong(0)) = ((r.getLong(1),
                if (r.isNullAt(2)) None else Some(r.getLong(2)),
                if (r.isNullAt(3)) None else Some(r.getDouble(3)),
                r.getBoolean(4)))
            }
          }; ()
        }
        .start()
      q.awaitTermination()
    }
    val t0 = Timestamp.valueOf("2024-01-15 10:00:00").getTime
    def at(minutes: Long) = new Timestamp(t0 + minutes * 60000)
    // batch 1: an exact copy of base 0/2, a novel doc, a null-text doc
    src.addData(
      Doc(100, "the quick brown fox jumps over the lazy dog", at(0)),
      Doc(101, "totally unrelated novel content in this words", at(0)),
      Doc(102, null, at(0)))
    run()
    // batch 2 = a RESTARTED query: doc 103 matches base 1, and its
    // event time advances the watermark past batch 1's windows
    src.addData(Doc(103, "alpha beta gamma delta epsilon zeta eta theta",
      at(5)))
    run()
    // batch 3: sentinel flushes doc 103's window
    src.addData(Doc(104, "flush sentinel advancing the watermark far on",
      at(10)))
    run()
    val byId = got.synchronized(got.toMap)
    assert(byId(100L) === ((2L, Some(0L), Some(1.0), true)),
      s"doc 100 must match bases 0 and 2, best = 0: ${byId.get(100L)}")
    assert(byId(101L) === ((0L, None, None, false)))
    assert(byId(102L) === ((0L, None, None, false)),
      "null-text doc must still get a verdict")
    assert(byId(103L)._1 === 1L)
    assert(byId(103L)._2 === Some(1L) && byId(103L)._4)
  }

  test("x118 corpusBuildStream: the three-stage at-ingest verdict runs " +
      "ONLINE (fMGWS → stream-static near-dup → windowed verdict is a " +
      "legal chain), first-seen state survives a restart, and dup/" +
      "novel/null-text/short docs all emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("graft_cbs_cp").toString
    // 'web' P25 threshold = 4 tokens, 'books' = 3 (see OperatorsSpec)
    val base = Seq(
      (0L, "web", "w1 w2 w3 w4 w5 w6 w7 w8"),
      (1L, "web", "a b c d"),
      (2L, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "books", "x y z"))
      .toDF("doc_id", "source", "text")
    val src = MemoryStream[DocSrc]
    val got = scala.collection.mutable.Map
      .empty[Long, (Boolean, Option[Boolean], Option[Boolean], Boolean,
        Option[Long])]
    // corpusBuildStream's scaladoc: starting it needs Spark's
    // stateful-correctness check off; set it around each start() only,
    // so the shared session keeps its value for every later case
    val CheckCorrectness =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val before = spark.conf.getOption(CheckCorrectness)
    def run(): Unit = {
      val verdicts = graft.streaming.CorpusStream
        .corpusBuildStream(spark, src.toDF(), base)
      spark.conf.set(CheckCorrectness, "false")
      val q = try verdicts.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            df.collect().foreach { r =>
              def ob(i: Int) =
                if (r.isNullAt(i)) None else Some(r.getBoolean(i))
              got(r.getLong(0)) = ((r.getBoolean(1), ob(2), ob(3),
                r.getBoolean(4),
                if (r.isNullAt(5)) None else Some(r.getLong(5))))
            }
          }; ()
        }
        .start()
      finally before match {
        case Some(v) => spark.conf.set(CheckCorrectness, v)
        case None => spark.conf.unset(CheckCorrectness)
      }
      q.awaitTermination()
    }
    val t0 = Timestamp.valueOf("2024-01-15 10:00:00").getTime
    def at(minutes: Long) = new Timestamp(t0 + minutes * 60000)
    // batch 1: a near-copy of base 2, a novel doc that clears the gate,
    // a null-text doc
    src.addData(
      DocSrc(10, "web", "alpha beta gamma delta epsilon zeta eta theta",
        at(0)),
      DocSrc(11, "web", "totally unrelated novel content here ok", at(0)),
      DocSrc(14, "web", null, at(0)))
    run()
    // batch 2 = a RESTARTED query: doc 12 repeats doc 11's content —
    // first-seen state must recognize it ACROSS the restart; its later
    // event time flushes batch 1's verdict windows
    src.addData(
      DocSrc(12, "web", "totally unrelated novel content here ok", at(5)))
    run()
    // batch 3: sentinel flushes doc 12's window
    src.addData(
      DocSrc(99, "web", "flush sentinel advancing the watermark far on",
        at(10)))
    run()
    val byId = got.synchronized(got.toMap)
    assert(byId(10L) === ((true, Some(false), None, false, Some(1L))),
      s"doc 10 must be a near-dup of base 2: ${byId.get(10L)}")
    assert(byId(11L) === ((true, Some(true), Some(true), true, Some(0L))),
      s"doc 11 must survive all stages: ${byId.get(11L)}")
    assert(byId(14L) === ((true, Some(true), Some(false), false, Some(0L))),
      s"null-text doc must still get a verdict: ${byId.get(14L)}")
    assert(byId(12L) === ((false, None, None, false, None)),
      s"doc 12 must be first-seen-dropped ACROSS the restart: " +
        s"${byId.get(12L)}")
    assert(spark.conf.getOption(CheckCorrectness) === before,
      "the case must leave the session's correctness check as it found it")
  }

  test("deltaDedup end-to-end through the DSv2 replay source: verdicts " +
      "survive a checkpoint restart and land in the parquet sink (the " +
      "Service --delta path)") {
    import spark.implicits._
    val backlog = Files.createTempDirectory("graft_delta_backlog").toString
    val cp = Files.createTempDirectory("graft_delta_e2e_cp").toString
    val out = Files.createTempDirectory("graft_delta_out").toString + "/verdicts"
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def env(seq: Long, docId: Long, text: String, hhmm: String): String = {
      val payload =
        s"""{\\"doc_id\\":$docId,\\"text\\":\\"$text\\"}"""
      s"""{"subject":"globex.crawl.docs","data":"$payload","metaTimestamp":"2024-01-15T$hhmm:00+00:00","streamSeq":$seq}"""
    }
    def run(): Unit = {
      val envelopes = spark.readStream
        .format("graft.sources.ReplayStreamProvider")
        .option("path", backlog)
        .option("maxRowsPerTrigger", 2)
        .load()
      // the exact Service --delta sink: append-mode parquet under the
      // query's own checkpoint (verdict windows are final, exactly-once)
      val q = graft.streaming.CorpusStream
        .deltaDedupEnvelopes(spark, envelopes, base)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: an exact copy of base 0/2, a novel doc, and a payload with
    // NO doc (streamSeq-fallback id, null text) — windows stay open
    Files.writeString(Paths.get(backlog, "part-000.jsonl"),
      Seq(env(1, 100, "the quick brown fox jumps over the lazy dog", "10:00"),
        env(2, 101, "totally unrelated novel content in this words", "10:00"),
        """{"subject":"globex.crawl.docs","data":"{}","metaTimestamp":"2024-01-15T10:00:00+00:00","streamSeq":7}""")
        .mkString("\n") + "\n")
    run()
    // run 2 = RESTART from the checkpoint: doc 103 matches base 1 and
    // its later event time flushes run 1's windows across the restart
    Files.writeString(Paths.get(backlog, "part-001.jsonl"),
      env(4, 103, "alpha beta gamma delta epsilon zeta eta theta", "10:05")
        + "\n")
    run()
    // run 3: sentinel flushes doc 103's window
    Files.writeString(Paths.get(backlog, "part-002.jsonl"),
      env(5, 104, "flush sentinel advancing the watermark far on", "10:10")
        + "\n")
    run()
    val got = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    assert(got(100L) === ((2L, Some(0L), true)),
      s"doc 100 must match bases 0 and 2 across the restart: $got")
    assert(got(101L) === ((0L, None, false)))
    assert(got(7L) === ((0L, None, false)),
      "the no-doc envelope must still get a streamSeq-keyed verdict")
    assert(got(103L) === ((1L, Some(1L), true)),
      s"post-restart doc must match against the rebuilt base index: $got")
  }
}

/** Document row for the streaming-dedup spec. */
case class Doc(doc_id: Long, text: String, ts: Timestamp)

/** Document row (with source) for the streaming corpus-build spec. */
case class DocSrc(doc_id: Long, source: String, text: String, ts: Timestamp)

/** Event row for the streaming-sessionization test. */
case class SessEv(event_id: Long, ts: Timestamp, user_id: Long,
  value: Double)

/** Crash latch for the redelivery spec (top-level: shared between the
  * driver and local-mode executor threads in one JVM). */
object CrashOnce {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
