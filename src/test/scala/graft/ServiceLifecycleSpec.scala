package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import graft.config.GraftConfig
import graft.logging.GraftLogger
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** `Service`'s flag parser and its stream lifecycle, driven through
  * `Service.run` on the shared session: the service returns only when
  * every stream it started has drained and terminated, and the first
  * stream to fail stops the others and surfaces its exception. */
class ServiceLifecycleSpec extends SparkSpec with TimeLimits {
  // a run that never returns fails its test instead of hanging the suite
  private implicit val signaler: Signaler = ThreadSignaler

  private def env(seq: Long, subject: String, data: String, hhmm: String): String = {
    val quoted = data.replace("\"", "\\\"")
    s"""{"subject":"$subject","data":"$quoted","metaTimestamp":"2024-01-15T$hhmm:00+00:00","streamSeq":$seq}"""
  }

  /** Five envelopes: user 7's first session (10:00, 10:10) closes in-stream
    * at 12:00; hour 10 ranks a×2, b×1 and closes once 12:20 moves the
    * watermark past 11:00. */
  private def backlog(): String = {
    val dir = Files.createTempDirectory("graft_svc_backlog")
    Files.writeString(dir.resolve("part-000.jsonl"), Seq(
      env(1, "globex.supprt.u7.chat1", """{"user_id":7,"value":1.5,"event_type":"a"}""", "10:00"),
      env(2, "globex.supprt.u7.chat1", """{"user_id":7,"value":2.5,"event_type":"a"}""", "10:10"),
      env(3, "globex.supprt.u8.chat2", """{"event_type":"b"}""", "10:20"),
      env(4, "globex.supprt.u7.chat1", """{"user_id":7,"value":4.0,"event_type":"c"}""", "12:00"),
      env(5, "globex.supprt.u8.chat2", """{"event_type":"z"}""", "12:20"))
      .mkString("", "\n", "\n"))
    dir.toString
  }

  private final class Run(chPort: Int = 9000) {
    val warehouse: String = Files.createTempDirectory("graft_svc_wh").toString
    private val out = new ByteArrayOutputStream()
    private val cfg = GraftConfig("nats://127.0.0.1:4222",
      s"ch://writer:secret@127.0.0.1:$chPort", "json", "info", Seq("globex.supprt.>"))
    private val log = GraftLogger.init(cfg, new PrintStream(out, true, "UTF-8"))
    def logged: String = new String(out.toByteArray, StandardCharsets.UTF_8)

    def apply(flags: String*): Unit = {
      val opts = Service.parseArgs(Seq("--backlog", backlog(),
        "--warehouse", warehouse) ++ flags).fold(e => fail(e), identity)
      Service.run(spark, cfg, opts, log)
    }
  }

  private def activeIds = spark.streams.active.map(_.id).toSet

  /** A local port nothing listens on. */
  private def deadPort(): Int = {
    val dead = new java.net.ServerSocket(0)
    try dead.getLocalPort finally dead.close()
  }

  /** The queries `body` starts. Spark delivers `QueryStartedEvent` to
    * session listeners synchronously on the stream thread, so each query is
    * captured before it can terminate. */
  private def startedQueries(body: => Unit): Seq[StreamingQuery] = {
    val started = new ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    started.asScala.toSeq
  }

  /** Whether `q` has terminated, with or without an exception, read without
    * waiting. Spark marks a query inactive before it posts the query's
    * `QueryTerminatedEvent`, and releases the query's termination latch only
    * after; `awaitTermination(1)` waits out most of that gap, so the latch
    * is read directly. */
  private def terminated(q: StreamingQuery): Boolean = {
    val latch = classOf[StreamExecution].getDeclaredField("terminationLatch")
    latch.setAccessible(true)
    latch.get(q.asInstanceOf[StreamingQueryWrapper].streamingQuery)
      .asInstanceOf[CountDownLatch].getCount == 0
  }

  test("flags: valueless flags in any position, defaults for the rest") {
    assert(Service.parseArgs(Seq("--once", "--backlog", "b", "--sessions",
        "--warehouse", "w", "--topk", "--delta", "base", "--capture")) === Right(Map(
      "once" -> "true", "backlog" -> "b", "sessions" -> "true", "warehouse" -> "w",
      "topk" -> "true", "delta" -> "base", "capture" -> "true", "sink" -> "parquet")))
    assert(Service.parseArgs(Nil) === Right(Map("backlog" -> "/tmp/graft_backlog",
      "warehouse" -> "/tmp/graft_warehouse", "sink" -> "parquet")))
  }

  test("flags: the argument list the benchmark's ingest_ref passes is accepted") {
    assert(Service.parseArgs(Seq("--config", "/w/service.yml", "--backlog", "/w/backlog",
        "--warehouse", "/w/wh", "--sink", "native", "--once")) === Right(Map(
      "config" -> "/w/service.yml", "backlog" -> "/w/backlog", "warehouse" -> "/w/wh",
      "sink" -> "native", "once" -> "true")))
  }

  test("flags: unknown tokens, value flags without a value and unknown sinks are rejected") {
    def err(args: String*): String =
      Service.parseArgs(args).swap.getOrElse(fail(s"accepted: $args"))
    assert(err("--once", "--topK").contains("'--topK'"))
    assert(err("--sessions", "stray").contains("'stray'"))
    assert(err("--once", "--sink").contains("--sink needs a value"))
    assert(err("--delta", "--once").contains("--delta needs a value"))
    assert(err("--sink", "kafka").contains("unknown --sink"))
  }

  test("--once returns only after every stream has drained") {
    val run = new Run()
    val before = activeIds
    run("--once", "--sessions", "--topk")
    assert(activeIds === before)
    val wh = run.warehouse
    assert(spark.read.parquet(s"$wh/raw").count() === 5)
    val sessions = spark.read.parquet(s"$wh/sessions").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    assert(sessions.toSeq === Seq((7L, 2L, 4.0)))
    val topk = spark.read.parquet(s"$wh/window_topk").orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("event_type"), r.getAs[Long]("n_events")))
    assert(topk.toSeq === Seq((1L, "a", 2L), (2L, "b", 1L)))
  }

  test("--once returns only after each query it started has terminated") {
    (1 to 20).foreach { i =>
      val queries = startedQueries(new Run()("--once"))
      assert(queries.size === 1)
      assert(queries.forall(terminated), s"drain $i returned before its query terminated")
    }
  }

  test("a failed run returns only after every query it started has terminated") {
    (1 to 5).foreach { i =>
      val run = new Run(deadPort())
      val queries = startedQueries(failAfter(30.seconds)(
        intercept[Exception](run("--sink", "http", "--sessions"))))
      assert(queries.size === 2)
      assert(queries.forall(terminated), s"run $i returned before its queries terminated")
    }
  }

  test("a main query that fails after start() ends run and stops the side streams") {
    val run = new Run(deadPort())
    val before = activeIds
    // no --once: the sessions stream would run forever on its own
    val e = failAfter(30.seconds)(intercept[Exception](run("--sink", "http", "--sessions")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("ping failed")), e)
    assert(activeIds === before)
    assert(run.logged.contains("\"msg\":\"stream failed\",\"stream\":\"http\""), run.logged)
  }

  test("a side stream that fails while the main one runs stops the service") {
    val run = new Run()
    // the topk stream's first append hits a file where its directory goes
    Files.writeString(Paths.get(run.warehouse, "window_topk"), "not a directory")
    val before = activeIds
    val e = failAfter(60.seconds)(
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](run("--topk")))
    assert(e.getMessage.contains("topk [id ="), e.getMessage)
    assert(activeIds === before)
    assert(run.logged.contains("\"msg\":\"stream failed\",\"stream\":\"topk\""), run.logged)
  }
}
