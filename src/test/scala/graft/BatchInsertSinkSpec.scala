package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The DSv2 batch-insert sink (K1/K2): blocks visible only after epoch
  * commit, restart does not duplicate, schema-driven serialization. */
class BatchInsertSinkSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def envs(from: Long, n: Int): Seq[Env] =
    (from until from + n).map { i =>
      Env(s"globex.supprt.u$i", s"""{"text":"ev-$i"}""",
        ts("2024-01-15 10:00:00"), i)
    }

  private def tableFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).sorted

  private def readBack(dir: String) =
    spark.read.schema(StructType(Seq(
      StructField("subject", StringType),
      StructField("data", StringType),
      StructField("metaTimestamp", LongType),
      StructField("streamSeq", LongType))))
      .json(s"$dir/*.jsonl")

  test("epoch commit publishes blocks; counts and values round-trip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink").toString
    val cp = Files.createTempDirectory("graft_sink_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 25): _*)
    val q = src.toDF().writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("batchSize", 10)
      .option("compression", "none")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(tableFiles(dir).nonEmpty)
    val got = readBack(dir)
    assert(got.count() === 25)
    assert(got.where("subject = 'globex.supprt.u7'").count() === 1)
    // timestamps serialized as epoch micros
    assert(got.selectExpr("min(metaTimestamp)").head.getLong(0) ===
      ts("2024-01-15 10:00:00").getTime * 1000L)
    // restart on the same checkpoint with no new data → no duplicates (K2)
    val q2 = src.toDF().writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("batchSize", 10)
      .option("compression", "none")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(readBack(dir).count() === 25)
  }

  test("ch:// URL options round-trip: blocks are LZ4-compressed (connection.go:58-60)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conn = graft.config.GraftConfig
      .parseSinkUrl("ch://writer:secret@ch-host:9000")
      .fold(e => fail(e), identity)
    assert(conn.writerOptions("compression") === "lz4")
    assert(conn.writerOptions("maxExecutionTimeSec") === "60")
    val dir = Files.createTempDirectory("graft_sink_lz4").toString
    val cp = Files.createTempDirectory("graft_sink_lz4_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 8): _*)
    val q = src.toDF().writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("batchSize", 10)
      .options(conn.writerOptions)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val blocks = Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl.lz4"))
    assert(blocks.nonEmpty)
    // decompress and parse: all 8 rows round-trip through the LZ4 frames
    val lines = blocks.flatMap { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new net.jpountz.lz4.LZ4BlockInputStream(
          Files.newInputStream(Paths.get(dir, f)))))
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
      finally in.close()
    }
    assert(lines.size === 8)
    assert(lines.forall(_.contains("\"subject\":\"globex.supprt.u")))
  }

  test("maxExecutionTimeSec: an over-deadline write aborts the epoch, nothing published") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink_to").toString
    val cp = Files.createTempDirectory("graft_sink_to_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 5): _*)
    val q = src.toDF().writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("maxExecutionTimeSec", -1)
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(err.getMessage.contains("max_execution_time") ||
      Option(err.getCause).exists(_.toString.contains("max_execution_time")))
    // K2: the failed epoch published no blocks
    assert(Files.list(Paths.get(dir)).iterator().asScala
      .count(p => !Files.isDirectory(p)) === 0)
  }

  test("ping-on-open: an unwritable target fails the query at start (connection.go:69-72)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // target path nested under a regular FILE -> createDirectories fails
    val f = Files.createTempFile("graft_sink_ping", ".blocker")
    val cp = Files.createTempDirectory("graft_sink_ping_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 2): _*)
    val ex = intercept[Exception] {
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", s"$f/table")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(ex.toString.contains("ping failed") ||
      Option(ex.getCause).exists(_.toString.contains("ping failed")))
  }

  /** Stub ClickHouse HTTP interface: 200 "Ok." on /ping, records each
    * insert POST (query string, auth headers, LZ4-decompressed body —
    * raw BYTES, since RowBinary blocks are not text). */
  private final class StubClickHouse(failInserts: Boolean = false) {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val inserts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, String], Array[Byte])]()
    val pings = new java.util.concurrent.atomic.AtomicInteger(0)
    private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def port: Int = server.getAddress.getPort
    private def respond(x: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      x.sendResponseHeaders(code, b.length)
      x.getResponseBody.write(b); x.close()
    }
    server.createContext("/ping", (x: HttpExchange) => {
      pings.incrementAndGet(); respond(x, 200, "Ok.\n")
    })
    server.createContext("/", (x: HttpExchange) => {
      val enc = Option(x.getRequestHeaders.getFirst("Content-Encoding"))
      val raw = x.getRequestBody
      val in = if (enc.contains("lz4"))
        new net.jpountz.lz4.LZ4FrameInputStream(raw) else raw
      val body = in.readAllBytes()
      val headers = Seq("X-ClickHouse-User", "X-ClickHouse-Key", "Content-Encoding")
        .flatMap(h => Option(x.getRequestHeaders.getFirst(h)).map(h -> _)).toMap
      inserts.add((Option(x.getRequestURI.getRawQuery).getOrElse(""), headers, body))
      if (failInserts) respond(x, 500, "Code: 999. Simulated failure\n")
      else respond(x, 200, "")
    })
    server.start()
    def close(): Unit = server.stop(0)
  }

  test("ch:// HTTP wire path: blocks POST as INSERT ... FORMAT JSONEachRow with auth + lz4") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val ch = new StubClickHouse()
    try {
      val cp = Files.createTempDirectory("graft_http_cp").toString
      val src = MemoryStream[Env]
      src.addData(envs(0, 25): _*)
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", Files.createTempDirectory("graft_http_unused").toString)
        .option("url", s"ch://writer:secret@127.0.0.1:${ch.port}")
        .option("table", "nats_data_all_streams")
        .option("batchSize", 10)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // ping-on-open probed the real endpoint before the first epoch
      assert(ch.pings.get() >= 1)
      val posts = ch.inserts.asScala.toList
      assert(posts.nonEmpty)
      // every block targets the table with the session setting attached
      assert(posts.forall(_._1.contains("max_execution_time=60")))
      assert(posts.forall(p => java.net.URLDecoder.decode(p._1, "UTF-8")
        .contains("INSERT INTO nats_data_all_streams FORMAT JSONEachRow")))
      // credentials ride the ClickHouse auth headers; bodies are lz4-framed
      assert(posts.forall(_._2.get("X-ClickHouse-User").contains("writer")))
      assert(posts.forall(_._2.get("X-ClickHouse-Key").contains("secret")))
      assert(posts.forall(_._2.get("Content-Encoding").contains("lz4")))
      // all 25 rows arrive exactly once across the blocks, none > batchSize
      val bodies = posts.map(p => new String(p._3, "UTF-8"))
      val lines = bodies.flatMap(_.split("\n")).filter(_.nonEmpty)
      assert(lines.size === 25)
      assert(bodies.forall(_.split("\n").count(_.nonEmpty) <= 10))
      assert(lines.count(_.contains("\"subject\":\"globex.supprt.u7\"")) === 1)
    } finally ch.close()
  }

  test("ping-on-open: a query pings its target once, however many epochs it runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ch = new StubClickHouse()
    try {
      val src = MemoryStream[Env]
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("url", s"ch://writer:secret@127.0.0.1:${ch.port}")
        .option("table", "t")
        .option("checkpointLocation", Files.createTempDirectory("graft_http_pings_cp").toString)
        .start()
      try (0 until 3).foreach { i =>
        src.addData(envs(10L * i, 10): _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      assert(ch.pings.get() === 1)
      val lines = ch.inserts.asScala.toList
        .flatMap(p => new String(p._3, "UTF-8").split("\n")).filter(_.nonEmpty)
      assert(lines.size === 30)
    } finally ch.close()
  }

  test("ch:// HTTP wire path: a rejected block fails the epoch (at-least-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ch = new StubClickHouse(failInserts = true)
    try {
      val cp = Files.createTempDirectory("graft_http_fail_cp").toString
      val src = MemoryStream[Env]
      src.addData(envs(0, 5): _*)
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", Files.createTempDirectory("graft_http_fail").toString)
        .option("url", s"ch://writer:secret@127.0.0.1:${ch.port}")
        .option("table", "t").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      assert(err.toString.contains("insert block rejected") ||
        Option(err.getCause).exists(_.toString.contains("insert block rejected")))
    } finally ch.close()
  }

  test("ch:// HTTP wire path: an over-deadline write fails the epoch before any POST") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ch = new StubClickHouse()
    try {
      val cp = Files.createTempDirectory("graft_http_to_cp").toString
      val src = MemoryStream[Env]
      src.addData(envs(0, 5): _*)
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("url", s"ch://writer:secret@127.0.0.1:${ch.port}")
        .option("table", "t").option("maxExecutionTimeSec", -1)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      assert(err.getMessage.contains("max_execution_time") ||
        Option(err.getCause).exists(_.toString.contains("max_execution_time")))
      assert(ch.pings.get() >= 1)
      assert(ch.inserts.isEmpty)
    } finally ch.close()
  }

  test("RowBinary serialization is byte-exact: LEB128 strings, little-endian " +
      "fixed-width, Nullable flags (the reference's columnar-block efficiency)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("s", StringType, nullable = true),
      StructField("n", LongType, nullable = false),
      StructField("d", DoubleType, nullable = false),
      StructField("b", BooleanType, nullable = false),
      StructField("t", TimestampType, nullable = true)))
    val ser = new graft.sinks.RowBinarySerializer(schema)
    def le64(v: Long): Seq[Byte] =
      (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte)
    val micros = 1705312800000000L // 2024-01-15 10:00:00 UTC as DateTime64(6)
    val got = ser.rowBytes(InternalRow(
      UTF8String.fromString("ab"), 258L, 1.5, true, micros))
    val expected =
      Seq[Byte](0, 2, 'a'.toByte, 'b'.toByte) ++ // Nullable flag, varint 2, bytes
        le64(258L) ++
        le64(java.lang.Double.doubleToLongBits(1.5)) ++
        Seq[Byte](1) ++ // Boolean as UInt8
        (Seq[Byte](0) ++ le64(micros)) // Nullable flag + DateTime64(6)
    assert(got.toSeq === expected)
    // NULL: flag byte 0x01, no value bytes
    val gotNull = ser.rowBytes(InternalRow(null, 1L, 0.0, false, null))
    assert(gotNull.toSeq ===
      Seq[Byte](1) ++ le64(1L) ++ le64(0L) ++ Seq[Byte](0, 1))
    // a 200-byte string exercises the multi-byte LEB128 (200 = 0xC8 0x01)
    val gl = ser.rowBytes(InternalRow(
      UTF8String.fromString("x" * 200), 0L, 0.0, false, null))
    assert(gl(0) === 0.toByte && (gl(1) & 0xff) === 0xc8 && gl(2) === 1.toByte)
    assert(gl.length === 3 + 200 + 8 + 8 + 1 + 1)
  }

  /** Decode RowBinary blocks under the Env schema (subject: Nullable
    * String, data: Nullable String, metaTimestamp: Nullable DateTime64(6),
    * streamSeq: Int64) — an independent reader, not the serializer
    * inverted. */
  private def decodeEnvRows(body: Array[Byte]): List[(String, String, Long, Long)] = {
    val buf = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def varint(): Int = {
      var shift = 0; var v = 0; var b = 0x80
      while ((b & 0x80) != 0) {
        b = buf.get() & 0xff; v |= (b & 0x7f) << shift; shift += 7
      }
      v
    }
    def str(): String = {
      assert(buf.get() === 0.toByte) // non-null in this fixture
      val a = new Array[Byte](varint()); buf.get(a); new String(a, "UTF-8")
    }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long, Long)]
    while (buf.hasRemaining) {
      val subject = str(); val data = str()
      assert(buf.get() === 0.toByte)
      val ts = buf.getLong(); val seq = buf.getLong()
      out += ((subject, data, ts, seq))
    }
    out.toList
  }

  test("ch:// HTTP wire path: insertFormat=RowBinary POSTs decodable binary " +
      "blocks — every row round-trips exactly once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val ch = new StubClickHouse()
    try {
      val cp = Files.createTempDirectory("graft_rowbin_cp").toString
      val src = MemoryStream[Env]
      src.addData(envs(0, 25): _*)
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", Files.createTempDirectory("graft_rowbin_unused").toString)
        .option("url", s"ch://writer:secret@127.0.0.1:${ch.port}")
        .option("table", "nats_data_all_streams")
        .option("insertFormat", "RowBinary")
        .option("batchSize", 10)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val posts = ch.inserts.asScala.toList
      assert(posts.nonEmpty)
      // the INSERT names the binary format (lz4 framing still applies —
      // the stub already decompressed the bodies)
      assert(posts.forall(p => java.net.URLDecoder.decode(p._1, "UTF-8")
        .contains("INSERT INTO nats_data_all_streams FORMAT RowBinary")))
      assert(posts.forall(_._2.get("Content-Encoding").contains("lz4")))
      val rows = posts.flatMap(p => decodeEnvRows(p._3))
      assert(rows.size === 25)
      assert(posts.forall(p => decodeEnvRows(p._3).size <= 10))
      val expected = envs(0, 25).map(e =>
        (e.subject, e.data, e.metaTimestamp.getTime * 1000L, e.streamSeq)).toSet
      assert(rows.toSet === expected)
    } finally ch.close()
  }

  test("table option is validated as a strict identifier (no SQL injection)") {
    import graft.sinks.HttpTarget
    // legal shapes construct fine
    HttpTarget("http://h:8123", "nats_data_all_streams", "", "")
    HttpTarget("http://h:8123", "db1.events_v2", "", "")
    // anything that could smuggle SQL into the query string fails fast
    for (bad <- Seq("t; DROP TABLE x", "t FORMAT Native--", "t`x", "",
        "1tab", "db.t.extra", "t%20OR%201"))
      intercept[IllegalArgumentException] {
        HttpTarget("http://h:8123", bad, "", "")
      }
  }

  /** Starts a sink query over a two-row stream with `opts` on top of a
    * fresh file target; the query is stopped if it starts at all. */
  private def startSink(opts: (String, String)*): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Env]
    src.addData(envs(0, 2): _*)
    val q = src.toDF().writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", Files.createTempDirectory("graft_sink_opts").toString)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sink_opts_cp").toString)
      .options(opts.toMap)
      .trigger(Trigger.AvailableNow())
      .start()
    q.stop()
  }

  test("wire option: anything but http or native fails at start") {
    val e = intercept[IllegalArgumentException] {
      startSink("url" -> "ch://writer:secret@127.0.0.1:9000", "wire" -> "natve")
    }
    assert(e.getMessage.contains("wire='natve'"))
  }

  test("compression option: anything but lz4 or none fails at start") {
    val e = intercept[IllegalArgumentException] {
      startSink("compression" -> "zstd")
    }
    assert(e.getMessage.contains("compression='zstd'"))
  }

  test("insertFormat option: anything but JSONEachRow or RowBinary fails at start") {
    val e = intercept[IllegalArgumentException] {
      startSink("insertFormat" -> "Native")
    }
    assert(e.getMessage.contains("insertFormat='Native'"))
  }

  test("batchSize option: zero or negative fails at start") {
    for (bad <- Seq("0", "-5")) {
      val e = intercept[IllegalArgumentException] {
        startSink("batchSize" -> bad)
      }
      assert(e.getMessage.contains(s"batchSize=$bad"))
    }
  }

  test("compression=none on the native wire fails at start") {
    val e = intercept[IllegalArgumentException] {
      startSink("url" -> "ch://writer:secret@127.0.0.1:9000",
        "wire" -> "native", "compression" -> "none")
    }
    assert(e.getMessage.contains("native wire always LZ4"))
  }

  test("ch:// HTTP wire path: no server behind the DSN fails at start (ping)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dead = new java.net.ServerSocket(0)
    val port = dead.getLocalPort
    dead.close()
    val cp = Files.createTempDirectory("graft_http_ping_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 2): _*)
    val ex = intercept[Exception] {
      val q = src.toDF().writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("path", Files.createTempDirectory("graft_http_ping").toString)
        .option("url", s"ch://writer:secret@127.0.0.1:$port")
        .option("table", "t").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(ex.toString.contains("ping failed") ||
      Option(ex.getCause).exists(_.toString.contains("ping failed")))
  }

  test("source → pipeline → sink: the full connector chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink_chain").toString
    val cp = Files.createTempDirectory("graft_sink_chain_cp").toString
    val src = MemoryStream[Env]
    src.addData(envs(0, 12): _*)
    val raw = graft.pipeline.Ingest.envelopeToRaw(src.toDF())
    val q = raw.writeStream
      .format("graft.sinks.BatchInsertSinkProvider")
      .option("path", dir).option("compression", "none")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.json(s"$dir/*.jsonl")
    assert(got.count() === 12)
    assert(got.columns.sorted.toSeq ===
      Seq("chat_id", "data", "metadata", "sequence", "subject", "timestamp"))
  }
}
