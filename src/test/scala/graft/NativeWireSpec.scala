package graft

import java.io.IOException
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.{CityHash102, NativeBlockCodec, NativeFraming, NativeTarget}

/** The ClickHouse native-TCP wire path: CityHash128-checksummed LZ4
  * framing, Native-format columnar blocks, and the full INSERT cycle
  * against the in-process stub server. (Interop against a LIVE ClickHouse
  * is env-gated like the HTTP path — this battery proves the framing is
  * self-consistent and the protocol state machine complete; the CityHash
  * transcription is validated structurally, since no independent v1.0.2
  * implementation exists in this offline environment.) */
class NativeWireSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  // ---- CityHash v1.0.2 ------------------------------------------------

  test("cityhash128: deterministic, length-path coverage, avalanche") {
    val rnd = new scala.util.Random(7)
    // every length class: 0-3 (byte path), 4-7 (fetch32), 8-16 (fetch64),
    // 17-127 (CityMurmur loop), 128-300 (main loop + 1-4 tail chunks)
    (0 to 300).foreach { len =>
      val b = new Array[Byte](len); rnd.nextBytes(b)
      val h1 = CityHash102.cityHash128(b, 0, len)
      val h2 = CityHash102.cityHash128(b, 0, len)
      assert(h1 === h2, s"non-deterministic at len $len")
      if (len > 0) {
        val c = b.clone(); c(len / 2) = (c(len / 2) ^ 0x10).toByte
        assert(CityHash102.cityHash128(c, 0, len) !== h1,
          s"single-bit flip not detected at len $len")
      }
    }
    // offset handling: hash of a slice equals hash of the copied slice
    val big = new Array[Byte](512); rnd.nextBytes(big)
    assert(CityHash102.cityHash128(big, 100, 200) ===
      CityHash102.cityHash128(big.slice(100, 300), 0, 200))
  }

  test("cityhash128: pinned digests across every length path") {
    // Fixed-input digests pinning the v1.0.2 transcription. Honest
    // provenance: generated FROM this implementation (no independent
    // v1.0.2 implementation or live server exists in this offline
    // environment — external cross-validation stays env-gated with the
    // live-interop items), so they cannot prove the original
    // transcription, but they turn any future drift — a refactor, a
    // "cleanup" of a magic rotation constant, a sign bug on another
    // JVM — into a loud failure instead of a silent one that only a
    // live server's CHECKSUM_DOESNT_MATCH would catch. One vector per
    // length class: 0-3, 4-7, 8-16, 17-127 (CityMurmur), ≥128 (main
    // loop), plus a 512-byte binary input.
    val vectors = Seq[(String, Long, Long)](
      ("", 0x3df09dfc64c09a2bL, 0x3cb540c392e51e29L),
      ("a", 0xd27139a1afe01ad0L, 0xfd7e8ee2e4c86cf6L),
      ("abc", 0x900ff195577748feL, 0x13a9176355b20d7eL),
      ("message digest", 0x4c397a83875a0fb6L, 0x6abc0522bfe3f26bL),
      ("abcdefghijklmnopqrstuvwxyz", 0xdcd5e0cb498f7abcL, 0x1e3091cc0d3bea6cL),
      ("The quick brown fox jumps over the lazy dog",
        0x69102202d326a2fdL, 0xe4b1346bbee531a1L),
      ("1234567890" * 10, 0x921c0a0f9a35210eL, 0x7e18002a2b32761bL))
    vectors.foreach { case (s, lo, hi) =>
      val b = s.getBytes("UTF-8")
      assert(CityHash102.cityHash128(b, 0, b.length) === (lo, hi),
        s"drift at input '${s.take(20)}' (len ${b.length})")
    }
    val big = Array.tabulate[Byte](512)(i => ((i * 131 + 7) & 0xff).toByte)
    assert(CityHash102.cityHash128(big, 0, 512) ===
      (0x4e068d6c18e32b94L, 0xdd63cee6b9e29e3aL))
  }

  test("cityhash128: no trivial collisions across 20k short keys") {
    val seen = scala.collection.mutable.HashSet[(Long, Long)]()
    (0 until 20000).foreach { i =>
      val b = s"key-$i".getBytes("UTF-8")
      assert(seen.add(CityHash102.cityHash128(b, 0, b.length)))
    }
  }

  // ---- compressed framing --------------------------------------------

  test("framing: write → read round-trips payloads of every size class") {
    val rnd = new scala.util.Random(13)
    Seq(0, 1, 9, 100, 4096, 70000).foreach { n =>
      val payload = new Array[Byte](n); rnd.nextBytes(payload)
      val buf = new java.io.ByteArrayOutputStream()
      NativeFraming.writeFrame(buf, payload)
      val back = NativeFraming.readFrame(
        new java.io.ByteArrayInputStream(buf.toByteArray))
      assert(back.toSeq === payload.toSeq, s"mismatch at $n bytes")
    }
  }

  test("framing: corrupted frame fails the checksum, not the decode") {
    val payload = ("the quick brown fox " * 50).getBytes("UTF-8")
    val buf = new java.io.ByteArrayOutputStream()
    NativeFraming.writeFrame(buf, payload)
    val bytes = buf.toByteArray
    // flip one bit INSIDE the compressed body (past checksum + header)
    bytes(bytes.length - 3) = (bytes(bytes.length - 3) ^ 1).toByte
    val e = intercept[IOException] {
      NativeFraming.readFrame(new java.io.ByteArrayInputStream(bytes))
    }
    assert(e.getMessage.contains("checksum mismatch"))
  }

  // ---- native block codec --------------------------------------------

  private val blockSchema = StructType(Seq(
    StructField("s", StringType, nullable = true),
    StructField("l", LongType, nullable = false),
    StructField("i", IntegerType, nullable = true),
    StructField("d", DoubleType, nullable = false),
    StructField("b", BooleanType, nullable = false),
    StructField("t", TimestampType, nullable = false),
    StructField("bin", BinaryType, nullable = true)))

  test("block codec: all types + nulls round-trip columnar") {
    val rows = Seq(
      new GenericInternalRow(Array[Any](UTF8String.fromString("héllo"),
        42L, 7, 3.5, true, 1705312800000000L, Array[Byte](1, 2, 3))),
      new GenericInternalRow(Array[Any](null, -1L, null, -0.0, false,
        0L, null)))
    val block = NativeBlockCodec.decode(
      NativeBlockCodec.encode(blockSchema, rows))
    assert(block.rows === 2)
    val byName = block.columns.map(c => c.name -> c).toMap
    assert(byName("s").chType === "Nullable(String)")
    assert(byName("l").chType === "Int64")
    assert(byName("t").chType === "DateTime64(6)")
    assert(byName("s").values === Seq("héllo", null))
    assert(byName("l").values === Seq(42L, -1L))
    assert(byName("i").values === Seq(7, null))
    assert(byName("d").values === Seq(3.5, -0.0))
    assert(byName("b").values === Seq(true, false))
    assert(byName("t").values === Seq(1705312800000000L, 0L))
    assert(byName("bin").values(0) === new String(Array[Byte](1, 2, 3),
      "ISO-8859-1"))
    assert(byName("bin").values(1) === null)
  }

  test("block codec: null in non-nullable column fails fast") {
    val schema = StructType(Seq(StructField("x", LongType, nullable = false)))
    intercept[IOException] {
      NativeBlockCodec.encode(schema,
        Seq(new GenericInternalRow(Array[Any](null))))
    }
  }

  // ---- the full wire path --------------------------------------------

  private val envSchema = StructType(Seq(
    StructField("subject", StringType, nullable = true),
    StructField("data", StringType, nullable = true),
    StructField("metaTimestamp", TimestampType, nullable = true),
    StructField("streamSeq", LongType, nullable = false)))

  test("wire=native streams blocks into the stub server, checksums verified") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stub = new NativeStubServer(envSchema)
    try {
      val cp = Files.createTempDirectory("graft_native_cp").toString
      val src = MemoryStream[Env]
      src.addData((0 until 25).map { i =>
        Env(s"globex.supprt.u$i", s"""{"text":"ev-$i"}""",
          ts("2024-01-15 10:00:00"), i.toLong)
      }: _*)
      val q = src.toDF().coalesce(1).writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("url", s"ch://writer:secret@localhost:${stub.port}")
        .option("wire", "native")
        .option("table", "nats_data_all_streams")
        .option("batchSize", 10)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(stub.rows.size === 25)
      // 25 rows @ 10/block = 3 blocks; + per-INSERT terminators + the
      // external-tables block: frames strictly exceed block count
      assert(stub.framesSeen > 3)
      assert(stub.queries.forall(_.startsWith(
        "INSERT INTO nats_data_all_streams (subject, data, metaTimestamp, streamSeq)")))
      // the reference's server-side ceiling (connection.go:55-57) rides
      // the wire as a settings-as-strings triple
      assert(stub.settings.contains("max_execution_time" -> "60"))
      val r7 = stub.rows.find(_("subject") == "globex.supprt.u7").get
      assert(r7("data") === """{"text":"ev-7"}""")
      assert(r7("streamSeq") === 7L)
      // DateTime64(6): epoch micros survive the columnar encoding
      assert(r7("metaTimestamp") ===
        ts("2024-01-15 10:00:00").getTime * 1000L)
    } finally stub.close()
  }

  test("a chatty server (ProfileInfo + uncompressed Log packets) is tolerated") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stub = new NativeStubServer(envSchema, chatty = true)
    try {
      val cp = Files.createTempDirectory("graft_native_cp3").toString
      val src = MemoryStream[Env]
      src.addData((0 until 12).map { i =>
        Env(s"globex.supprt.u$i", s"""{"n":$i}""",
          ts("2024-01-15 10:00:00"), i.toLong)
      }: _*)
      val q = src.toDF().coalesce(1).writeStream
        .format("graft.sinks.BatchInsertSinkProvider")
        .option("url", s"ch://writer:secret@localhost:${stub.port}")
        .option("wire", "native")
        .option("table", "nats_data_all_streams")
        .option("batchSize", 5)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(stub.rows.size === 12)
    } finally stub.close()
  }

  test("native ping: auth-rejecting server fails the query at start()") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stub = new NativeStubServer(envSchema, failHello = true)
    try {
      val cp = Files.createTempDirectory("graft_native_cp2").toString
      val src = MemoryStream[Env]
      src.addData(Env("a.b.c.d", "{}", ts("2024-01-15 10:00:00"), 1L))
      val e = intercept[Exception] {
        val q = src.toDF().writeStream
          .format("graft.sinks.BatchInsertSinkProvider")
          .option("url", s"ch://writer:wrong@localhost:${stub.port}")
          .option("wire", "native")
          .option("table", "t")
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("ping failed") || msg.contains("Authentication"),
        s"unexpected failure: $e")
    } finally stub.close()
  }

  test("native target validates the table identifier") {
    intercept[IllegalArgumentException] {
      NativeTarget("localhost", 9000, "t; DROP TABLE x", "u", "p")
    }
  }

  // ---- revision negotiation, mid-stream failure, cancel ---------------

  test("a server below settings-as-strings is refused at handshake, " +
      "not sent a mis-framed Query packet") {
    val stub = new NativeStubServer(envSchema,
      serverRevision = graft.sinks.NativeProto.MinRevisionWithSettingsAsStrings - 1)
    try {
      val e = intercept[IOException] {
        NativeTarget("localhost", stub.port, "t", "u", "p").connect()
      }
      assert(e.getMessage.contains("below the minimum supported"))
      assert(e.getMessage.contains("54429"))
      // nothing past the hello ever went out
      assert(stub.queries.isEmpty && stub.framesSeen === 0)
    } finally stub.close()
  }

  test("mid-INSERT server Exception surfaces typed; a fresh connection " +
      "(the epoch retry) lands the rows exactly once") {
    import graft.sinks.ClickHouseServerException
    val stub = new NativeStubServer(envSchema, failInsertOnce = true)
    try {
      val target = NativeTarget("localhost", stub.port, "nats_data_all_streams",
        "writer", "secret")
      val row = new GenericInternalRow(Array[Any](
        UTF8String.fromString("globex.supprt.u1"),
        UTF8String.fromString("""{"n":1}"""),
        1705312800000000L, 1L))
      val c1 = target.connect()
      val e = intercept[ClickHouseServerException] {
        try c1.insert("nats_data_all_streams", envSchema, Seq(row), 60)
        finally c1.close()
      }
      assert(e.code === 241)
      assert(e.name === "DB::Exception")
      assert(e.getMessage.contains("Memory limit"))
      // the aborted statement's rows were NOT recorded server-side
      assert(stub.rows.isEmpty)
      // at-least-once: the retry re-sends the SAME rows on a fresh
      // connection and they land exactly once
      val c2 = target.connect()
      try c2.insert("nats_data_all_streams", envSchema, Seq(row), 60)
      finally c2.close()
      assert(stub.rows.size === 1)
      assert(stub.rows.head("streamSeq") === 1L)
    } finally stub.close()
  }

  test("writer deadline: Cancel packet rides out before the close") {
    import graft.sinks.BlockWriterFactory
    val stub = new NativeStubServer(envSchema)
    try {
      val target = NativeTarget("localhost", stub.port, "nats_data_all_streams",
        "writer", "secret")
      val w = BlockWriterFactory("", batchSize = 1, compression = "lz4",
        maxExecutionTimeSec = 1, schema = envSchema, http = None,
        native = Some(target)).createWriter(0, 0L, 0L)
      def row(i: Int) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(s"globex.supprt.u$i"),
        UTF8String.fromString(s"""{"n":$i}"""),
        1705312800000000L, i.toLong))
      w.write(row(0)) // batchSize=1: flushes, connection opens, insert OK
      Thread.sleep(1200) // blow the 1 s deadline
      val e = intercept[IOException] { w.write(row(1)) }
      assert(e.getMessage.contains("max_execution_time"))
      // the Cancel packet reached the server before the socket closed
      val deadlineMs = System.currentTimeMillis() + 5000
      while (stub.cancelsSeen == 0 && System.currentTimeMillis() < deadlineMs)
        Thread.sleep(20)
      assert(stub.cancelsSeen === 1)
      assert(stub.rows.size === 1) // only the pre-deadline block landed
      w.close() // idempotent: connection already torn down
    } finally stub.close()
  }
}
