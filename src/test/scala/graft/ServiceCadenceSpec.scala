package graft

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.config.GraftConfig
import graft.logging.GraftLogger
import graft.model.Schemas
import graft.streaming.NatsLikeStream

/** `Service --sink native` at the reference cadence: its block-sink query
  * starts under [[NatsLikeStream.CadenceConf]] and pings its target once,
  * the session and the side streams keep their own conf, a checkpoint
  * written at another partition count resumes at that count, and the
  * overlay changes no byte the sink sends. Driven through `Service.run`
  * on the shared session against [[NativeStubServer]]. */
class ServiceCadenceSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  private def envelope(seq: Int, stream: String): String = {
    val t = f"${10 + seq / 3600}%02d:${seq / 60 % 60}%02d:${seq % 60}%02d"
    s"""{"subject":"globex.$stream.u${seq % 7}.chat${seq % 3}","data":"{\\"text\\":\\"m$seq\\"}",""" +
      s""""metaTimestamp":"2024-01-15T$t+00:00","streamSeq":$seq}"""
  }

  /** `n` backlog lines, one second of event time apart: every 50th
    * envelope off-subject, every 97th line malformed, and every 31st a copy
    * of the line 40 before it (a redelivery). */
  private def lines(n: Int): Seq[String] = {
    val out = ArrayBuffer[String]()
    (0 until n).foreach { i =>
      out += (if (i % 97 == 96) """{"subject":"globex.supprt.u1.chat1","data":"{\"te"""
        else if (i % 31 == 30 && i >= 40) out(i - 40)
        else envelope(i, if (i % 50 == 49) "crmabc" else "supprt"))
    }
    out.toSeq
  }

  /** The sequences the sink must receive from `ls`, each once. */
  private def expected(ls: Seq[String]): Set[Long] = {
    val OnSubject = """.*"subject":"globex\.supprt\.u.*"streamSeq":(\d+)\}""".r
    ls.collect { case OnSubject(seq) => seq.toLong }.toSet
  }

  /** `ls` as capture-sized files of 1000 lines in a new backlog directory. */
  private def backlog(ls: Seq[String]): Path = {
    val dir = Files.createTempDirectory("graft_cadence_backlog")
    ls.grouped(1000).zipWithIndex.foreach { case (g, i) =>
      Files.writeString(dir.resolve(f"part-$i%03d.jsonl"), g.mkString("", "\n", "\n"))
    }
    dir
  }

  private def cfg(stub: NativeStubServer) = GraftConfig("nats://127.0.0.1:4222",
    s"ch://writer:secret@127.0.0.1:${stub.port}", "json", "error", Seq("globex.supprt.>"))

  private def log(stub: NativeStubServer) =
    GraftLogger.init(cfg(stub), new PrintStream(OutputStream.nullOutputStream()))

  /** `Service --sink native --once` over `dir` into `warehouse`. */
  private def serve(dir: Path, warehouse: Path, stub: NativeStubServer, flags: String*): Unit = {
    val opts = Service.parseArgs(Seq("--backlog", dir.toString, "--warehouse", warehouse.toString,
      "--sink", "native", "--once") ++ flags).fold(e => fail(e), identity)
    Service.run(spark, cfg(stub), opts, log(stub))
  }

  /** The same block-sink query `serve` runs, drained once on the session's
    * own conf, with `conf` set around its start: no cadence overlay. */
  private def drainWithout(dir: Path, warehouse: Path, stub: NativeStubServer,
      conf: (String, String)*): Unit = {
    val envelopes = spark.readStream.format("graft.sources.ReplayStreamProvider")
      .option("path", dir.toString)
      .option("maxRowsPerTrigger", NatsLikeStream.MaxRowsPerTrigger).load()
    Service.withConf(spark, conf)(
      Service.blockSink(envelopes, cfg(stub), "native", warehouse.toString, log(stub))
        .option("checkpointLocation", s"$warehouse/_checkpoint_blocks")
        .trigger(Trigger.AvailableNow()).start())
      .awaitTermination()
  }

  private def sequences(stub: NativeStubServer): Seq[Long] =
    stub.rows.map(_("sequence").asInstanceOf[Long]).toSeq

  /** A conf value the checkpoint's offset log recorded for `batch`. */
  private def offsetConf(checkpoint: Path, batch: Int, key: String): String = {
    val text = Files.readString(checkpoint.resolve(s"offsets/$batch"))
    val recorded = ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]*)\"").r
    recorded.findFirstMatchIn(text).map(_.group(1)).getOrElse(fail(s"no $key in $text"))
  }

  private def lastBatch(checkpoint: Path): Int =
    checkpoint.resolve("offsets").toFile.list().filter(_.forall(_.isDigit)).map(_.toInt).max

  /** The queries `body` starts, by name. */
  private def startedQueries(body: => Unit): Map[String, StreamingQuery] = {
    val started = new ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(spark.streams.get(e.id))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    started.asScala.map(q => q.name -> q).toMap
  }

  private def queryConf(q: StreamingQuery, key: String): Option[String] =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.sparkSession.conf.getOption(key)

  test("the native sink pings once per query: one connection more than the blocks it sends") {
    val ls = lines(2500)
    val stub = new NativeStubServer(Schemas.raw)
    try {
      serve(backlog(ls), Files.createTempDirectory("graft_cadence_wh"), stub)
      // three data epochs of at most 1000 rows, one state partition each
      assert(stub.blocks.size === 3)
      assert(stub.connections === 1 + stub.blocks.size)
      assert(sequences(stub).sorted === expected(ls).toSeq.sorted)
    } finally stub.close()
  }

  test("the overlay reaches the block-sink query alone and the session keeps its conf") {
    def sessionConf = Seq(Partitions, FactoryMode).map(k => k -> spark.conf.getAll.get(k))
    val before = sessionConf
    val warehouse = Files.createTempDirectory("graft_cadence_wh")
    val stub = new NativeStubServer(Schemas.raw)
    val queries =
      try startedQueries(serve(backlog(lines(1500)), warehouse, stub, "--sessions"))
      finally stub.close()
    assert(sessionConf === before)
    assert(offsetConf(warehouse.resolve("_checkpoint_blocks"), 0, Partitions) === "1")
    assert(offsetConf(warehouse.resolve("_checkpoint_sessions"), 0, Partitions)
      === spark.conf.get(Partitions))
    assert(queryConf(queries("native"), FactoryMode) === Some("NO_CODEGEN"))
    assert(spark.conf.get(FactoryMode) !== "NO_CODEGEN")
    assert(queryConf(queries("sessions"), FactoryMode) === Some(spark.conf.get(FactoryMode)))
  }

  test("a blocks checkpoint written at the session's partitions resumes at them and drops redeliveries") {
    val ls = lines(2500)
    val dir = backlog(ls.take(1500))
    val warehouse = Files.createTempDirectory("graft_cadence_wh")
    val checkpoint = warehouse.resolve("_checkpoint_blocks")
    val stub = new NativeStubServer(Schemas.raw)
    try {
      drainWithout(dir, warehouse, stub)
      val partitions = spark.conf.get(Partitions)
      assert(partitions !== "1")
      assert(offsetConf(checkpoint, 0, Partitions) === partitions)
      // the rest of the backlog redelivers lines the first drain sent
      Files.writeString(dir.resolve("part-002.jsonl"), ls.drop(1500).mkString("", "\n", "\n"))
      assert(ls.drop(1500).exists(ls.take(1500).contains))
      val resumedFrom = lastBatch(checkpoint) + 1
      serve(dir, warehouse, stub)
      assert(lastBatch(checkpoint) >= resumedFrom)
      (resumedFrom to lastBatch(checkpoint)).foreach { b =>
        assert(offsetConf(checkpoint, b, Partitions) === partitions)
      }
      assert(checkpoint.resolve("state/0").toFile.list().filter(_.forall(_.isDigit)).map(_.toInt)
        .sorted.toSeq === (0 until partitions.toInt))
      assert(sequences(stub).sorted === expected(ls).toSeq.sorted)
    } finally stub.close()
  }

  test("the overlay changes no output: the same blocks byte for byte, the same rows") {
    val ls = lines(2500)
    val dir = backlog(ls)
    def drain(run: (Path, NativeStubServer) => Unit): NativeStubServer = {
      val stub = new NativeStubServer(Schemas.raw)
      try run(Files.createTempDirectory("graft_cadence_wh"), stub) finally stub.close()
      stub
    }
    val overlay = drain(serve(dir, _, _))
    // blocks are cut per partition, so bytes compare at one partition:
    // the codegen factory mode alone differs
    val onePartition = drain(drainWithout(dir, _, _, Partitions -> "1"))
    val sessionConf = drain(drainWithout(dir, _, _))
    assert(overlay.blocks.size === 3)
    assert(overlay.blocks.map(_.toSeq) === onePartition.blocks.map(_.toSeq))
    assert(sequences(overlay).sorted === expected(ls).toSeq.sorted)
    assert(sessionConf.rows.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
      === overlay.rows.map(_.toSeq.sortBy(_._1)).sortBy(_.toString))
  }
}
