package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.streaming.Trigger
import graft.sources.ReplayMicroBatchStream
import graft.streaming.NatsLikeStream

/** The DSv2 replay source (S1): schema, admission control (B2), offset
  * checkpointing (K2/at-least-once), malformed-row tolerance (P1). */
class ReplaySourceSpec extends SparkSpec {

  private def writeBacklog(dir: String, lines: Seq[String]): Unit =
    Files.writeString(Paths.get(dir, "part-000.jsonl"), lines.mkString("\n") + "\n")

  private def line(i: Int): String = {
    val subj = if (i % 3 == 0) s"globex.crmabc.u$i" else s"globex.supprt.u$i.chat${i % 5}"
    val sec = f"${i % 60}%02d"
    s"""{"subject":"$subj","data":"{\\"text\\":\\"ev-$i\\",\\"id\\":\\"m$i\\"}","metaTimestamp":"2024-01-15T10:00:$sec+00:00","streamSeq":$i}"""
  }

  private def readReplay(dir: String, maxRows: Int) =
    spark.readStream
      .format("graft.sources.ReplayStreamProvider")
      .option("path", dir)
      .option("maxRowsPerTrigger", maxRows)
      .load()

  test("replays the backlog with the envelope schema and admission cap") {
    val dir = Files.createTempDirectory("graft_replay").toString
    writeBacklog(dir, (0 until 25).map(line))
    val out = Files.createTempDirectory("graft_replay_out").toString
    val cp = Files.createTempDirectory("graft_replay_cp2").toString
    val q = readReplay(dir, maxRows = 10)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq === Seq("subject", "data", "metaTimestamp", "streamSeq"))
    assert(got.count() === 25)
    // 25 rows at maxRows=10 → 3 micro-batches (B2 count flush)
    assert(Files.list(Paths.get(s"$cp/offsets")).count() >= 3)
    // restart with the same checkpoint: nothing new → no duplicate rows (K2)
    val q2 = readReplay(dir, maxRows = 10)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 25)
  }

  test("malformed lines are skipped (P1 row-level tolerance)") {
    val dir = Files.createTempDirectory("graft_replay_bad").toString
    writeBacklog(dir, (0 until 5).map(line) ++ Seq("NOT JSON", "{\"x\":1}") ++ (5 until 10).map(line))
    val out = Files.createTempDirectory("graft_replay_bad_out").toString
    val cp = Files.createTempDirectory("graft_replay_bad_cp").toString
    val q = readReplay(dir, maxRows = 100)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // {"x":1} has no metaTimestamp → dropped; "NOT JSON" → dropped
    assert(spark.read.parquet(out).count() === 10)
  }

  test("feeds the full reference pipeline end to end") {
    val dir = Files.createTempDirectory("graft_replay_pipe").toString
    writeBacklog(dir, (0 until 30).map(line))
    val wh = Files.createTempDirectory("graft_replay_pipe_wh").toString
    val cp = Files.createTempDirectory("graft_replay_pipe_cp").toString
    val q = NatsLikeStream.writer(readReplay(dir, 1000), wh)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", cp).start()
    q.awaitTermination()
    // 10 of 30 are crmabc → filtered by the subject pattern (S2)
    assert(spark.read.parquet(s"$wh/raw").count() === 20)
    assert(spark.read.parquet(s"$wh/analytics").count() === 20)
  }

  /** Replays `dir` at `maxRows` per trigger into parquet; rows by streamSeq. */
  private def replayed(dir: String, maxRows: Int): Seq[(Long, String)] = {
    val out = Files.createTempDirectory("graft_replay_rows_out").toString
    val cp = Files.createTempDirectory("graft_replay_rows_cp").toString
    readReplay(dir, maxRows)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.read.parquet(out).select("streamSeq", "data").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  private def readLineCount(f: Path): Long = {
    val r = ReplayMicroBatchStream.reader(f.toString)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).size.toLong
    finally r.close()
  }

  test("non-ASCII payloads round-trip exactly; an invalid UTF-8 byte fails no query") {
    val dir = Files.createTempDirectory("graft_replay_utf8")
    val text = "Привет, мир · 你好世界 · 🎉🚀 · café naïve ÿ"
    def rec(seq: Int, data: String) =
      s"""{"subject":"globex.supprt.u$seq.chat1","data":"$data","metaTimestamp":"2024-01-15T10:00:0$seq+00:00","streamSeq":$seq}"""
    val bytes = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = bytes.write(s.getBytes(UTF_8))
    put(rec(1, text) + "\n")
    // a stray 0xFF inside the payload string: the line still parses
    val (head, tail) = rec(2, "bad|byte").span(_ != '|')
    put(head); bytes.write(0xff); put(tail.drop(1) + "\n")
    // a truncated 3-byte sequence right before the terminator: the line is
    // cut-off JSON (dropped), and the next line still starts on its own
    put(rec(3, "cut").dropRight(20)); bytes.write(0xe2); put("\n")
    put(rec(4, text) + "\n")
    val f = dir.resolve("part-000.jsonl")
    Files.write(f, bytes.toByteArray)
    assert(ReplayMicroBatchStream.countLines(f) === 4)
    assert(replayed(dir.toString, maxRows = 2) ===
      Seq(1L -> text, 2L -> "bad\ufffdbyte", 4L -> text))
  }

  test("the backlog index counts lines exactly as readLine does") {
    val dir = Files.createTempDirectory("graft_replay_eol")
    val files = Seq(
      "lf" -> (0 until 5).map(line).mkString("", "\n", "\n"),
      "crlf" -> (5 until 10).map(line).mkString("", "\r\n", "\r\n"),
      "cr" -> (10 until 15).map(line).mkString("", "\r", "\r"),
      "mixed-no-trailing-eol" ->
        (line(15) + "\r\n\n" + line(16) + "\r\r" + line(17) + "\n\r\n" + line(18)),
      "empty" -> "",
      // the CRLF after the filler straddles the 64 KB scan buffer
      "straddle" -> ("x" * 65535 + "\r\n" + line(19) + "\n"))
    val paths = files.zipWithIndex.map { case ((name, body), i) =>
      val f = dir.resolve(f"part-$i%03d-$name.jsonl")
      Files.writeString(f, body)
      assert(ReplayMicroBatchStream.countLines(f) === readLineCount(f), name)
      f
    }
    val total = paths.map(readLineCount).sum
    assert(new ReplayMicroBatchStream(dir.toString, 3).reportLatestOffset().json() ===
      total.toString)
    // slices read with readLine over the index's offsets: every record
    // replays once, blank and filler lines are skipped as malformed
    assert(replayed(dir.toString, maxRows = 3).map(_._1) === (0L until 20L))
  }
}
