package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.ChecksumException
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CheckpointCommits, LocalCheckpointFileManager, NatsLikeStream}

/** Local checkpoints committed through the manager [[CheckpointCommits]]
  * picks: the deduplicated stream recovers exactly as under Spark's default
  * manager, writes the same files with the same modes, still verifies their
  * checksums, and forks no process per commit. */
class CheckpointFilesSpec extends SparkSpec {

  private val Local = Some(classOf[LocalCheckpointFileManager].getName)

  private def line(seq: Int): String = {
    val sec = f"${seq % 60}%02d"
    s"""{"subject":"globex.supprt.u$seq.chat${seq % 5}","data":"{\\"id\\":\\"m$seq\\"}","metaTimestamp":"2024-01-15T10:00:$sec+00:00","streamSeq":$seq}"""
  }

  private def writeBacklog(dir: Path, name: String, seqs: Seq[Int]): Unit =
    Files.writeString(dir.resolve(name), seqs.map(line).mkString("", "\n", "\n"))

  /** One AvailableNow drain of `dir` through the sequence dedup into parquet
    * under `manager` (`None`: Spark's default); returns the input rows the
    * drain's epochs read. The session is shared across suites, so the
    * manager conf is unset again afterwards. */
  private def drain(dir: Path, out: Path, cp: Path, manager: Option[String]): Long = {
    manager.foreach(spark.conf.set(CheckpointCommits.ManagerConf, _))
    try {
      val envelopes = spark.readStream
        .format("graft.sources.ReplayStreamProvider")
        .option("path", dir.toString)
        .option("maxRowsPerTrigger", 10)
        .load()
      val q = NatsLikeStream.dedupedRaw(envelopes)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    } finally spark.conf.unset(CheckpointCommits.ManagerConf)
  }

  private def sequences(out: Path): Seq[Long] =
    spark.read.parquet(out.toString).select("sequence").collect()
      .map(_.getLong(0)).toSeq.sorted

  private def tempDirs(): (Path, Path, Path) = (
    Files.createTempDirectory("graft_ckpt_backlog"),
    Files.createTempDirectory("graft_ckpt_out"),
    Files.createTempDirectory("graft_ckpt_cp"))

  /** Drain 25 rows under `first`, then restart under `second`: once with
    * nothing new, once with a file that redelivers two committed sequences
    * beside three new ones. */
  private def resume(first: Option[String], second: Option[String]): Unit = {
    val (dir, out, cp) = tempDirs()
    writeBacklog(dir, "part-000.jsonl", 0 until 25)
    assert(drain(dir, out, cp, first) === 25)
    assert(sequences(out) === (0L until 25L))
    assert(drain(dir, out, cp, second) === 0, "a restart reprocessed committed rows")
    assert(sequences(out) === (0L until 25L))
    writeBacklog(dir, "part-001.jsonl", Seq(7, 25, 26, 19, 27))
    assert(drain(dir, out, cp, second) === 5)
    // the dedup state written under `first` still drops 7 and 19
    assert(sequences(out) === (0L until 28L))
  }

  /** Command lines of the processes the JVM forks while `body` runs. */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("graft_ckpt", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq.flatMap(e => Option(e.getString("command")))
      } finally Files.delete(dump)
    } finally rec.close()
  }

  private def isReadlink(command: String): Boolean =
    command.trim.split("\\s+").head.endsWith("readlink")

  /** Every file and directory under `root`, relative to it, with its mode. */
  private def modes(root: Path): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(p => root.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally walk.close()
  }

  private def relativeFiles(root: Path): Set[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  test("a restart under the local manager reprocesses nothing and still drops redeliveries") {
    resume(Local, Local)
  }

  test("checkpoints resume across the default and the local manager, both ways") {
    resume(None, Local)
    resume(Local, None)
  }

  test("the local manager writes the default's files and forks no readlink") {
    val (dir, out, cp) = tempDirs()
    writeBacklog(dir, "part-000.jsonl", 0 until 25)
    val localForks = forks(drain(dir, out, cp, Local)).count(isReadlink)
    val (_, defaultOut, defaultCp) = tempDirs()
    val defaultForks = forks(drain(dir, defaultOut, defaultCp, None)).count(isReadlink)
    // the control: the recording does see the default manager's forks
    assert(defaultForks > 0)
    assert(localForks === 0)

    val files = relativeFiles(cp)
    assert(files === relativeFiles(defaultCp))
    val partition0 = files.filter(_.startsWith("state/0/0/")).map(_.stripPrefix("state/0/0/"))
    // Hadoop's checksum twin beside each delta, and Spark's state checksum
    assert(Seq("1.delta", ".1.delta.crc", "1.delta.crc").forall(partition0), partition0)
  }

  test("the local manager forks no process for any checkpoint file") {
    val (dir, out, cp) = tempDirs()
    writeBacklog(dir, "part-000.jsonl", 0 until 25)
    // offsets, commits, metadata and state deltas, each with its `.crc`;
    // the parquet sink's part files and Spark's own cleanup are not ours
    def underCheckpoint(root: Path)(command: String) = command.contains(s"${root.toRealPath()}/")
    val local = forks(drain(dir, out, cp, Local)).filter(underCheckpoint(cp))
    val (_, defaultOut, defaultCp) = tempDirs()
    val default = forks(drain(dir, defaultOut, defaultCp, None)).filter(underCheckpoint(defaultCp))
    // the control: the recording does see the default manager's forks
    assert(default.exists(_.startsWith("chmod")), default)
    assert(local === Nil)
  }

  test("the local manager gives every checkpoint file and directory the default's mode") {
    val (dir, out, cp) = tempDirs()
    writeBacklog(dir, "part-000.jsonl", 0 until 25)
    val (_, defaultOut, defaultCp) = tempDirs()
    // a Hadoop umask unlike the process's, so a mode left unset shows
    spark.conf.set("fs.permissions.umask-mode", "027")
    try {
      drain(dir, out, cp, Local)
      drain(dir, defaultOut, defaultCp, None)
    } finally spark.conf.unset("fs.permissions.umask-mode")
    val local = modes(cp)
    assert(local === modes(defaultCp))
    assert(local("state/0/0/1.delta") === "rw-r-----")
    assert(local("state/0/0") === "rwxr-x---")
  }

  test("a restart under the local manager verifies checksums") {
    val (dir, out, cp) = tempDirs()
    writeBacklog(dir, "part-000.jsonl", 0 until 25)
    drain(dir, out, cp, Local)
    // flip the low bit of a timestamp digit in the latest offsets entry: the
    // entry still parses, so only its `.crc` twin can catch the change
    val offsets = cp.resolve("offsets")
    val latest = offsets.resolve(
      offsets.toFile.list().filter(_.forall(_.isDigit)).maxBy(_.toLong))
    val bytes = Files.readAllBytes(latest)
    val at = new String(bytes, StandardCharsets.ISO_8859_1)
      .indexOf("\"batchTimestampMs\":") + "\"batchTimestampMs\":".length
    assert(Character.isDigit(bytes(at)), new String(bytes, StandardCharsets.UTF_8))
    bytes(at) = (bytes(at) ^ 1).toByte
    Files.write(latest, bytes)
    val e = intercept[Exception](drain(dir, out, cp, Local))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("only a local warehouse switches the manager") {
    val conf = new Configuration()
    assert(CheckpointCommits.managerFor("/tmp/warehouse", conf) === Local)
    assert(CheckpointCommits.managerFor("file:///tmp/warehouse", conf) === Local)
    assert(CheckpointCommits.managerFor("warehouse", conf) === Local)
    assert(CheckpointCommits.managerFor("hdfs://namenode:8020/warehouse", conf) === None)
    assert(CheckpointCommits.managerFor("s3a://bucket/warehouse", conf) === None)
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://namenode:8020")
    assert(CheckpointCommits.managerFor("/warehouse", hdfsDefault) === None)
  }
}
