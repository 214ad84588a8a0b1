package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** How streaming checkpoints commit their files.
  *
  * Every epoch writes an offset-log entry, a commit-log entry and one
  * state-store delta per shuffle partition, each as an atomic
  * write-then-rename. Spark's default manager renames through Hadoop's
  * `FileContext`; on a local path that looks up the link status of both
  * rename ends, and without libhadoop each lookup forks a `readlink`
  * process (again for every file's `.crc` twin), and every created file
  * forks a `chmod`. On a local path [[LocalCheckpointFileManager]] gives
  * the same guarantee — check that the destination is absent, then
  * rename(2), which is atomic — and sets modes with chmod(2), so a commit
  * forks nothing. Checksums (`.crc`) are written and verified either way,
  * and the checkpoint holds the same files with the same modes, so a
  * checkpoint written under one manager resumes under the other.
  */
object CheckpointCommits {

  /** Spark's conf naming the checkpoint file manager. It reaches the
    * driver's offset/commit logs and the executors' state stores through
    * the session's Hadoop conf. */
  val ManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager for checkpoints under `path`: [[LocalCheckpointFileManager]]
    * when `path` resolves to the local file system, `None` (Spark's
    * `FileContext` default, atomic rename on hdfs, s3a, …) otherwise. The
    * scheme is read from the path or the default FS without instantiating
    * the file system, so no client is dialled. */
  def managerFor(path: String, hadoopConf: Configuration): Option[String] = {
    val scheme = Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") Some(classOf[LocalCheckpointFileManager].getName)
    else None
  }
}
