package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: graft.Verify <sfDir> <outDir> [query ...] [--exclude=<query>,...]"

  // wide initial exchanges + AQE coalesce — see Bench.scala (the sf10
  // battery's large-SF spill fix; a no-op at the small SFs)
  def conf(cores: String): Seq[(String, String)] = Session.conf(cores,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512")

  /** sfDir, outDir and the names of the queries to run, or `Left` on fewer
    * than two arguments or an unknown query name. Optional trailing names
    * select a query subset (fast re-verification of individual operators
    * after an oracle/plan change). `--exclude=a,b` drops names instead —
    * the big-SF gate uses it to not spend Spark time materializing queries
    * whose oracle is on the rows-only skip list anyway. */
  def parseArgs(args: Seq[String]): Either[String, (String, String, Seq[String])] =
    args match {
      case sfDir +: outDir +: rest =>
        val (exArgs, incArgs) = rest.partition(_.startsWith("--exclude="))
        val exclude = exArgs.flatMap(_.stripPrefix("--exclude=").split(","))
          .filter(_.nonEmpty).toSet
        val subset = incArgs.toSet
        val unknown = (subset ++ exclude) -- SparkEntry.queries.keySet
        if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
        else Right((sfDir, outDir, SparkEntry.queries.keys.toSeq
          .filter(n => (subset.isEmpty || subset(n)) && !exclude(n))))
      case _ => Left("missing <sfDir> <outDir>")
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, selected) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(err) => System.err.println(s"$err\n$Usage"); sys.exit(2)
    }
    // Single-file output (coalesce(1)) is the driver-compatible default.
    // At sf10 the one-task sort+encode tail DOMINATES row-heavy queries
    // (measured: the 10M-row analytics MV took 6 min of its ~6.5 min
    // wall in that single task); SPARK_GRAFT_VERIFY_WIDE=1 writes the
    // ordered range partitions as-is — part-file names carry the global
    // sort order, and DuckDB's glob reads them back in name order, so
    // tools/check.py's row-order compare is unchanged.
    val wideWrite = sys.env.get("SPARK_GRAFT_VERIFY_WIDE").contains("1")
    val spark = Session.build(conf(Session.cores(sys.env)), "WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { name =>
      try {
        val out = SparkEntry.queries(name)(spark, sfDir)
        (if (wideWrite) out else out.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // release the operator-level persists so 50+ queries don't
        // accumulate cached signature tables in one session — scoped to
        // THIS session's graft-registered caches (releaseAll would also
        // drop another live session's registered caches, and clearCache
        // any caller-owned ones, in an embedding process)
        graft.util.OperatorCaches.release(spark)
        // ...and nudge the ContextCleaner: finished queries' SHUFFLE
        // FILES are deleted only when their dependencies are GC'd, and
        // a long single-JVM battery at a large SF otherwise accumulates
        // them until the disk fills (observed: the sf10 full battery
        // died with SPILL_OUT_OF_MEMORY "No space left on device" ~80
        // queries in; Spark's own periodicGC defaults to 30 min —
        // far too slow for a battery that writes tens of GB of shuffle
        // per query)
        System.gc()
      }
    }
    // JSON escape (graft.util.JsonText): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.util.JsonText.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
