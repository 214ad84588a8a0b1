package graft

import org.apache.spark.sql.SparkSession

/** Analysis-only smoke gate: resolves every query's plan (`df.schema` —
  * Catalyst analysis, zero execution) plus the `entry()` flagship against
  * a tiny SF. An environment shift that breaks analysis (the round-7
  * events/`timestamp_ntz` blackout silently killed 15 queries) becomes a
  * loud non-zero gate exit in seconds. Wired into tools/gate.sh.
  *
  * Named queries after the SF instead print their `explain("formatted")`
  * plans, so scan pruning (`PushedFilters`/`ReadSchema`), join strategies
  * and WholeStageCodegen spans can be reviewed (PLANS.md).
  * Usage: `sbt "runMain graft.Analyze [sfDir [query ...]]"`. */
object Analyze {
  val conf: Seq[(String, String)] = Session.conf("4")

  /** The first line of `e`'s message, else its class name; at most 300 chars. */
  def firstLine(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").trim
    val s = if (m.nonEmpty) m else e.getClass.getName
    s.linesIterator.next().take(300)
  }

  /** Name and first error line of each named query whose plan does not
    * resolve at `sfDir`, in name order. */
  def failures(spark: SparkSession, sfDir: String,
      names: Iterable[String]): Seq[(String, String)] =
    names.toSeq.sorted.flatMap { name =>
      try { SparkEntry.queries(name)(spark, sfDir).schema; None }
      catch { case e: Throwable => Some(name -> firstLine(e)) }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Session.build(conf, "ERROR")
    if (names.nonEmpty) {
      names.foreach { name =>
        println(s"\n=============== $name ===============")
        try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
      spark.stop()
      return
    }
    val failed = failures(spark, sfDir, SparkEntry.queries.keys) ++
      (try { SparkEntry.entry(spark).schema; None }
      catch { case e: Throwable => Some("entry" -> firstLine(e)) })
    failed.foreach { case (name, err) => System.err.println(s"ANALYZE FAIL $name: $err") }
    println(s"ANALYZE ok=${SparkEntry.queries.size + 1 - failed.size} failed=${failed.size}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
