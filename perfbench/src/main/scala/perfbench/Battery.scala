package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.util.OperatorCaches

/** The batch workload: `SparkEntry.queries` over the fixed corpus in
  * `perfbench/data`, with `graft.Bench`'s session stance — the noop sink
  * executes each materialized plan, and `OperatorCaches.release` runs
  * between queries so every query pays for its own caches. */
object Battery {

  /** Analysis-only pre-check (plan resolution, no execution), as `Bench`
    * does before timing; a query that fails here is a failed output. */
  def analyze(spark: SparkSession, data: String, names: Seq[String]): Seq[String] =
    names.filter { n =>
      try { SparkEntry.queries(n)(spark, data).schema; false }
      catch { case e: Exception => System.err.println(s"[battery] $n: $e"); true }
    }

  def execute(spark: SparkSession, data: String, name: String): Unit =
    SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save()

  /** Time one query (noop sink), then release its caches; returns seconds. */
  def timed(spark: SparkSession, data: String, name: String, parent: Long): Double = {
    val group = s"perfbench-$name-${Recorder.nextId()}"
    val t0 = System.nanoTime()
    Recorder.span("query", parent, Map("family" -> familyCode(name))) { id =>
      Recorder.groups.put(group, id)
      spark.sparkContext.setJobGroup(group, name)
      try execute(spark, data, name) finally spark.sparkContext.clearJobGroup()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    Recorder.span("cache_release", parent)(_ => OperatorCaches.release(spark))
    dt
  }

  /** 0 relational (q), 1 reference parity (r), 2 operators (x). */
  def familyCode(name: String): Double = "qrx".indexOf(name.head).toDouble

  /** (rows, order-insensitive digest) of a query's collected result: the
    * wrap-around sum of a 64-bit hash of each row's exact text. */
  def digest(spark: SparkSession, data: String, name: String): (Long, Long) = {
    val rows = SparkEntry.queries(name)(spark, data).collect()
    OperatorCaches.release(spark)
    (rows.length.toLong, rows.foldLeft(0L)((acc, r) => acc + Backlog.rowHash(0L, name, render(r))))
  }

  /** Exact, deterministic text of a value (byte arrays as hex, not identity). */
  def render(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => render(k) -> render(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k->$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
