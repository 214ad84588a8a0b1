package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-query reference results of the battery: row count and
  * [[Battery.digest]], one `name<TAB>rows<TAB>digest` line per query, kept
  * beside the corpus in `refs.tsv`. The file is written by `--write-refs`
  * from results that `tools/check.py` found equal to the DuckDB oracle. */
object Refs {
  def file(corpus: String): Path = Paths.get(corpus, "refs.tsv")

  def load(corpus: String): Map[String, (Long, Long)] =
    Files.readAllLines(file(corpus)).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, rows, digest) = l.split('\t')
      name -> (rows.toLong, digest.toLong)
    }.toMap

  def write(corpus: String, cores: Int, names: Seq[String]): Unit = {
    val spark = Main.session(cores)
    val lines = names.distinct.sorted.map { n =>
      val (rows, digest) = Battery.digest(spark, corpus, n)
      s"$n\t$rows\t$digest"
    }
    Files.write(file(corpus), lines.asJava)
    spark.stop()
  }
}
