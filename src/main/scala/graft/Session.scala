package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `local[cores]` with one shuffle
  * partition per core, UTC session time and no UI. A main passes only what
  * differs: its cores, its log level and its extra conf pairs. The conf is
  * a plain value, so a spec pins each main's pairs without starting Spark. */
object Session {

  /** Cores of a main that sizes itself to the host: `SPARK_GRAFT_CPUS`, else 4. */
  def cores(env: Map[String, String]): String = env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The shared defaults for `cores`, then `extra`; a key in `extra`
    * replaces its default (`Service` picks its own master). */
  def conf(cores: String, extra: (String, String)*): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
      .filterNot { case (k, _) => extra.exists(_._1 == k) } ++ extra

  def build(conf: Seq[(String, String)], logLevel: String): SparkSession = {
    val spark = SparkSession.builder().config(conf.toMap).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
