package graft

import org.apache.spark.sql.functions._

/** Quick local smoke of the driver contract (the driver's t1): entry()
  * rows>0 plus a few semantic spot-checks. */
object Smoke {
  /** `local[4]`, whatever `SPARK_GRAFT_CPUS` says. */
  val conf: Seq[(String, String)] = Session.conf("4")

  def main(args: Array[String]): Unit = {
    val spark = Session.build(conf, "ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, 48)
    println("SHORT_SUBJ=" + df.filter(col("session_id") === "").count())
    println("EPOCH0=" + df.filter(
      col("message_timestamp") === to_timestamp(lit("1970-01-01 00:00:00"))).count())
    spark.stop()
  }
}
