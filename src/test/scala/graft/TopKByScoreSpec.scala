package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.TopKByScore

/** [[TopKByScore.ranked]], the top-k step the ANN, PQ and cap operators
  * share, against the rank window it stands for: `row_number()` per key
  * group over (score DESC, id ASC), cut at k. The aggregator's
  * reduce/merge has its own property in [[GraftProperties]]; this pins
  * the DataFrame step around it (grouping, the explode, the rank). */
class TopKByScoreSpec extends SparkSpec {

  private val Keys = Seq("sig", "query_id")

  private def viaWindow(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(Keys.map(col): _*)
      .orderBy(col("score").desc, col("id").asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("sig"), col("query_id"), col("id").as("neighbor_id"),
        col("payload").as("label"), col("score").as("cos"), col("rank"))
  }

  /** Rows as comparable tuples; the score by its bits, so NaN == NaN. */
  private def rowsOf(df: DataFrame): Set[(Int, Long, Long, Int, Long, Long)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getInt(3), java.lang.Double.doubleToLongBits(r.getDouble(4)),
      r.getLong(5))).toSet

  private def ranked(df: DataFrame, k: Int): DataFrame =
    TopKByScore.ranked(df, Keys, k, col("score"), col("id"), col("payload"))

  test("ranked equals row_number over (score desc, id asc) per two-key " +
      "group: a short group, tied scores, NaN first, payload as label, " +
      "long ranks from 1") {
    import spark.implicits._
    val df = Seq(
      (0, 1L, 0.9, 10L, 7),
      (0, 1L, 0.5, 11L, 8),
      (0, 1L, 0.5, 9L, 9), // ties with 11: the lower id ranks first
      (0, 1L, 0.1, 12L, 1),
      (0, 1L, Double.NaN, 13L, 2), // NaN sorts greatest: rank 1
      (1, 1L, 0.3, 10L, 3), // same query, other sig: a group of its own
      (0, 2L, -0.2, 21L, 5), // a group shorter than k
      (0, 2L, -0.2, 20L, 4)
    ).toDF("sig", "query_id", "score", "id", "payload").repartition(3)
    val got = ranked(df, 3)
    assert(got.columns.toSeq ===
      Seq("sig", "query_id", "neighbor_id", "label", "cos", "rank"))
    assert(got.schema("rank").dataType === LongType)
    val out = rowsOf(got)
    assert(out === rowsOf(viaWindow(df, 3)))
    val byGroup = out.groupBy(r => (r._1, r._2))
      .map { case (g, rs) => g -> rs.toSeq.sortBy(_._6).map(r => (r._3, r._4, r._6)) }
    assert(byGroup === Map(
      (0, 1L) -> Seq((13L, 2, 1L), (10L, 7, 2L), (9L, 9, 3L)),
      (1, 1L) -> Seq((10L, 3, 1L)),
      (0, 2L) -> Seq((20L, 4, 1L), (21L, 5, 2L))))
  }

  test("ranked equals the window on a many-partition input with heavy ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    val df = (0 until 400).map { i =>
      (rnd.nextInt(2), rnd.nextInt(4).toLong,
        if (rnd.nextInt(50) == 0) Double.NaN else rnd.nextInt(6) / 5.0,
        i.toLong, rnd.nextInt(100))
    }.toDF("sig", "query_id", "score", "id", "payload").repartition(7)
    Seq(1, 4, 150).foreach { k =>
      assert(rowsOf(ranked(df, k)) === rowsOf(viaWindow(df, k)), s"k = $k")
    }
  }
}
