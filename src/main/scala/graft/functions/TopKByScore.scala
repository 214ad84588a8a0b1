package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, posexplode, udaf}

/** One scored neighbor row flowing through [[TopKByScore]]. */
final case class Neighbor(cos: Double, neighbor_id: Long, label: Int)

/** Bounded-heap top-k aggregator: keeps the k best [[Neighbor]]s by
  * (cos DESC, neighbor_id ASC) — the scale-safe replacement for
  * `row_number() OVER (PARTITION BY query_id ORDER BY ...)`, which funnels
  * every candidate row of a query into ONE task. As an `Aggregator` it is
  * partial-aggregated (ObjectHashAggregate): each map partition reduces to
  * at most k rows per query before the shuffle, so the exchange moves
  * O(partitions·k) rows instead of the full candidate set, and the final
  * merge per query is a k·partitions list merge.
  *
  * Ordering uses `java.lang.Double.compare` on the score, so a NaN score
  * sorts as the LARGEST value — the same ordering Spark's `ORDER BY cos
  * DESC` window would produce — keeping results bit-identical to the
  * window formulation it replaces.
  *
  * The buffer is kept sorted (insertion into a ≤k list), so `finish` is a
  * no-op and ranks are just positions.
  */
final class TopKByScore(k: Int)
    extends Aggregator[Neighbor, Seq[Neighbor], Seq[Neighbor]] {

  /** (cos DESC with NaN greatest-first, neighbor_id ASC) */
  private def beats(a: Neighbor, b: Neighbor): Boolean = {
    val c = java.lang.Double.compare(b.cos, a.cos)
    c < 0 || (c == 0 && a.neighbor_id < b.neighbor_id)
  }

  override def zero: Seq[Neighbor] = Nil

  override def reduce(buf: Seq[Neighbor], a: Neighbor): Seq[Neighbor] =
    if (buf.size >= k && beats(buf.last, a)) buf
    else {
      val (better, worse) = buf.span(beats(_, a))
      (better ++ (a +: worse)).take(k)
    }

  override def merge(a: Seq[Neighbor], b: Seq[Neighbor]): Seq[Neighbor] =
    b.foldLeft(a)(reduce)

  override def finish(r: Seq[Neighbor]): Seq[Neighbor] = r

  override def bufferEncoder: Encoder[Seq[Neighbor]] =
    ExpressionEncoder[Seq[Neighbor]]()

  override def outputEncoder: Encoder[Seq[Neighbor]] =
    ExpressionEncoder[Seq[Neighbor]]()
}

object TopKByScore {

  /** The k best rows per `keys` group by (score DESC, id ASC) as
    * (keys…, neighbor_id, label, cos, rank): the bounded-heap aggregate,
    * then one `posexplode` of each group's ≤k buffer. `score` is a double,
    * `id` a long and `payload` an int; the payload comes back as `label`,
    * the score as `cos`, and `rank` is a long from 1. */
  def ranked(df: DataFrame, keys: Seq[String], k: Int, score: Column,
      id: Column, payload: Column): DataFrame = {
    val topk = udaf(new TopKByScore(k), ExpressionEncoder[Neighbor]())
    val ks = keys.map(col)
    df.groupBy(ks: _*)
      .agg(topk(score, id, payload).as("nbs"))
      .select(ks :+ posexplode(col("nbs")).as(Seq("pos", "nb")): _*)
      .select(ks ++ Seq(col("nb.neighbor_id").as("neighbor_id"),
        col("nb.label").as("label"), col("nb.cos").as("cos"),
        (col("pos") + 1).cast("long").as("rank")): _*)
  }
}
