package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.operators.Frequency

/** One emitted per-window ranking row. Schema matches the exact
  * per-window top-k SQL so the same DuckDB oracle gates the batch
  * flavor. */
case class WindowTopK(window_start: Timestamp, rank: Long,
  event_type: String, n_events: Long)

/** Per-window Misra–Gries summary for [[TopKStream.windowTopK]]:
  * parallel key/count arrays (≤ [[TopKStream.MgK]] entries — a few KB
  * per OPEN window, the whole point of sketched streaming top-k). Entry
  * order carries no meaning: windows are ranked by (count DESC, type
  * ASC). */
case class MgSummary(types: Array[String], counts: Array[Long])

/** Streaming top-k operators over the `events` changelog. */
object TopKStream {

  /** Misra–Gries summary size of each window's fold through x65's step,
    * [[graft.operators.Frequency.mgStep]]. Counters are EXACT (not lower
    * bounds) whenever a window's distinct key cardinality is ≤ [[MgK]] — the
    * x65 argument: no decrement ever fires, so the summary degenerates
    * to a plain exact count map. The events corpus has a handful of
    * event types, so the oracle-gated batch flavor is exact by
    * construction; a deployment with adversarial cardinality gets the
    * standard MG guarantee (count ≥ true − N/k) instead. */
  val MgK = 64

  /** Ranks emitted per closed window. */
  val TopK = 8

  /** Tumbling window width (seconds). */
  val WindowSeconds = 3600L

  /** Event-time watermark delay. */
  val WatermarkDelay = "10 seconds"

  /** [[windowTopK]] over the SERVICE's envelope stream (the DSv2 replay
    * source's schema): the ranked key is the payload's `event_type`
    * when present, else the subject (a hot-subjects leaderboard for
    * plain pipeline traffic); event-time is the JetStream metadata
    * timestamp. This is the x85 path `Service --topk` runs end-to-end:
    * ReplaySource → windowTopK → per-batch appended parquet. */
  def windowTopKEnvelopes(spark: SparkSession, envelopes: DataFrame): Dataset[WindowTopK] =
    windowTopK(spark, envelopes.select(
      col("metaTimestamp").cast("timestamp").as("ts"),
      coalesce(get_json_object(col("data"), "$.event_type"),
        col("subject")).as("event_type")))

  /** x85: STREAMING WINDOWED HEAVY HITTERS — per-hour top-[[TopK]]
    * event types, maintained ONLINE: each open window's type counts
    * live as one bounded Misra–Gries summary (O([[MgK]]) state per
    * window, NOT O(distinct types)), folded row-at-a-time as
    * micro-batches arrive and emitted ONCE when the event-time
    * watermark passes the window end — the leaderboard-per-window
    * pattern (trending topics, hot keys) that a windowed
    * groupBy+rank cannot produce incrementally with bounded state.
    *
    * On a BATCH input the same fold runs with one group invocation per
    * window and emits immediately — O([[MgK]])
    * memory per invocation regardless of window size (MG never buffers
    * rows), gated by the exact per-window top-k DuckDB oracle
    * (`x85_window_topk`; exactness argument at [[MgK]]). Parallelism in
    * batch mode is bounded by the number of windows — fine for a
    * changelog's hours; an unwindowed global top-k should use x65's
    * two-phase Misra–Gries instead. The streaming path (cross-batch
    * summary continuation, watermark-close, checkpoint restart) is
    * spec-driven (`StreamingSpec`).
    *
    * Ties rank deterministically by (count DESC, event_type ASC),
    * mirrored in the oracle. */
  def windowTopK(spark: SparkSession, events: DataFrame): Dataset[WindowTopK] = {
    import spark.implicits._
    // A batch plan has no watermark, so no timeout would fire: batch
    // emits each window at once (the invocation saw the whole window).
    val streaming = events.isStreaming
    events
      .select(col("ts").cast("timestamp").as("ts"),
        col("event_type").cast("string").as("event_type"))
      .filter(col("event_type").isNotNull)
      .withWatermark("ts", WatermarkDelay)
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
        col("ts"), col("event_type"))
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MgSummary, WindowTopK](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (wstart, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            emitTopK(wstart, s)
          } else {
            // Fold rows one at a time into the bounded summary — MG
            // never buffers the group, so a billion-event window costs
            // the same few KB as an empty one.
            val counts = mutable.HashMap.from(state.getOption.iterator
              .flatMap(s => s.types.iterator.zip(s.counts)))
            rows.foreach { case (_, _, t) =>
              Frequency.mgStep(counts, MgK, t) }
            val (types, ns) = counts.toArray.unzip
            val s = MgSummary(types, ns)
            if (streaming) {
              state.update(s)
              // close when the watermark passes the window end
              state.setTimeoutTimestamp(
                (wstart + WindowSeconds) * 1000L)
              Iterator.empty
            } else {
              if (state.exists) state.remove()
              emitTopK(wstart, s)
            }
          }
      }
  }

  private def emitTopK(wstart: Long, s: MgSummary): Iterator[WindowTopK] = {
    val ts = new Timestamp(wstart * 1000L)
    s.types.indices
      .sortBy(i => (-s.counts(i), s.types(i)))
      .take(TopK)
      .zipWithIndex
      .map { case (i, r) =>
        WindowTopK(ts, r + 1L, s.types(i), s.counts(i))
      }
      .iterator
  }
}
