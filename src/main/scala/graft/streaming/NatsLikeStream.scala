package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.pipeline.{Ingest, Views}

/** The reference service as a Structured Streaming pipeline
  * (SURVEY.md §2.1–§2.4, §3.2–§3.3).
  *
  * Mapping of the reference's moving parts onto Spark's micro-batch engine:
  *
  *  - B1 channel hand-off → internal micro-batch admission; the bounded
  *    channel's backpressure is the source `ReadLimit` (`maxRows`, set via
  *    [[MaxRowsPerTrigger]] on sources that support it).
  *  - B2 count-based flush (1000 msgs, `main.go:26`) → `maxOffsetsPerTrigger`
  *    / `maxFilesPerTrigger`-style admission per micro-batch.
  *  - B3 time-based flush (5 s ticker, `main.go:27`) →
  *    `Trigger.ProcessingTime("5 seconds")` ([[BatchTimeout]]).
  *  - B4 final flush on shutdown → `StreamingQuery.stop()` + checkpoint
  *    recovery replays the uncommitted tail on restart.
  *  - B5 retry-by-not-clearing → micro-batch replay from the checkpoint:
  *    offsets commit only after the sink epoch commits (K2), so a failed
  *    epoch re-runs with the same rows — the same at-least-once guarantee,
  *    with the same duplicate risk at the sink.
  *  - S2 subject wildcard → [[Ingest.subjectFilter]] (server-side in a real
  *    NATS source; a semantically identical prefix filter here).
  *  - K1 batched columnar INSERT → `foreachBatch` writing parquet append —
  *    the local stand-in for a ClickHouse block insert; the MV cascade
  *    (Q2–Q4) runs inside the same epoch, mirroring ClickHouse's synchronous
  *    per-insert-block MV semantics (`init.sql:49-121`).
  */
object NatsLikeStream {

  /** Reference `batchSize` (`main.go:26`). */
  val MaxRowsPerTrigger = 1000

  /** Session conf `Service` sets around the `start()` of its block-sink
    * query ([[dedupedRaw]] into `--sink blocks|http|native`). At
    * [[MaxRowsPerTrigger]] = 1000 rows an epoch's fixed cost, paid again
    * on every epoch, outweighs its per-row work:
    *
    *  - `spark.sql.shuffle.partitions` = 1: one dedup-state task handles
    *    an epoch's 1000 rows, where one task per core writes a delta, a
    *    checksum and their two `.crc` files per partition and opens one
    *    sink connection per partition. A checkpoint that already exists
    *    keeps the partition count its offset log records.
    *  - the codegen factory mode = `NO_CODEGEN`: projections and
    *    predicates run interpreted (whole-stage codegen stays on). Spark
    *    caches compiled classes per `SparkContext` classloader, so every
    *    service start compiled them again, and the late-event predicate
    *    carries the watermark as a literal, so every epoch compiled one
    *    more; interpreting 1000 rows costs less than compiling them.
    *
    * A started query keeps the conf it cloned, so `Service` restores the
    * session's values after `start()`: its side streams and the batch
    * surface keep the session defaults. */
  val CadenceConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Reference `batchTimeout` (`main.go:27`). */
  val BatchTimeout: Trigger = Trigger.ProcessingTime("5 seconds")

  /** The subject pattern the service subscribes to (`nats.yml:8`,
    * `main.go:88` — only `Subjects[0]`). */
  val SubjectPrefix = "globex.supprt"

  /** Event-time watermark of [[dedupedRaw]] and [[windowedCounts]]. */
  val EnvelopeWatermark = "10 minutes"

  /** Event-time watermark of [[sessionCounts]]. */
  val SessionWatermark = "30 minutes"

  /** The full continuous pipeline: envelopes → subject filter (S2) → raw
    * rows (P1–P4) → raw table append (K1) → MV cascade to the analytics
    * table (Q2–Q4) in the SAME epoch — exactly ClickHouse's synchronous
    * insert-triggered MV chain (§3.3). Offsets commit after both writes
    * (K2: ack-after-write ⇒ at-least-once).
    *
    * Output layout under `warehouse`: `raw/` and `analytics/` parquet
    * tables, each month-partitioned like the reference MergeTree tables.
    * The analytics MV is the VariantType single-parse derivation
    * ([[Views.deriveAnalyticsVariant]]), the engine-native mapping of
    * the analytics table's `data JSON` column.
    *
    * Returned before its trigger, checkpoint and start: `Service` sets
    * its trigger ([[BatchTimeout]], or `AvailableNow` with `--once`) and
    * checkpoint and starts it alongside its other streams. */
  def writer(envelopes: DataFrame, warehouse: String): DataStreamWriter[Row] =
    envelopes.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val raw = Ingest.envelopeToRaw(
          Ingest.subjectFilter(batch, SubjectPrefix))
          .persist()
        try {
          Views.withMonth(raw)
            .write.mode("append").partitionBy("month")
            .parquet(s"$warehouse/raw")
          Views.withMonth(Views.deriveAnalyticsVariant(raw))
            .write.mode("append").partitionBy("month")
            .parquet(s"$warehouse/analytics")
        } finally raw.unpersist()
        ()
      }

  /** B5 upgrade the reference can't express: drop replayed duplicates by
    * stream sequence within an event-time watermark — turns the sink from
    * at-least-once into effectively-once while keeping state bounded (old
    * sequence keys age out with the watermark). */
  def dedupedRaw(envelopes: DataFrame): DataFrame =
    Ingest.envelopeToRaw(envelopes)
      .withWatermark("timestamp", EnvelopeWatermark)
      .dropDuplicatesWithinWatermark("sequence")

  /** Streaming event-time tumbling window + watermark over the envelope
    * stream — the windowed continuous aggregation the reference lacks
    * (SURVEY §2.6), expressed so late data beyond the watermark is dropped
    * and state is bounded.
    *
    * On a stream the distinct-sequence count is an HLL sketch
    * (`approx_count_distinct`) in a column named `approx_seqs` —
    * mergeable state, the only distinct-count that's sane inside
    * unbounded streaming aggregation. On a batch input (the oracle
    * flavor, `r7_windowed_counts`) it is an exact `count_distinct`
    * named `n_seqs`, value-comparable against an ANSI
    * `COUNT(DISTINCT …)` oracle. Same grouping, same windows — only the
    * distinct aggregate (and its honest name) changes. */
  def windowedCounts(envelopes: DataFrame): DataFrame = {
    val (distinctAgg, distinctName) =
      if (envelopes.isStreaming)
        (approx_count_distinct(col("streamSeq")), "approx_seqs")
      else (count_distinct(col("streamSeq")), "n_seqs")
    envelopes
      .withWatermark("metaTimestamp", EnvelopeWatermark)
      // group on the window STRUCT (not .start): the event-time watermark
      // marker lives on the struct attribute; extracting the field before
      // the agg would sever it and break append-mode streaming.
      .groupBy(
        window(col("metaTimestamp"), "1 hour").as("win"),
        substring_index(col("subject"), ".", 2).as("stream"))
      .agg(count(lit(1)).as("n_msgs"), distinctAgg.as(distinctName))
      .select(col("win.start").as("hour_start"), col("stream"),
        col("n_msgs"), col(distinctName))
  }

  /** Stream-stream INTERVAL join — the continuous two-stream correlation
    * the reference (one stream → one table) cannot express: view→click
    * attribution, where every click pairs with the same user's views from
    * the preceding hour.
    *
    * Both inputs carry event-time watermarks and the join predicate
    * bounds `click_ts` to [view_ts, view_ts + 1 h], which is exactly what
    * lets Spark expire buffered join state on BOTH sides instead of
    * holding each stream forever — the canonical bounded-state
    * stream-stream join. The same code runs in batch (the
    * `r9_interval_join` oracle gate: watermarks are no-ops there) and in
    * streaming mode (`StreamingSpec` drives it from memory streams).
    *
    * `joinType = "left_outer"` adds the expiry semantics inner joins
    * don't exercise: a view with NO click inside its hour is emitted
    * null-padded only once the global watermark (min across both
    * inputs) passes its join window — i.e. exactly when its buffered
    * state is provably dead and evicted (`StreamingSpec` pins this with
    * a two-phase checkpointed run). */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    v.join(c,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select("click_id", "view_id", "user_id", "view_ts", "click_ts")
  }

  /** Streaming session windows (30-min gap) over the envelope stream —
    * `session_window` keeps per-key state bounded by the watermark; the
    * batch flavor matches the sessionize oracle semantics. */
  def sessionCounts(envelopes: DataFrame): DataFrame =
    envelopes
      .withWatermark("metaTimestamp", SessionWatermark)
      .groupBy(
        session_window(col("metaTimestamp"), "30 minutes"),
        col("subject"))
      .agg(count(lit(1)).as("n_msgs"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("subject"), col("n_msgs"))
}
