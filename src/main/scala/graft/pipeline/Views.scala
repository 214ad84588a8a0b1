package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._
import graft.model.Schemas

/** The materialized-view cascade of the reference
  * (`clickhouse-config/init/init.sql:49-121`), as pure
  * `DataFrame => DataFrame` functions. Each is usable both in batch and
  * under Structured Streaming (stateless projections — exactly the
  * incremental per-insert-block semantics of ClickHouse MVs).
  */
object Views {

  /** Q2+Q3: the two per-stream pass-through MVs (`init.sql:49-58`,
    * `:62-71`) share one `TO nats_data_all_streams` target — an implicit
    * UNION ALL of the streams. */
  def allStreams(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_ unionByName _)

  /** Q4–Q8: the analytics MV (`init.sql:100-121`) — 5 pass-through columns
    * plus 4 JSON extractions and 8 subject segments. One narrow projection;
    * never a shuffle.
    *
    * Note `sequence` is dropped: the analytics table (`init.sql:74-96`)
    * does not carry it. */
  private val segNames = Seq(
    "client_code", "project_code", "user_id", "session_id",
    "message_from", "message_to", "message_type", "message_context")

  /** The SHARED MV core: ClickHouse '' / epoch-0 defaults over the four
    * extracted payload keys (however they were parsed — the one thing
    * the two flavors differ in) plus the 8 subject segments. Both
    * flavors parse the payload exactly ONCE per row upstream of this. */
  private def analyticsColumns(text: org.apache.spark.sql.Column,
      meta: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(
      col("timestamp"), col("subject"), col("chat_id"),
      col("metadata"), col("data"),
      chString(text).as("message_text"),
      chString(meta).as("message_meta"),
      chString(id).as("message_id"),
      chEpochTimestamp(ts).as("message_timestamp")
    ) ++ segNames.zipWithIndex.map { case (name, i) =>
      subjectSegment(col("subject"), i + 1).as(name)
    }

  def deriveAnalytics(raw: DataFrame): DataFrame =
    // json_tuple parses the payload ONCE for all four keys —
    // get_json_object would re-parse it per key on the hottest projection
    // in the pipeline (values and null semantics are identical; the
    // ClickHouse '' / epoch-0 defaults wrap the raw extracts in the
    // shared core)
    raw
      .select(col("*"),
        json_tuple(col("data"), "text", "meta", "id", "timestamp")
          .as(Seq("_jx_text", "_jx_meta", "_jx_id", "_jx_ts")))
      .select(analyticsColumns(col("_jx_text"), col("_jx_meta"),
        col("_jx_id"), col("_jx_ts")): _*)

  /** Flavor switch: the Variant derivation is the PRIMARY path (the
    * engine-native mapping of the analytics table's `data JSON` column);
    * the `json_tuple` string path stays as the fallback for engines or
    * readers without VariantType. Output schema and values are identical
    * either way — `StreamingSpec` pins the equivalence streaming-vs-
    * batch, and `r4`/`r10` oracle-gate one flavor each. */
  def deriveAnalytics(raw: DataFrame, variant: Boolean): DataFrame =
    if (variant) deriveAnalyticsVariant(raw) else deriveAnalytics(raw)

  require(Schemas.analyticsDerived.size == 12)

  /** [[deriveAnalytics]] with the payload parsed ONCE into a
    * `VariantType` value (`try_parse_json`) and every extraction reading
    * the variant — the faithful Spark 4.1 mapping of the analytics
    * table's `data JSON` column (`init.sql:79-80`), where
    * [[deriveAnalytics]] uses the StringType + `json_tuple` fallback
    * (SURVEY §1.2). Still a stateless narrow projection, so it runs
    * identically under Structured Streaming (ClickHouse's per-insert-
    * block MV semantics) and batch; parse failure degrades the variant
    * to null — the extractions then yield the same '' / epoch-0
    * ClickHouse defaults as the string path on malformed payloads.
    *
    * Output schema and values are identical to [[deriveAnalytics]];
    * `StreamingSpec` pins the equivalence streaming-vs-batch. The
    * oracle-gated batch flavor with metadata-envelope extractions is
    * `r10_analytics_variant` ([[graft.queries.RefParity.analyticsVariant]]). */
  def deriveAnalyticsVariant(raw: DataFrame): DataFrame =
    raw
      .withColumn("_dv", try_parse_json(col("data")))
      .select(analyticsColumns(
        try_variant_get(col("_dv"), "$.text", "string"),
        try_variant_get(col("_dv"), "$.meta", "string"),
        try_variant_get(col("_dv"), "$.id", "string"),
        try_variant_get(col("_dv"), "$.timestamp", "string")): _*)

  /** Q1 physical layout: month partition column for
    * `PARTITION BY toYYYYMM(timestamp)` (`init.sql:18,31,45,95`). At scale
    * this is the partition-pruning axis: a reader filtering on a time range
    * scans only the touched months. */
  def withMonth(df: DataFrame): DataFrame =
    df.withColumn("month", toYYYYMM(col("timestamp")))
}
