package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.Schemas

/** Q9: idempotent DDL — the reference's `CREATE TABLE IF NOT EXISTS`
  * bootstrap (`init.sql:8,21,35,74`, re-runnable on every service start)
  * as Spark catalog tables.
  *
  * Each table is `USING parquet PARTITIONED BY (month)` at an explicit
  * LOCATION, so the catalog entry is metadata over the same
  * month-partitioned layout [[graft.streaming.NatsLikeStream.writer]]
  * appends through [[Views.withMonth]] — readers
  * get catalog-driven partition pruning on the `toYYYYMM` axis exactly
  * like the reference's `PARTITION BY toYYYYMM(timestamp)`.
  *
  * Table names mirror the reference (`init.sql`); the two per-stream raw
  * tables share [[Schemas.raw]], `analitics_data` [[Schemas.analytics]]
  * (reference typo preserved — a user's queries name THAT table).
  */
object Ddl {

  val StreamSupprt = "nats_data_stream_supprt"
  val StreamCrmabc = "nats_data_stream_crmabc"
  val AllStreams = "nats_data_all_streams"
  val Analytics = "analitics_data"

  /** The four reference tables: name, schema, and warehouse subdirectory.
    * `raw`/`analytics` are the SAME directories [[graft.streaming.NatsLikeStream]]
    * streams into, so the catalog is metadata over the live layout. */
  val tables: Seq[(String, StructType, String)] = Seq(
    (StreamSupprt, Schemas.raw, "stream_supprt"),
    (StreamCrmabc, Schemas.raw, "stream_crmabc"),
    (AllStreams, Schemas.raw, "raw"),
    (Analytics, Schemas.analytics, "analytics"))

  private def withMonthField(s: StructType): StructType =
    StructType(s.fields :+ StructField("month", StringType, nullable = true))

  /** SQL string-literal escape for the LOCATION clause: backslash-escape
    * the two characters Spark's default (non-`escapedStringLiterals`)
    * parser treats specially, so a path containing a quote round-trips
    * instead of breaking the bootstrap DDL. */
  private[pipeline] def sqlString(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Run the bootstrap; safe to call any number of times (IF NOT EXISTS).
    * A table the session bound to another warehouse's location is bound
    * to this one's instead. Existing month directories at the locations
    * are adopted via partition recovery: the streams append month
    * partitions at the locations outside the catalog, and a re-run
    * surfaces the new ones.
    *
    * The warehouse may live on any Hadoop filesystem (`hdfs://`,
    * `s3a://`, local paths alike): directories are created through the
    * `FileSystem` API resolved from the session's Hadoop conf, never
    * `java.nio` (local-only). */
  def ensureTables(spark: SparkSession, warehouse: String): Unit =
    tables.foreach { case (name, schema, sub) =>
      // MSCK scans the location; make sure it exists on first bootstrap.
      // A bare local path goes through File.toURI so characters that are
      // URI metacharacters in Hadoop's Path parser ('%', etc.) survive;
      // anything with an explicit scheme is already a URI.
      val base =
        if (warehouse.contains("://")) new org.apache.hadoop.fs.Path(warehouse)
        else new org.apache.hadoop.fs.Path(new java.io.File(warehouse).toURI)
      val loc = new org.apache.hadoop.fs.Path(base, sub)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(loc)
      val qualified = fs.makeQualified(loc)
      // IF NOT EXISTS keeps a table a bootstrap on another warehouse made:
      // drop it (external, so its files stay) and create it here
      val id = TableIdentifier(name)
      val catalog = spark.sessionState.catalog
      if (catalog.tableExists(id) && catalog.getTableMetadata(id).location != qualified.toUri)
        spark.sql(s"DROP TABLE $name")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name (${withMonthField(schema).toDDL})
           |USING parquet
           |PARTITIONED BY (month)
           |LOCATION '${sqlString(qualified.toString)}'""".stripMargin)
      // adopt pre-existing partition directories (MSCK), also idempotent
      spark.sql(s"MSCK REPAIR TABLE $name")
    }

  /** Reference MV names (`init.sql:49,62,100`), surfaced as Spark views. */
  val SupprtMv = "nats_data_stream_supprt_mv"
  val CrmabcMv = "nats_data_stream_crmabc_mv"
  val AllStreamsMv = "nats_data_all_streams_mv"
  val AnalyticsMv = "analitics_data_mv"

  /** Q2–Q4 as a SQL-FACING surface: the reference's MV cascade
    * (`init.sql:49-58`, `:62-71`, `:100-121`) registered as catalog
    * views, so any SQL client (spark.sql, a Thrift/JDBC endpoint) can
    * query the same derivations [[Views.allStreams]] /
    * [[Views.deriveAnalytics]] compute — without touching Scala:
    *
    *  - `<stream>_mv`: the two pass-through projections (Q2);
    *  - `nats_data_all_streams_mv`: their UNION ALL — the implicit
    *    union the shared `TO nats_data_all_streams` target creates (Q3);
    *  - `analitics_data_mv`: the 16-column analytics derivation (Q4),
    *    with the ClickHouse `''` / epoch-0 defaults
    *    ([[graft.functions.ChFunctions]] semantics, in SQL).
    *
    * ClickHouse MVs are insert-time triggers writing into their target
    * tables; Spark views are query-time. Same rows either way — these
    * views ARE the MV SELECTs over live stream tables, so they serve
    * the cascade's results even before (or without) a streaming job
    * materializing the physical `nats_data_all_streams` /
    * `analitics_data` tables through [[graft.streaming.NatsLikeStream]].
    *
    * Requires the stream tables to exist (run [[ensureTables]] first —
    * Spark analyzes a view's query at CREATE time). CREATE OR REPLACE,
    * so re-bootstrapping is idempotent like everything else here. */
  def ensureViews(spark: SparkSession): Unit = {
    val rawCols = Schemas.raw.fieldNames.map(n => s"`$n`").mkString(", ")
    spark.sql(s"""CREATE OR REPLACE VIEW $SupprtMv AS
                 |SELECT $rawCols FROM $StreamSupprt""".stripMargin)
    spark.sql(s"""CREATE OR REPLACE VIEW $CrmabcMv AS
                 |SELECT $rawCols FROM $StreamCrmabc""".stripMargin)
    spark.sql(s"""CREATE OR REPLACE VIEW $AllStreamsMv AS
                 |SELECT $rawCols FROM $SupprtMv
                 |UNION ALL
                 |SELECT $rawCols FROM $CrmabcMv""".stripMargin)
    // the analytics MV SELECT (init.sql:104-121): json_tuple parses the
    // payload once for all four keys (the exact plan Views.deriveAnalytics
    // builds), '' / epoch-0 ClickHouse defaults, 1-indexed '' -padded
    // subject segments; `sequence` is dropped (the target table has none)
    val segs = Schemas.analyticsDerived.drop(4).zipWithIndex.map {
      case (n, i) =>
        s"coalesce(try_element_at(split(subject, '\\\\.'), ${i + 1}), '') AS $n"
    }
    spark.sql(
      s"""CREATE OR REPLACE VIEW $AnalyticsMv AS
         |SELECT `timestamp`, subject, chat_id, metadata, data,
         |  coalesce(jx_text, '') AS message_text,
         |  coalesce(jx_meta, '') AS message_meta,
         |  coalesce(jx_id, '') AS message_id,
         |  timestamp_seconds(coalesce(try_cast(jx_ts AS LONG), 0L))
         |    AS message_timestamp,
         |  ${segs.mkString(",\n  ")}
         |FROM $AllStreamsMv
         |LATERAL VIEW json_tuple(data, 'text', 'meta', 'id', 'timestamp') jx
         |  AS jx_text, jx_meta, jx_id, jx_ts""".stripMargin)
  }
}
