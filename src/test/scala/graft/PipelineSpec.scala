package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.pipeline.{Ddl, Ingest, Views}

/** Ingest (P1–P4) + the MV cascade (Q2–Q4) on fixture envelopes. */
class PipelineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def envelopes: DataFrame = {
    import spark.implicits._
    Seq(
      ("globex.supprt.u1.chat9.bot.user.view.ctx1",
        """{"text":"hi","meta":"view","id":"m1","timestamp":1704067200}""",
        ts("2024-01-15 10:30:45.123"), 1L),
      ("globex.supprt.u2",
        """{"no":"keys"}""", ts("2024-02-01 00:00:00"), 2L),
      ("globex.crmabc.u3.chat7",
        "not json at all", ts("2024-02-29 23:59:59.999"), 3L)
    ).toDF("subject", "data", "metaTimestamp", "streamSeq")
  }

  /** Fills `table` the way `Service`'s streams do
    * (`NatsLikeStream.writer`): a month-partitioned parquet append at the
    * table's warehouse location, outside the catalog. The next
    * `Ddl.ensureTables` adopts the new partitions. */
  private def appendAt(wh: String, table: String, df: DataFrame): Unit = {
    val sub = Ddl.tables.collectFirst { case (`table`, _, dir) => dir }.get
    Views.withMonth(df).write.mode("append").partitionBy("month").parquet(s"$wh/$sub")
  }

  test("envelopeToRaw produces the raw schema with second-truncated timestamps") {
    val raw = Ingest.envelopeToRaw(envelopes)
    assert(raw.schema.fieldNames.toSeq === Schemas.raw.fieldNames.toSeq)
    val rows = raw.orderBy("sequence").collect()
    assert(rows(0).getAs[Timestamp]("timestamp") === ts("2024-01-15 10:30:45"))
    assert(rows(0).getAs[String]("chat_id") === "chat9")
    assert(rows(1).getAs[String]("chat_id") === "")
    assert(rows(2).getAs[String]("chat_id") === "chat7")
    // metadata JSON mirrors json.Marshal(msg.Metadata()) shape
    val meta = rows(0).getAs[String]("metadata")
    assert(meta.contains(""""Stream":1""") && meta.contains(""""NumDelivered":1"""))
  }

  test("subjectFilter matches only the configured prefix (S2)") {
    val raw = Ingest.envelopeToRaw(envelopes)
    assert(Ingest.subjectFilter(raw, "globex.supprt").count() === 2)
    assert(Ingest.subjectFilter(raw, "globex.crmabc").count() === 1)
    assert(Ingest.subjectFilter(raw, "globex.supprt.u1").count() === 1)
  }

  test("deriveAnalytics: 17 columns, CH defaults, chat_id==session_id quirk") {
    val a = Views.deriveAnalytics(Ingest.envelopeToRaw(envelopes))
    assert(a.schema.fieldNames.toSeq === Schemas.analytics.fieldNames.toSeq)
    val rows = a.orderBy("subject").collect()
    val full = rows.find(_.getAs[String]("subject").endsWith("ctx1")).get
    assert(full.getAs[String]("message_text") === "hi")
    assert(full.getAs[String]("client_code") === "globex")
    assert(full.getAs[String]("project_code") === "supprt")
    assert(full.getAs[String]("user_id") === "u1")
    assert(full.getAs[String]("session_id") === "chat9")
    assert(full.getAs[String]("session_id") === full.getAs[String]("chat_id"))
    assert(full.getAs[Timestamp]("message_timestamp") === ts("2024-01-01 00:00:00"))
    val short = rows.find(_.getAs[String]("subject") === "globex.supprt.u2").get
    assert(short.getAs[String]("message_text") === "")
    assert(short.getAs[String]("session_id") === "")
    assert(short.getAs[Timestamp]("message_timestamp") === ts("1970-01-01 00:00:00"))
  }

  test("union of per-stream views covers all rows exactly once (Q3)") {
    val raw = Ingest.envelopeToRaw(envelopes)
    val u = Views.allStreams(Seq(
      Ingest.subjectFilter(raw, "globex.supprt"),
      Ingest.subjectFilter(raw, "globex.crmabc")))
    assert(u.count() === 3)
    assert(u.select("sequence").distinct().count() === 3)
  }

  test("Q9 idempotent DDL: bootstrap re-runs safely; catalog writes round-trip") {
    // the quote in the warehouse name exercises the LOCATION literal
    // escaping (a raw interpolation would fail the bootstrap parse)
    val wh = java.nio.file.Files.createTempDirectory("graft_ddl'wh").toString
    Ddl.ensureTables(spark, wh)
    Ddl.ensureTables(spark, wh) // init.sql re-run: IF NOT EXISTS, no error
    assert(Ddl.tables.forall { case (name, _, _) =>
      spark.catalog.tableExists(name) })
    val raw = Ingest.envelopeToRaw(envelopes)
    appendAt(wh, Ddl.AllStreams, raw)
    Ddl.ensureTables(spark, wh) // adopts the appended month partitions
    val got = spark.table(Ddl.AllStreams)
    assert(got.count() === 3)
    assert(got.select("month").distinct().collect().map(_.getString(0)).sorted
      === Array("202401", "202402"))
    // bootstrap again AFTER data: same table, data still served
    Ddl.ensureTables(spark, wh)
    assert(spark.table(Ddl.AllStreams).count() === 3)
    // a later append in a new month is served once a bootstrap adopts it
    val mar = raw.filter(col("sequence") === 1L)
      .withColumn("timestamp", lit(ts("2024-03-05 12:00:00")))
    appendAt(wh, Ddl.AllStreams, mar)
    assert(spark.table(Ddl.AllStreams).count() === 3)
    Ddl.ensureTables(spark, wh)
    assert(spark.table(Ddl.AllStreams).count() === 4)
    assert(spark.table(Ddl.AllStreams).filter(col("month") === "202403").count() === 1)
    // the analytics table takes the derived MV the same way
    appendAt(wh, Ddl.Analytics, Views.deriveAnalyticsVariant(raw))
    Ddl.ensureTables(spark, wh)
    assert(spark.table(Ddl.Analytics).count() === 3)
    assert(spark.table(Ddl.Analytics).schema.fieldNames.init.toSeq ===
      Schemas.analytics.fieldNames.toSeq)
  }

  test("Q9: a bootstrap on a second warehouse serves that warehouse's appends") {
    def createTime = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(Ddl.AllStreams)).createTime
    val raw = Ingest.envelopeToRaw(envelopes)
    val first = java.nio.file.Files.createTempDirectory("graft_ddl_first").toString
    Ddl.ensureTables(spark, first)
    appendAt(first, Ddl.AllStreams, raw)
    Ddl.ensureTables(spark, first)
    assert(spark.table(Ddl.AllStreams).count() === 3)
    // a re-run on the same warehouse keeps its table
    val created = createTime
    Thread.sleep(5)
    Ddl.ensureTables(spark, first)
    assert(createTime === created)
    // the same session bootstraps a second warehouse and serves its appends
    val second = java.nio.file.Files.createTempDirectory("graft_ddl_second").toString
    Ddl.ensureTables(spark, second)
    assert(spark.table(Ddl.AllStreams).count() === 0)
    appendAt(second, Ddl.AllStreams, raw.filter(col("sequence") === 1L))
    Ddl.ensureTables(spark, second)
    assert(spark.table(Ddl.AllStreams).select("sequence").collect().map(_.getLong(0))
      === Array(1L))
    // re-pointing the table leaves the first warehouse's files in place
    assert(spark.read.parquet(s"$first/raw").count() === 3)
  }

  test("ensureViews: SQL MV cascade resolves and matches Views.* (Q2-Q4)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_mv_wh").toString
    Ddl.ensureTables(spark, wh)
    val raw = Ingest.envelopeToRaw(envelopes)
    val supprt = Ingest.subjectFilter(raw, "globex.supprt")
    val crmabc = Ingest.subjectFilter(raw, "globex.crmabc")
    appendAt(wh, Ddl.StreamSupprt, supprt)
    appendAt(wh, Ddl.StreamCrmabc, crmabc)
    Ddl.ensureTables(spark, wh)
    Ddl.ensureViews(spark)
    Ddl.ensureViews(spark) // CREATE OR REPLACE: idempotent re-bootstrap
    // Q2: pass-through views project exactly the raw columns
    assert(spark.table(Ddl.SupprtMv).schema.fieldNames.toSeq ===
      Schemas.raw.fieldNames.toSeq)
    assert(spark.table(Ddl.SupprtMv).count() === 2)
    assert(spark.table(Ddl.CrmabcMv).count() === 1)
    // Q3: the union view serves every stream row exactly once
    val uv = spark.table(Ddl.AllStreamsMv)
    assert(uv.schema.fieldNames.toSeq === Schemas.raw.fieldNames.toSeq)
    val expectUnion = Views.allStreams(Seq(supprt, crmabc))
    assert(uv.orderBy("sequence").collect().toSeq ===
      expectUnion.orderBy("sequence").collect().toSeq)
    // Q4: the SQL analytics view row-for-row equals the Scala derivation
    val av = spark.table(Ddl.AnalyticsMv)
    assert(av.schema.fieldNames.toSeq === Schemas.analytics.fieldNames.toSeq)
    assert(av.orderBy("subject").collect().toSeq ===
      Views.deriveAnalytics(expectUnion).orderBy("subject").collect().toSeq)
  }
}
