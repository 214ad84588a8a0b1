package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.queries.Tables

/** Pins the ENVIRONMENT assumption: every driver-generated parquet table
  * loads through [[Tables]] with exactly the Spark schema the 77-query
  * battery was written against. Round 7 lost 15 queries when the corpus
  * silently changed `events.ts`'s physical type between rounds — this
  * spec turns the next silent testdata/Spark shift into a named failure.
  */
class TablesSpec extends SparkSpec {

  private val Names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every corpus present: the three driver SFs beside [[Sf]] and the
    * benchmark's fixed corpus, all read-only. */
  private val Corpora = {
    val testdata = new java.io.File(Sf).getParent
    (Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf") :+ "perfbench/data/corpus")
      .filter(d => new java.io.File(d).isDirectory)
  }

  private def load(dir: String, name: String): DataFrame = name match {
    case "events" => Tables.events(spark, dir)
    case other    => Tables.table(spark, dir, other)
  }

  private def fields(name: String): Map[String, DataType] =
    load(Sf, name).schema.fields.map(f => f.name -> f.dataType).toMap

  test("every corpus table loads with the schema Spark infers") {
    assert(Corpora.contains(Sf))
    for (d <- Corpora; n <- Names) {
      // events first: its ts dispatch sets the parquet conf both reads use
      if (n == "events") Tables.events(spark, d)
      val p = s"$d/$n.parquet"
      assert(Tables.table(spark, d, n).schema === spark.read.parquet(p).schema, p)
    }
  }

  test("loading every table and reading its schema starts no Spark job") {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      Names.foreach(load(Sf, _).schema)
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      // the bus delivers job starts in order: all of the loads' jobs have
      // arrived once the marker's has
      val before = Iterator.continually(started.poll(30, TimeUnit.SECONDS)).map { d =>
        assert(d != null, "the marker job's start never arrived"); d
      }.takeWhile(_ != "marker").size
      assert(before === 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a two-part directory written by Spark loads with the inferred schema") {
    val dir = Files.createTempDirectory("graft_tables").resolve("docs").toString
    val meta = new MetadataBuilder().putString("comment", "document id").build()
    spark.range(0, 20, 1, 2)
      .select(col("id").as("doc_id", meta), col("id").cast("string").as("text"))
      .write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) === 2)
    val df = Tables.parquet(spark, dir)
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.schema("doc_id").metadata === meta)
    assert(df.count() === 20L)
  }

  test("a missing path fails as Spark's own read does") {
    val missing = Files.createTempDirectory("graft_tables").resolve("absent").toString
    val ours = intercept[Exception](Tables.parquet(spark, missing))
    val spark0 = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getClass === spark0.getClass)
    assert(ours.getMessage === spark0.getMessage)
  }

  test("events loads with ts canonicalized to TIMESTAMP (instant)") {
    assert(fields("events") === Map(
      "event_id" -> LongType,
      "ts" -> TimestampType, // Tables.events dispatch, whatever the file has
      "user_id" -> LongType,
      "event_type" -> StringType,
      "value" -> DoubleType,
      "props" -> StringType))
  }

  test("events.ts dispatch yields live values, all three corpus SFs") {
    // not just sf0.001: the generation shift must be caught wherever the
    // bench (sf0.1) and verify (sf0.01) runs read
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                  "/root/testdata/sf0.1")) {
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType === TimestampType, d)
      assert(ev.filter(ev("ts").isNotNull).limit(1).count() === 1L, d)
    }
  }

  test("relational tables load with the expected schema") {
    assert(fields("region") === Map(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(fields("nation") === Map(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(fields("customer") === Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(fields("supplier") === Map(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(fields("part") === Map(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
    assert(fields("orders") === Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 loads
      // NTZ; the battery + oracle both treat these as naive-UTC
      "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType))
    assert(fields("lineitem") === Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
  }

  test("document/embedding tables load with the expected schema") {
    assert(fields("documents") === Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(fields("embeddings") === Map(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))
  }
}
