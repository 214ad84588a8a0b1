package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md). Plain
  * parquet scans — filters/projections in the queries push down into these
  * (verify with `.explain`: `PushedFilters`, pruned `ReadSchema`). */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Total bytes of the files under the corpus dir (a driver-side file
    * walk, no Spark job); `None` when the walk fails. */
  def corpusBytes(sfDir: String): Option[Long] =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try Some(s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum())
      finally s.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped as three different physical types across
    * corpus generations — INT64 TIMESTAMP(NANOS) (reads as `long` under
    * `nanosAsLong`, or as `timestamp_ntz` on builds where that conf is a
    * no-op), and TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as
    * `timestamp_ntz`). Dispatch on the LOADED schema instead of assuming
    * one: long → floor-divide nanos to micros (the truncation DuckDB
    * applies); ntz → reinterpret as an instant under the UTC session TZ
    * (value-identical to DuckDB's naive read). Every downstream consumer
    * sees one canonical `ts: timestamp`. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other — " +
          "extend Tables.events dispatch for this corpus generation")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Ensure a scan feeding a CPU-bound narrow stage has at least
    * driver-core parallelism. Locally every sf* table is one (or a few)
    * parquet split(s), so per-row lambdas (shingles, signatures, hashes)
    * would otherwise run on a single core; at scale the input's many
    * splits already provide the parallelism and this is a NO-OP — never
    * an unconditional exchange (a 100 TB corpus must not be reshuffled
    * just to pick up local parallelism; the round-8 review flagged the
    * previous `.repartition(defaultParallelism)` sites as exactly that).
    * `rdd.getNumPartitions` is driver-side split arithmetic over the
    * scan's file listing — no Spark job runs. PlanShapeSpec asserts the
    * no-op side (already-parallel input passes through `eq`-identical,
    * so no Exchange can appear above the scan). */
  def parallelized(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** [[documents]] through [[parallelized]] — the loader every
    * per-document operator family (dedup, text analysis, frequency,
    * curation, multimodal, corpus stats) starts from. */
  def documentsParallel(s: SparkSession, d: String): DataFrame =
    parallelized(documents(s, d))

  /** [[embeddings]] through [[parallelized]] (similarity / quantization
    * / PCA families). */
  def embeddingsParallel(s: SparkSession, d: String): DataFrame =
    parallelized(embeddings(s, d))
}
