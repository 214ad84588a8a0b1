package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet corpus (TESTDATA.md): parquet
  * scans whose schema comes from one footer read on the driver
  * ([[parquet]]), as the reference's DDL declares each table's schema
  * once. Left to infer it, `spark.read.parquet` starts a one-task Spark job
  * per read to open that same footer (about 85 ms per read on a warm
  * 4-core `local` session). Filters/projections in the queries push down
  * into these scans (verify with `.explain`: `PushedFilters`, pruned
  * `ReadSchema`). */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet file or directory scanned with [[footerSchema]]; every
    * parquet read in `src/main/scala` goes through here (`tools/gate.sh`).
    * With no data file to read a footer from (a missing path, an empty or
    * partitioned directory), Spark infers the schema as before and raises
    * its usual error where there is none. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema `spark.read.parquet(path)` infers, without its Spark job;
    * `None` when `path` matches no data file. Non-merging inference reads
    * one footer: the file itself, or a directory's first data file in
    * path order (hidden `_`/`.` names skipped, as Spark's file index skips
    * them). A partitioned directory has no data file at its top, so its
    * schema is left to inference. The footer goes through the conversion
    * inference applies, `ParquetFileFormat.readSchemaFromFooter`: Spark's
    * row-metadata schema if the writer left one, else the parquet types
    * converted under the five session confs inference passes (e.g.
    * `nanosAsLong`), the converter's other parameters at their defaults. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_"))
      }
      .minByOption(_.getPath.toString).map { file =>
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
      }
  }

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
