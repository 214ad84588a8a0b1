package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{ngramsFromTokens, polyHash, tokens}
import graft.queries.Tables

/** Interpreted higher-order-function reference forms of the codegen'd
  * primitives in `graft.functions`: each evaluates a boxed lambda per
  * element, so none belongs on a corpus-scale path. The identity specs
  * (TextFunctionsSpec, VectorFunctionsSpec, ProductQuantizationSpec,
  * OperatorsSpec) pin the fast forms against them. */
object HofReference {

  /** Reference fold for `TextFunctions.polyHash`:
    * h_0 = 0; h_{i+1} = (31·h_i + ascii(c_i)) mod 1e9+7. */
  def polyHashHof(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c).cast("long")) % lit(1000000007L))

  /** Reference pipeline for `TextFunctions.shingles`: distinct word
    * n-grams (default 3). */
  def shinglesHof(text: Column, n: Int = 3): Column =
    array_distinct(ngramsFromTokens(tokens(text), n))

  /** One MinHash value: lexicographic min of seeded md5 digests of the
    * shingle set — element `seed` of `TextFunctions.minhashSig`. Hex-string
    * min is engine-portable (no 64-bit unsigned arithmetic needed);
    * seeding by prefix gives independent permutations. */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr,
      s => md5(concat(lit(s"s$seed:"), s))))

  /** Reference fold for `VectorFunctions.dot`: same order, interpreted
    * HOFs. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Reference fold for `VectorFunctions.l2sq`: same order, interpreted
    * HOFs. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** 64-bit SimHash layout: [[SimhashSeeds]] seeded hashes of
    * [[SimhashBitsPerSeed]] bits each (see `graft.expressions.SimHash64`). */
  val SimhashBits = 64
  val SimhashBitsPerSeed = 16
  val SimhashSeeds = 4

  /** Reference formulation of `Dedup.simhash` for the bit-identity spec:
    * explode tokens → four seeded per-token polyhashes (seed char
    * prepended, the same rolling-hash identity the expression uses) → 64
    * partial-aggregated sign sums → pack. Value-identical by
    * construction; one aggregation row per token. */
  def simhashViaAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val bitSums = (0 until SimhashBits).map { b =>
      val s = b / SimhashBitsPerSeed
      val k = b % SimhashBitsPerSeed
      sum(expr(s"2 * (shiftright(h$s, $k) & 1) - 1")).as(s"s$b")
    }
    val pack = (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val seeded = (0 until SimhashSeeds).map(s =>
      polyHash(concat(lit(('0' + s).toChar.toString), col("w"))).as(s"h$s"))
    Tables.documentsParallel(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id") +: seeded: _*)
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), pack.as("simhash"))
      .orderBy("doc_id")
  }
}
