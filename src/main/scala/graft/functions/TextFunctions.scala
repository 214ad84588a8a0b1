package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._
import graft.expressions.PolyHash

/** Text-analysis primitives for the LLM-data-pipeline extensions, built
  * exclusively from codegen'd built-ins / higher-order functions — no UDFs,
  * so every operator scales as a narrow projection.
  *
  * Cross-engine determinism: the rolling polynomial hash and the md5-based
  * MinHash are defined so the identical computation is expressible in ANSI
  * SQL (DuckDB oracle) — integer arithmetic and lexicographic min over hex
  * digests only.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Rolling polynomial hash over characters:
    * h_0 = 0; h_{i+1} = (31·h_i + ascii(c_i)) mod 1e9+7.
    * A document fingerprint usable for grouping/sharding; stays in a long.
    * Codegen'd ([[graft.expressions.PolyHash]]); TextFunctionsSpec pins
    * it bit-for-bit against the interpreted reference fold. */
  def polyHash(text: Column): Column =
    GraftSql.column(PolyHash(GraftSql.expression(text)))

  /** Content-defined chunk lengths (stateless gear-style cut rule):
    * boundary after position j iff the trailing 8-char window's
    * [[polyHash]] has its low 5 bits zero. Codegen'd one-pass loop
    * ([[graft.expressions.CdcChunks]]); `GraftProperties` pins it
    * against the driver-side model on arbitrary strings. */
  def cdcChunks(text: Column): Column =
    GraftSql.column(graft.expressions.CdcChunks(GraftSql.expression(text)))

  /** Word n-gram shingles (default 3): the unit set for Jaccard/MinHash
    * near-dup detection. Distinct, so shingle multiplicity doesn't bias
    * similarity. Codegen'd ([[graft.expressions.WordShingles]]);
    * TextFunctionsSpec pins it against the reference HOF pipeline. */
  def shingles(text: Column, n: Int = 3): Column =
    GraftSql.column(graft.expressions.WordShingles(
      GraftSql.expression(text), n))

  /** Word n-grams WITH multiplicity over a token-array column — the
    * building block of repetition analysis (which must NOT distinct it:
    * multiplicity is the signal) and of TextFunctionsSpec's reference
    * [[shingles]] pipeline (which does). */
  def ngramsFromTokens(t: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(t) - lit(n - 1)),
      i => concat_ws(" ",
        (0 until n).map(j => element_at(t, (i + lit(j)).cast("int"))): _*))
    // sequence(1, k) is descending for k < 1, so short docs need the guard.
    when(size(t) < n, array().cast("array<string>")).otherwise(grams)
  }

  /** The FULL MinHash signature (seeds 0..numHashes-1) in one pass over
    * the shingle array ([[graft.expressions.MinHashSig]]) — element b is
    * the lexicographic min of the seeded digests md5("s<b>:" ‖ shingle),
    * value-identical to the interpreted per-seed reference TextFunctionsSpec
    * pins it against. Hex-string min is engine-portable (no 64-bit
    * unsigned arithmetic needed); seeding by prefix gives independent
    * permutations. A narrow projection: unlike the
    * explode → `min(md5)` groupBy it replaces in the LSH pipeline, no
    * row per shingle ever crosses an exchange. Null for empty/all-null
    * arrays (matching the exploded doc vanishing from a groupBy). */
  def minhashSig(shingleArr: Column, numHashes: Int): Column =
    GraftSql.column(
      graft.expressions.MinHashSig(GraftSql.expression(shingleArr), numHashes))

  /** One-pass codegen'd 64-bit SimHash ([[graft.expressions.SimHash64]]):
    * four seeded 16-bit simhashes concatenated (seed char `'0'+s`
    * prepended to each token feeds bits 16s..16s+15) — value-identical
    * to exploding tokens and sign-summing seeded [[polyHash]] bits in a
    * groupBy (`HofReference.simhashViaAgg`, the identity-spec
    * reference), but a narrow projection: no explode, no shuffle. */
  def simhash64(text: Column): Column =
    GraftSql.column(graft.expressions.SimHash64(GraftSql.expression(text)))

  /** 64-bit average-hash perceptual fingerprint over the stub-decoded
    * byte stream ([[graft.expressions.AHash64]]): 64 index buckets, bit k
    * set iff bucket k's mean exceeds the global mean (exact integer
    * comparison). The media analogue of [[simhash64]] — consumed by
    * [[graft.operators.Multimodal.mediaDups]]'s banded Hamming join;
    * `GraftProperties` pins it against a driver-side model. */
  def ahash64(text: Column): Column =
    GraftSql.column(graft.expressions.AHash64(GraftSql.expression(text)))

  /** ClickHouse-free stopword list used by quality scoring. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
}
