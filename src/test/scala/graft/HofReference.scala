package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{ngramsFromTokens, tokens}

/** Interpreted higher-order-function reference forms of the codegen'd
  * primitives in `graft.functions`: each evaluates a boxed lambda per
  * element, so none belongs on a corpus-scale path. The identity specs
  * (TextFunctionsSpec, VectorFunctionsSpec, ProductQuantizationSpec)
  * pin the fast forms against them. */
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
}
