package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._
import graft.expressions.{VecDot, VecL2Sq}

/** Embedding-vector primitives over `array<float>`/`array<double>` columns.
  *
  * Numerical determinism: every reduction is a *sequential left fold in
  * array order over doubles*, so the identical expression in another
  * engine (the DuckDB oracle) produces bit-identical IEEE results — no
  * tolerance needed in compares.
  *
  * The hot path ([[dot]]) is the codegen'd [[VecDot]] catalyst expression;
  * VectorFunctionsSpec pins it bit-for-bit against the interpreted
  * higher-order-function reference fold.
  */
object VectorFunctions {

  private def asDoubles(a: Column): Column = a.cast("array<double>")

  /** Σ aᵢ·bᵢ — codegen'd tight loop, left-to-right accumulation. */
  def dot(a: Column, b: Column): Column =
    GraftSql.column(VecDot(
      GraftSql.expression(asDoubles(a)), GraftSql.expression(asDoubles(b))))

  /** Top-k candidate ids of `cands` (array<struct<id, v>>) by
    * (dot(vec, v) DESC, id ASC) — the shuffle-free argmax/rank the ANN
    * assignment stages use; see [[graft.expressions.TopDots]]. */
  def topDots(vec: Column, cands: Column, k: Int): Column =
    GraftSql.column(graft.expressions.TopDots(
      GraftSql.expression(vec), GraftSql.expression(cands), k))

  /** Σ (aᵢ−bᵢ)² — codegen'd tight loop, left-to-right accumulation. */
  def l2sq(a: Column, b: Column): Column =
    GraftSql.column(VecL2Sq(
      GraftSql.expression(asDoubles(a)), GraftSql.expression(asDoubles(b))))

  /** ‖a‖₂ */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** a / ‖a‖ — compute once per row, so pair joins can take a single
    * [[dot]] per pair instead of three (dot + two norms). `normCol` must be
    * a projected column (not an inline sub-expression) or the lambda would
    * re-evaluate the norm per element. */
  def unit(a: Column, normCol: Column): Column =
    transform(asDoubles(a), x => x / normCol)

  /** Deterministic pseudo-random hyperplane component r(p, i) — a Lehmer
    * LCG step on the flattened index, mapped to [-0.5, 0.5). Integer
    * arithmetic + one double division, so any engine reproduces it.
    * dim: vector dimensionality; p: plane index. */
  def hyperplane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      ((1103515245L * (p.toLong * dim + i) + 12345L) % 2147483647L).toDouble /
        2147483647.0 - 0.5
    }

  /** Random-hyperplane (SimHash-for-vectors) LSH signature: one sign bit
    * per plane, packed into a long. At 100 TB scale this is the shuffle
    * key that turns O(N²) similarity into per-bucket work. Computed on the
    * RAW vector (sign is scale-invariant mathematically, but the oracle
    * computes on raw values — keep the same rounding behavior). */
  def lshSignature(vec: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val plane = typedLit(hyperplane(p, dim))
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
