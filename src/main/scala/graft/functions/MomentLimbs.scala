package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** 128-bit (two-long-limb) signed accumulation — the exact-integer
  * arithmetic behind [[MomentPairsAgg]] / [[MomentDiagAgg]]. A limb pair
  * `(hi, lo)` represents `hi·2⁶⁴ + (lo as unsigned)`; sums stay exact to
  * ±1.7e38, far past the decimal(25,0) ceiling the aggregation it
  * replaces carried (1e25) and past any corpus size (1e12 vectors ×
  * 1e12-magnitude products = 1e24).
  *
  * WHY THIS EXISTS (optimization round 15, guide §2.3 "shuffle fewer
  * bytes" / §1.2 "the distributed algorithm" / codegen): the x38/x73/x74
  * moment pass was a DOUBLE `posexplode` — Dim²/2 = 2080 rows fanned out
  * PER VECTOR — into a (i, j)-keyed hash aggregate summing
  * `decimal(25,0)` products. Precision 25 exceeds Spark's compact-long
  * decimal ceiling (18 digits), so every one of the 2080·N updates
  * allocated and added java.math.BigDecimal objects behind a per-row
  * group lookup. These aggregators fold a whole vector into one bounded
  * buffer row — no fan-out rows exist, no BigDecimal is ever allocated,
  * and partial aggregation ships ONE ≤34 KB buffer per partition — while
  * producing bit-identical integers: the same `floor(v·scale + 0.5)`
  * quantization ([[VecSumScaled]]'s engine-portable rounding), the same
  * long products, summed exactly (128-bit, order-free).
  */
object Limb128 {

  /** Add the signed 64-bit value `p` into the limb pair at
    * `(buf(hiIdx), buf(loIdx))`: unsigned low-limb add with carry, sign
    * extension into the high limb. */
  @inline def addSigned(buf: Array[Long], hiIdx: Int, loIdx: Int,
      p: Long): Unit = {
    val lo = buf(loIdx)
    val r = lo + p
    // carry out of the unsigned 64-bit addition lo + p
    val carry = ((lo & p) | ((lo | p) & ~r)) >>> 63
    buf(hiIdx) += (p >> 63) + carry
    buf(loIdx) = r
  }

  /** Merge limb pair (`hiB`, `loB`) into `(buf(hiIdx), buf(loIdx))` —
    * low limbs add unsigned (with carry), high limbs add signed. */
  @inline def merge(buf: Array[Long], hiIdx: Int, loIdx: Int,
      hiB: Long, loB: Long): Unit = {
    val lo = buf(loIdx)
    val r = lo + loB
    val carry = ((lo & loB) | ((lo | loB) & ~r)) >>> 63
    buf(hiIdx) += hiB + carry
    buf(loIdx) = r
  }
}

/** Upper-triangle second-moment pass over raw embedding arrays: one
  * corpus read producing, exactly, everything
  * [[graft.operators.Quantization]]'s momentPass used three corpus
  * aggregations (and a 2080× row fan-out) to build — the row count, the
  * per-dimension sums Σ svᵢ, and the upper-triangle pair products
  * Σ svᵢ·svⱼ (i ≤ j), where `sv = floor(v·scale + 0.5)` is the
  * engine-portable fixed-point quantization.
  *
  * Buffer layout (single long array, one per partition under partial
  * aggregation): `[0]` row count; `[1 .. 2·dim]` per-dimension sum limbs
  * (hi then lo, interleaved); then `dim·(dim+1)/2` pair-product limb
  * pairs in row-major upper-triangle order (i outer, j ≥ i inner).
  *
  * Null arrays count toward `n` and contribute nothing else — exactly
  * the old pass's `count(lit(1))` over all rows + `posexplode` (which
  * emits nothing for null). Elements past `dim` are ignored (the
  * declared embedding schema is fixed-width [[graft.operators.Similarity.Dim]]).
  * An element whose scaled value is past ±[[MomentPairsAgg.MaxScaled]]
  * fails the aggregation with a message naming its dimension and value.
  */
final class MomentPairsAgg(scale: Double, dim: Int)
    extends Aggregator[Array[Double], Array[Long], MomentPairsResult] {

  private val nPairs = dim * (dim + 1) / 2
  private val pairBase = 1 + 2 * dim

  override def zero: Array[Long] = new Array[Long](1 + 2 * dim + 2 * nPairs)

  override def reduce(buf: Array[Long], a: Array[Double]): Array[Long] = {
    buf(0) += 1L
    if (a != null) {
      val n = math.min(dim, a.length)
      val sv = new Array[Long](n)
      var i = 0
      while (i < n) {
        sv(i) = math.floor(a(i) * scale + 0.5).toLong
        require(sv(i) >= -MomentPairsAgg.MaxScaled &&
          sv(i) <= MomentPairsAgg.MaxScaled,
          s"MomentPairsAgg: dimension $i scales ${a(i)} to ${sv(i)}, past " +
            s"±${MomentPairsAgg.MaxScaled}, so its pair products would " +
            "overflow a Long")
        Limb128.addSigned(buf, 1 + 2 * i, 2 + 2 * i, sv(i))
        i += 1
      }
      i = 0
      var base = pairBase
      while (i < n) {
        val svi = sv(i)
        var j = i
        while (j < n) {
          Limb128.addSigned(buf, base, base + 1, svi * sv(j))
          j += 1
          base += 2
        }
        // rows shorter than dim skip the (i, j ≥ n) tail of row i
        base += 2 * (dim - n)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    a(0) += b(0)
    var k = 1
    while (k < a.length) {
      Limb128.merge(a, k, k + 1, b(k), b(k + 1))
      k += 2
    }
    a
  }

  override def finish(r: Array[Long]): MomentPairsResult = {
    val sumHi = new Array[Long](dim)
    val sumLo = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      sumHi(i) = r(1 + 2 * i); sumLo(i) = r(2 + 2 * i)
      i += 1
    }
    val pi = new Array[Int](nPairs)
    val pj = new Array[Int](nPairs)
    val pairHi = new Array[Long](nPairs)
    val pairLo = new Array[Long](nPairs)
    var k = 0
    i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        pi(k) = i; pj(k) = j
        pairHi(k) = r(pairBase + 2 * k); pairLo(k) = r(pairBase + 2 * k + 1)
        j += 1; k += 1
      }
      i += 1
    }
    MomentPairsResult(r(0), sumHi.toSeq, sumLo.toSeq,
      pi.toSeq, pj.toSeq, pairHi.toSeq, pairLo.toSeq)
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[MomentPairsResult] =
    ExpressionEncoder[MomentPairsResult]()
}

object MomentPairsAgg {

  /** Largest |sv| whose square fits a Long (⌊√(2⁶³ − 1)⌋): a pair
    * product svᵢ·svⱼ of two in-bound elements cannot overflow, and
    * [[MomentPairsAgg]] rejects an element past it instead of wrapping.
    * At a scale of 10⁶ that is any |v| above about 3037. */
  val MaxScaled = 3037000499L
}

/** [[MomentPairsAgg]]'s one-row output: the exact limb sums, positionally
  * aligned arrays (`pi(k), pj(k)` index the k-th upper-triangle pair). */
case class MomentPairsResult(n: Long, sumHi: Seq[Long], sumLo: Seq[Long],
    pi: Seq[Int], pj: Seq[Int], pairHi: Seq[Long], pairLo: Seq[Long])

/** Diagonal-only sibling of [[MomentPairsAgg]] for x45/x77: per-dimension
  * sums Σ svᵢ and squares Σ svᵢ², plus the row count, in one corpus read
  * — replaces a 64× `posexplode` into a dim-keyed decimal(25,0) hash
  * aggregate. Same quantization, same exactness, same null semantics,
  * and the same per-element bound [[MomentPairsAgg.MaxScaled]]. */
final class MomentDiagAgg(scale: Double, dim: Int)
    extends Aggregator[Array[Double], Array[Long], MomentDiagResult] {

  override def zero: Array[Long] = new Array[Long](1 + 4 * dim)

  override def reduce(buf: Array[Long], a: Array[Double]): Array[Long] = {
    buf(0) += 1L
    if (a != null) {
      val n = math.min(dim, a.length)
      var i = 0
      while (i < n) {
        val sv = math.floor(a(i) * scale + 0.5).toLong
        require(sv >= -MomentPairsAgg.MaxScaled && sv <= MomentPairsAgg.MaxScaled,
          s"MomentDiagAgg: dimension $i scales ${a(i)} to $sv, past " +
            s"±${MomentPairsAgg.MaxScaled}, so its square would overflow a Long")
        Limb128.addSigned(buf, 1 + 2 * i, 2 + 2 * i, sv)
        Limb128.addSigned(buf, 1 + 2 * dim + 2 * i, 2 + 2 * dim + 2 * i,
          sv * sv)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    a(0) += b(0)
    var k = 1
    while (k < a.length) {
      Limb128.merge(a, k, k + 1, b(k), b(k + 1))
      k += 2
    }
    a
  }

  override def finish(r: Array[Long]): MomentDiagResult = {
    val sumHi = new Array[Long](dim)
    val sumLo = new Array[Long](dim)
    val sqHi = new Array[Long](dim)
    val sqLo = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      sumHi(i) = r(1 + 2 * i); sumLo(i) = r(2 + 2 * i)
      sqHi(i) = r(1 + 2 * dim + 2 * i); sqLo(i) = r(2 + 2 * dim + 2 * i)
      i += 1
    }
    MomentDiagResult(r(0), sumHi.toSeq, sumLo.toSeq, sqHi.toSeq, sqLo.toSeq)
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[MomentDiagResult] =
    ExpressionEncoder[MomentDiagResult]()
}

/** [[MomentDiagAgg]]'s one-row output. */
case class MomentDiagResult(n: Long, sumHi: Seq[Long], sumLo: Seq[Long],
    sqHi: Seq[Long], sqLo: Seq[Long])
