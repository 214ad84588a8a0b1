package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit average-hash (aHash) perceptual fingerprint over a BYTE
  * stream, as a whole-stage-codegen'd two-pass loop.
  *
  * The classical aHash decodes an image, shrinks it to an 8×8 grid, and
  * sets bit k iff cell k's mean intensity exceeds the global mean. Here
  * the "decoded pixel stream" is the blob's raw bytes (the deterministic
  * stub decode of [[graft.operators.Multimodal.FakeDecoder]] — unsigned
  * values 0..255, exactly a pixel channel's range), and the 8×8 grid
  * becomes 64 contiguous index buckets: byte i of an n-byte stream lands
  * in bucket (i·64)/n (integer division — the same coordinate
  * contraction a resize kernel performs). Bit k is set iff bucket k's
  * mean exceeds the global mean, decided in exact integer arithmetic
  * (`sum_k · n > total · count_k` — no float division, so the DuckDB
  * oracle reproduces every bit; the products are compared in 128 bits
  * via `Math.multiplyHigh`, since `total · count_k` exceeds Long for
  * streams around ≥ 9·10⁷ bytes and a silent Long wrap would diverge
  * from the oracle's overflow-checked arithmetic).
  * A STRING input hashes its UTF-8 BYTES (`UTF8String.getBytes` — the
  * same bytes `encode(text)` yields in either engine), so there is no
  * code-unit-vs-code-point question for any input: both engines always
  * see the identical byte stream, ASCII or not.
  * Near-identical byte streams
  * (crops, pad/truncate edits, small splices) move few bucket means, so
  * they land within a small Hamming distance — the property
  * [[graft.operators.Multimodal.mediaDups]]'s banded join exploits.
  * A production build swaps the stub stream for real decoded pixels and
  * the bucketing/threshold logic is unchanged.
  *
  * Empty input hashes to 0 (no bucket exceeds the mean of nothing);
  * null propagates. Cost is two tight passes over the stream (sum, then
  * bucket sums) with a 64-long stack array — no allocation per row
  * beyond that array, no boxing.
  */
case class AHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def prettyName: String = "ahash64"

  override protected def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => AHash64.compute(b)
    case s => AHash64.compute(s.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (child.dataType == BinaryType)
        s"${ev.value} = graft.expressions.AHash64.compute($c);"
      else s"${ev.value} = graft.expressions.AHash64.compute($c.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): AHash64 =
    copy(child = newChild)
}

object AHash64 {

  /** Per-row kernel over unsigned bytes (shared by eval and codegen). */
  def compute(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      val b = ((i.toLong * 64L) / n).toInt
      sums(b) += v
      counts(b) += 1L
      total += v
      i += 1
    }
    var h = 0L
    var k = 0
    while (k < 64) {
      if (gt128(sums(k), n.toLong, total, counts(k))) h |= (1L << k)
      k += 1
    }
    h
  }

  /** 128-bit-exact `a·b > c·d` for NON-NEGATIVE longs (byte sums and
    * position counts are always ≥ 0 here). `Math.multiplyHigh` yields
    * the signed high word, which for non-negative operands equals the
    * unsigned high word, so (high, unsigned-low) lexicographic compare
    * is the exact 128-bit product compare — no BigInt allocation in the
    * per-row hot loop. */
  def gt128(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) hi1 > hi2 else java.lang.Long.compareUnsigned(lo1, lo2) > 0
  }
}
