package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk lengths via a stateless rolling-hash cut rule,
  * as a whole-stage-codegen'd one-pass loop.
  *
  * Semantics (1-indexed positions j = 1..n over the input's VALUE
  * STREAM): a chunk boundary falls AFTER position j iff
  * `j ≥ [[CdcChunks.Window]]`, `j < n`, and the [[PolyHash]] of the
  * trailing [[CdcChunks.Window]]-value window `s[j−W+1 .. j]` is
  * ≡ 0 (mod 2^[[CdcChunks.MaskBits]]). The result is the array of chunk
  * lengths between consecutive boundaries (last chunk runs to n;
  * ∑ lengths = n; empty input → empty array).
  *
  * The value stream follows the input type, exactly as in [[PolyHash]]:
  * STRING → UTF-16 code units (BMP-identical to the oracle's
  * `ascii`-per-character derivation); BINARY → unsigned bytes (the
  * media-blob path, where the oracle parses the same byte values from
  * `hex(blob)` — no character encoding in play at all).
  *
  * This is the gear/Rabin content-defined chunking cut discipline with
  * the min/max clamps deliberately OMITTED: a stateless per-position
  * predicate keeps the rule ORACLE-EXPRESSIBLE (the DuckDB side derives
  * the same boundaries from per-position window hashes — no sequential
  * state), at the cost of the occasional short chunk the clamps would
  * suppress. Expected chunk length is 2^MaskBits = 32 values.
  *
  * One pass, O(W) work per position (the window hash is recomputed
  * from its 8 values — modular removal would need an inverse; at W = 8
  * the direct form is branch-free). Eval and generated code both call
  * the per-row kernel [[CdcChunks.compute]]; `GraftProperties` pins it
  * against a test-side window-hash model on arbitrary inputs.
  */
case class CdcChunks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => CdcChunks.compute(b)
    case s => CdcChunks.compute(s.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (child.dataType == BinaryType)
        s"${ev.value} = graft.expressions.CdcChunks.compute($c);"
      else s"${ev.value} = graft.expressions.CdcChunks.compute($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  /** Rolling window width (values) for the cut predicate. */
  val Window = 8
  /** Cut when the window hash's low [[MaskBits]] bits are zero —
    * expected chunk length 2^MaskBits. */
  val MaskBits = 5

  private val Mask = (1L << MaskBits) - 1L

  /** Per-row kernel over a string's UTF-16 code units (shared by eval
    * and codegen). */
  def compute(s: String): ArrayData = {
    val n = s.length
    val cuts = new Array[Int](n + 1)
    var m = 0
    var j = Window
    while (j < n) {
      var h = 0L
      var k = j - Window
      while (k < j) { h = (h * 31L + s.charAt(k).toLong) % 1000000007L; k += 1 }
      if ((h & Mask) == 0L) { cuts(m) = j; m += 1 }
      j += 1
    }
    lengths(n, cuts, m)
  }

  /** Per-row kernel over unsigned bytes (shared by eval and codegen). */
  def compute(b: Array[Byte]): ArrayData = {
    val n = b.length
    val cuts = new Array[Int](n + 1)
    var m = 0
    var j = Window
    while (j < n) {
      var h = 0L
      var k = j - Window
      while (k < j) { h = (h * 31L + (b(k) & 0xff).toLong) % 1000000007L; k += 1 }
      if ((h & Mask) == 0L) { cuts(m) = j; m += 1 }
      j += 1
    }
    lengths(n, cuts, m)
  }

  /** Lengths of the chunks between the first `m` cut positions; the
    * last chunk runs to `n`, and empty input has no chunk. */
  private def lengths(n: Int, cuts: Array[Int], m: Int): ArrayData = {
    val out = new Array[Int](if (n == 0) 0 else m + 1)
    var last = 0
    var k = 0
    while (k < m) { out(k) = cuts(k) - last; last = cuts(k); k += 1 }
    if (n > 0) out(m) = n - last
    new GenericArrayData(out)
  }
}
