package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash h_{i+1} = (31·h_i + v_i) mod 1e9+7, as a
  * whole-stage-codegen'd tight loop.
  *
  * Replaces the interpreted higher-order-function fold
  * `aggregate(split(text, ""), 0L, (h, c) => (31h + ascii(c)) % M)`, whose
  * per-CHARACTER boxed lambda call made document fingerprinting the most
  * expensive narrow projection in the battery (~13 s of a 5000-doc bench;
  * this loop does the same corpus in well under a second).
  *
  * Two input types, two value streams:
  *  - STRING: v_i are the UTF-16 code units of the decoded string, which
  *    matches the HOF's split-into-single-chars + `ascii()` exactly for
  *    all BMP text (and byte-exactly for ASCII), and matches the DuckDB
  *    oracle's `list_reduce` over `string_split(text, '')` + `ascii`;
  *  - BINARY: v_i are the UNSIGNED BYTES (0..255) — the media-blob path
  *    (x14/x18/x24/x97), where the oracle folds the same byte values
  *    parsed from `hex(blob)`. Byte semantics have no
  *    code-unit-vs-code-point question at all: both engines see the
  *    identical byte stream for any input, ASCII or not.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => PolyHash.compute(b)
    case s => PolyHash.compute(s.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (child.dataType == BinaryType)
        s"${ev.value} = graft.expressions.PolyHash.compute($c);"
      else s"${ev.value} = graft.expressions.PolyHash.compute($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {

  /** Per-row kernel over a string's UTF-16 code units (shared by eval
    * and codegen). */
  def compute(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31L + s.charAt(i).toLong) % 1000000007L
      i += 1
    }
    h
  }

  /** Per-row kernel over unsigned bytes (shared by eval and codegen). */
  def compute(b: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < b.length) {
      h = (h * 31L + (b(i) & 0xff).toLong) % 1000000007L
      i += 1
    }
    h
  }
}
