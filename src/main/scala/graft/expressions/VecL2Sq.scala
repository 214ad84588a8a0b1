package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Σ (aᵢ−bᵢ)² over two `array<double>` columns as a whole-stage-codegen'd
  * tight loop — the squared-L2 companion to [[VecDot]], used by the
  * product-quantization encoder where each vector evaluates it against
  * every codebook entry (N·M·K evaluations — the hot path the builder
  * guidance reserves for a native `Expression` over interpreted HOFs).
  *
  * Determinism contract (same as [[VecDot]]): a sequential left fold in
  * array order over doubles, each term computed as `(a[i]-b[i])*(a[i]-b[i])`
  * — bit-identical to the DuckDB oracle's
  * `list_reduce([0.0] || list_transform(..., i -> (a[i]-b[i])*(a[i]-b[i])), +)`.
  * Ragged arrays and null elements give null, as in [[VecDot]].
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
      s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "vec_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecL2Sq.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.expressions.VecL2Sq.compute($a, $b);
         |${ev.isNull} = $r == null;
         |if ($r != null) ${ev.value} = $r.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

object VecL2Sq {

  /** Per-row kernel (shared by eval and codegen): null when the lengths
    * differ or either array holds a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
