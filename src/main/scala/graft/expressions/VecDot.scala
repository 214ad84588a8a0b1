package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Σ aᵢ·bᵢ over two `array<double>` columns as a whole-stage-codegen'd
  * tight loop.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express the
  * same fold but evaluate their lambdas interpreted — per-element boxed
  * arithmetic plus a per-row intermediate array. On an all-pairs similarity
  * join that cost dominates the query (SURVEY §7.2 step 5 / the north
  * star's ANN operators), which is exactly the case the builder guidance
  * names for a native Catalyst `Expression` with `doGenCode`.
  *
  * Determinism contract: the loop accumulates left-to-right in doubles —
  * bit-identical to the sequential `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * fold it replaces, and to the DuckDB oracle's `list_reduce` fold.
  * Arrays of different lengths, or with a null element, give null, as
  * both do: `zip_with` pads the shorter array with nulls, the oracle
  * reads `b[i]` past its end as NULL, and a null term nulls the fold.
  */
case class VecDot(left: Expression, right: Expression)
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

  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.expressions.VecDot.compute($a, $b);
         |${ev.isNull} = $r == null;
         |if ($r != null) ${ev.value} = $r.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {

  /** Per-row kernel (shared by eval and codegen): null when the lengths
    * differ or either array holds a null element. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}
