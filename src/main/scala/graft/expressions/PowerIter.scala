package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The whole max-abs-normalized power iteration over a ONE-row dense
  * matrix as a single expression: `iters` matvec+normalize steps from the
  * all-ones start, then the unit eigenvector and the raw Rayleigh
  * numerator u·(M·u).
  *
  * WHY THIS EXISTS (optimization round 14, guide §1.2): the unrolled
  * DataFrame formulation needed one `OperatorCaches.persist` boundary per
  * step (project-collapse otherwise inlines step k−1 into the ~3 places
  * step k reads it — 3^iters tree growth), i.e. 8 cache materializations
  * plus 8 interpreted `transform/zip_with/aggregate` HOF towers for what
  * is 8·Dim² fused multiply-adds on one row. The loop belongs inside one
  * expression: the data is a single 64×64 matrix.
  *
  * Bit parity with the HOF formulation it replaces (and with the DuckDB
  * oracle's identical unrolled recursion):
  *  - matvec row fold is sequential left-to-right in array order
  *    (`aggregate(zip_with(row, v, _*_), 0.0, _+_)`);
  *  - the normalizer is `array_max(transform(w, abs))` — max with NaN
  *    greatest (`Double.compare` order);
  *  - `mx = 0.0` / `nrm = 0.0` guards use IEEE `==` (±0.0 equal, NaN
  *    unequal), exactly the SQL `=` they replace;
  *  - the returned `ray` is the raw `aggregate(zip_with(u, wu, _*_), …)`
  *    numerator — the caller applies the same division chain as before;
  *  - a null row, a row whose length is not the row count, or a null
  *    element gives null: `zip_with` pads the shorter side with nulls, a
  *    null term nulls that row's fold, and the null spreads into every
  *    later step, so the formulation ends with a null `ray`.
  */
case class PowerIter(child: Expression, iters: Int) extends UnaryExpression {
  require(iters >= 1, "PowerIter needs iters >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<array<double>>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("u", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("ray", DoubleType, nullable = false)))

  override def nullable: Boolean = true

  override def prettyName: String = "power_iter"

  override protected def nullSafeEval(m: Any): Any =
    PowerIter.run(m.asInstanceOf[ArrayData], iters)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.expressions.PowerIter.run($c, $iters);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): PowerIter =
    copy(child = newChild)
}

object PowerIter {

  /** Null when a row is null, is not `n` long, or holds a null. */
  def run(m: ArrayData, iters: Int): GenericInternalRow = {
    val n = m.numElements()
    // materialize rows once (primitive arrays) — the loop reads them 8×
    val rows = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = m.getArray(i)
      if (row == null || row.numElements() != n) return null
      var j = 0
      while (j < n) { if (row.isNullAt(j)) return null; j += 1 }
      rows(i) = row.toDoubleArray()
      i += 1
    }
    def matvec(v: Array[Double]): Array[Double] = {
      val w = new Array[Double](n)
      var i = 0
      while (i < n) {
        val row = rows(i)
        var acc = 0.0
        var j = 0
        while (j < n) { acc += row(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      w
    }
    var v = Array.fill(n)(1.0)
    var it = 0
    while (it < iters) {
      val w = matvec(v)
      // max(|w_i|) with NaN greatest — array_max's ordering
      var mx = Double.NegativeInfinity
      var p = 0
      while (p < n) {
        val a = math.abs(w(p))
        if (java.lang.Double.compare(a, mx) > 0) mx = a
        p += 1
      }
      if (n == 0) mx = 0.0
      var q = 0
      while (q < n) { w(q) = if (mx == 0.0) 0.0 else w(q) / mx; q += 1 }
      v = w
      it += 1
    }
    var ss = 0.0
    var r = 0
    while (r < n) { ss += v(r) * v(r); r += 1 }
    val nrm = math.sqrt(ss)
    val u = new Array[Double](n)
    var s = 0
    while (s < n) { u(s) = if (nrm == 0.0) 0.0 else v(s) / nrm; s += 1 }
    val wu = matvec(u)
    var ray = 0.0
    var t = 0
    while (t < n) { ray += u(t) * wu(t); t += 1 }
    new GenericInternalRow(Array[Any](new GenericArrayData(u), ray))
  }
}
