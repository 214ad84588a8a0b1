package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-k candidate ids by dot product against one vector, over a BOUNDED
  * candidate array riding in the row (a 1-row broadcast of the centroid
  * relation): the shuffle-free form of
  * `row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, id ASC) <= k`.
  *
  * WHY THIS EXISTS (optimization round 14, guide §2.4 "remove shuffles
  * outright"): every centroid-assignment stage in the ANN family
  * ([[graft.operators.Similarity]] Lloyd training and the two-level
  * quantized ranking) was a broadcast join that multiplied the corpus by
  * the candidate count and then ranked with a `row_number` window
  * partitioned by `vec_id` — a full corpus EXCHANGE plus sort per
  * ranking, and Lloyd pays it once per iteration. The candidate set is
  * bounded (the centroid relation, ≤√(N/8) on the trained curve), so the
  * argmax is per-row work, not join work: collect the candidates into one
  * broadcast row and rank inside the row. Assignment becomes a pure map
  * stage; the only exchange left in an assignment pass is the bounded
  * centroid `collect_list` merge.
  *
  * Ordering contract (bit-parity with the window it replaces): candidates
  * are ranked by (dot DESC, id ASC) where the dot is the same sequential
  * left fold as [[VecDot]] and the comparison is
  * `java.lang.Double.compare` — NaN sorts as the LARGEST value, exactly
  * like Spark's `ORDER BY dot DESC` (and [[graft.functions.TopKByScore]]).
  * A candidate whose dot is null — its length differs from vec's, or
  * either side holds a null element, the cases where [[VecDot]] gives
  * null — ranks after every candidate with a dot, by id ASC: the
  * window's `DESC` order puts nulls last.
  *
  * Input: vec `array<double>`, cands `array<struct<id: long,
  * v: array<double>>>` (field names free — matched positionally).
  * Output: `array<long>` of the top-k ids, best first; shorter when fewer
  * candidates exist. Null vec/cands → null (consumers explode, so a null
  * input emits no rows — the window formulation's null-dot rows were
  * likewise filtered by every consumer's `crn <=` bound).
  */
case class TopDots(vec: Expression, cands: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, "TopDots needs k >= 1")

  override def left: Expression = vec
  override def right: Expression = cands

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val candsOk = cands.dataType match {
      case ArrayType(s: StructType, _) if s.length == 2 &&
          s(0).dataType == LongType &&
          s(1).dataType.isInstanceOf[ArrayType] &&
          s(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        true
      case _ => false
    }
    if (vecOk && candsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<struct<long, array<double>>>), " +
        s"got ${vec.dataType.sql} and ${cands.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_dots"

  override protected def nullSafeEval(u: Any, cs: Any): Any =
    TopDots.topDots(u.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, cs) =>
      s"${ev.value} = graft.expressions.TopDots.topDots($u, $cs, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopDots =
    copy(vec = newLeft, cands = newRight)
}

object TopDots {

  /** True when (da, ia) ranks strictly before (db, ib) under
    * (dot DESC with NaN greatest — `Double.compare` order — and a null
    * dot (`na`/`nb`) last, id ASC). */
  private def beats(da: Double, na: Boolean, ia: Long,
      db: Double, nb: Boolean, ib: Long): Boolean = {
    val c =
      if (na || nb) java.lang.Boolean.compare(na, nb)
      else java.lang.Double.compare(db, da)
    c < 0 || (c == 0 && ia < ib)
  }

  /** Tight-loop top-k: one sequential-fold dot per candidate (the
    * [[VecDot]] fold, same IEEE result, null on a length mismatch or a
    * null element), insertion into a ≤k sorted buffer. Called from both
    * eval and generated code. */
  def topDots(u: ArrayData, cs: ArrayData, k: Int): ArrayData = {
    val m = cs.numElements()
    val n = u.numElements()
    val ids = new Array[Long](k)
    val dots = new Array[Double](k)
    val nulls = new Array[Boolean](k)
    var filled = 0
    var i = 0
    while (i < m) {
      val st = cs.getStruct(i, 2)
      val id = st.getLong(0)
      val cv = st.getArray(1)
      var isNull = cv.numElements() != n
      var acc = 0.0
      var j = 0
      while (j < n && !isNull) {
        if (u.isNullAt(j) || cv.isNullAt(j)) isNull = true
        else acc += u.getDouble(j) * cv.getDouble(j)
        j += 1
      }
      // insertion position among the filled entries
      if (filled < k ||
          beats(acc, isNull, id, dots(filled - 1), nulls(filled - 1), ids(filled - 1))) {
        var p = if (filled < k) filled else k - 1
        while (p > 0 && beats(acc, isNull, id, dots(p - 1), nulls(p - 1), ids(p - 1))) {
          dots(p) = dots(p - 1); nulls(p) = nulls(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        dots(p) = acc; nulls(p) = isNull; ids(p) = id
        if (filled < k) filled += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (filled == k) ids else java.util.Arrays.copyOf(ids, filled))
  }
}
