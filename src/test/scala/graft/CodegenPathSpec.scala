package graft

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions._

/** Every `graft.expressions` expression through its generated code,
  * against its `eval`. `GenerateUnsafeProjection.generate` compiles the
  * expression's `doGenCode` with no interpreted fallback, so a generated
  * source that does not compile fails here instead of logging a warning
  * (`spark.sql.codegen.fallback`) and running `eval` in its place. Inputs
  * cover null, empty and non-ASCII values (surrogate pairs included), and
  * binary input where the expression takes it. */
class CodegenPathSpec extends AnyFunSuite {

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def arr(vs: Any*): GenericArrayData = new GenericArrayData(vs.toArray)
  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  private val strings: Seq[InternalRow] = Seq(
    null, "", "a", " lead  double trail ", "héllo wörld ünïcode",
    "😀 x😀y 𝄞 end", (1 to 40).map(i => s"tök$i").mkString(" ") + " 😀𝄞"
  ).map(s => row(utf8(s)))

  private val binaries: Seq[InternalRow] = {
    val rnd = new scala.util.Random(5)
    Seq(null, Array.emptyByteArray, Array(0x80, 0xff, 0x00, 0x7f).map(_.toByte),
      Array.fill(300)(rnd.nextInt(256).toByte)).map(b => row(b))
  }

  private val vec = ArrayType(DoubleType)
  private val vecPairs: Seq[InternalRow] = Seq(
    row(null, arr(1.0)),
    row(arr(), arr()),
    row(arr(1.5, -2.0, 3.25), arr(0.5, 4.0, -1.0)),
    row(arr(1.0, 2.0), arr(3.0)),
    row(arr(1.0, null), arr(1.0, 2.0)))

  private val selfMember = StructType(Seq(
    StructField("gk", StringType), StructField("gsz", LongType),
    StructField("fpa", ArrayType(LongType)), StructField("n", LongType)))
  private val baseMember = StructType(Seq(
    StructField("base_id", LongType), StructField("fpa", ArrayType(LongType)),
    StructField("n", LongType)))
  private val baseMembers = arr(
    row(1L, arr(1L, 2L, 3L, 3L), 3L), row(2L, arr(2L, 3L, 4L), 3L),
    row(3L, arr(9L), 1L))
  private val index = BucketVerify.buildIndex(baseMembers)

  private val cases: Seq[(Expression, Seq[InternalRow])] = Seq(
    PolyHash(ref(0, StringType)) -> strings,
    PolyHash(ref(0, BinaryType)) -> binaries,
    CdcChunks(ref(0, StringType)) -> strings,
    CdcChunks(ref(0, BinaryType)) -> binaries,
    AHash64(ref(0, StringType)) -> strings,
    AHash64(ref(0, BinaryType)) -> binaries,
    SimHash64(ref(0, StringType)) -> strings,
    WordShingles(ref(0, StringType), 3) -> strings,
    CharEntropyStats(ref(0, StringType), 1000000L) -> strings,
    MinHashSig(ref(0, ArrayType(StringType)), 4) -> Seq(
      row(null), row(arr()), row(arr(null, null)),
      row(arr(utf8("a b c"), null, utf8("ünï 😀 𝄞")))),
    VecDot(ref(0, vec), ref(1, vec)) -> vecPairs,
    VecL2Sq(ref(0, vec), ref(1, vec)) -> vecPairs,
    TopDots(ref(0, vec), ref(1, ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("v", vec))))), 2) -> Seq(
      row(null, arr()),
      row(arr(1.0, 0.0), arr()),
      row(arr(1.0, 0.5), arr(row(3L, arr(1.0, 1.0)), row(1L, arr(1.0, 1.0)),
        row(2L, arr(-1.0, 0.0)), row(4L, arr(2.0))))),
    PowerIter(ref(0, ArrayType(vec)), 3) -> Seq(
      row(null), row(arr()),
      row(arr(arr(2.0, 1.0), arr(1.0, 3.0))),
      row(arr(arr(1.0, 0.0, 0.5), arr(0.0, -2.0, 0.0), arr(0.5, 0.0, 1.0)))),
    SelfBucketPairs(ref(0, ArrayType(selfMember)), 0.3) -> Seq(
      row(null), row(arr()),
      row(arr(row(utf8("b"), 2L, arr(2L, 3L, 4L), 3L),
        row(utf8("a"), 1L, arr(1L, 2L, 3L), 3L),
        row(utf8("ç😀"), 1L, arr(9L), 1L)))),
    BuildBucketIndex(ref(0, ArrayType(baseMember))) -> Seq(
      row(null), row(arr()), row(baseMembers)),
    ProbeBucketIndex(ref(0, ArrayType(LongType)), ref(1, LongType),
      ref(2, BucketVerify.IndexType), 0.3) -> Seq(
      row(null, 3L, index), row(arr(1L, 2L), 2L, null), row(arr(), 0L, index),
      row(arr(3L, 2L, 1L, 7L), 4L, index)))

  cases.foreach { case (e, rows) =>
    test(s"${e.prettyName}(${e.children.map(_.dataType.simpleString).mkString(", ")}): " +
        "generated code == eval") {
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val evaluated = InterpretedUnsafeProjection.createProjection(Seq(e))
      def show(u: UnsafeRow) =
        CatalystTypeConverters.convertToScala(u.get(0, e.dataType), e.dataType)
      rows.foreach { r =>
        val got = generated(r).copy()
        val want = evaluated(r)
        assert(got === want, s"input $r: generated ${show(got)}, eval ${show(want)}")
      }
    }
  }
}
