package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import graft.functions.{Limb128, MomentDiagAgg, MomentPairsAgg}

/** Parity proof for the one-pass 128-bit-limb moment aggregators
  * (optimization round 15): [[MomentPairsAgg]] / [[MomentDiagAgg]] must
  * produce EXACTLY the integers the replaced decimal(25,0) formulation
  * produced — the double-posexplode into `sum((svi*svj)::decimal(25,0))`
  * — on data with negative values, short/null arrays, and (for the limb
  * arithmetic itself) sums far past ±2⁶³ where the low limb wraps. */
class MomentLimbsSpec extends SparkSpec {

  private val Scale = 1000000L
  private val Dim = 4
  private val NP = Dim * (Dim + 1) / 2

  /** The exact integer `hi·2⁶⁴ + (lo unsigned)` of a [[Limb128]] pair. */
  private def toBigInt(hi: Long, lo: Long): BigInt =
    (BigInt(hi) << 64) + (BigInt(lo) & ((BigInt(1) << 64) - 1))

  test("Limb128: signed accumulate and merge match BigInt past ±2^63") {
    val rnd = new scala.util.Random(7)
    // values big enough that a few thousand adds cross the 2^63 line
    val vals = Array.fill(5000)(
      (rnd.nextLong() >> 1) + (if (rnd.nextBoolean()) (1L << 61) else -(1L << 61)))
    val buf = new Array[Long](2)
    var ref = BigInt(0)
    vals.foreach { v =>
      Limb128.addSigned(buf, 0, 1, v)
      ref += v
      assert(toBigInt(buf(0), buf(1)) === ref)
    }
    // split-merge: accumulate halves separately, merge, compare
    val a = new Array[Long](2); val b = new Array[Long](2)
    vals.take(2500).foreach(v => Limb128.addSigned(a, 0, 1, v))
    vals.drop(2500).foreach(v => Limb128.addSigned(b, 0, 1, v))
    Limb128.merge(a, 0, 1, b(0), b(1))
    assert(toBigInt(a(0), a(1)) === ref)
  }

  /** Random corpus: negatives, magnitudes past 1.0, one null row, one
    * short row (3 of 4 dims). */
  private def fixture() = {
    val rnd = new scala.util.Random(42)
    val rows: Seq[(Long, Seq[Double])] =
      (0L until 97L).map { id =>
        (id, Seq.fill(Dim)((rnd.nextDouble() - 0.5) * 6.0))
      } :+ (97L, null.asInstanceOf[Seq[Double]]) :+
        (98L, Seq.fill(Dim - 1)((rnd.nextDouble() - 0.5) * 6.0))
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  /** The replaced formulation, verbatim: scaled longs, double posexplode,
    * decimal(25,0) sums. */
  private def decimalReference(emb: org.apache.spark.sql.DataFrame) = {
    val scaled = emb.select(col("vec_id"), expr(
      s"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * $Scale + 0.5d) AS BIGINT))")
      .as("sarr"))
    val once = scaled.select(col("vec_id"), col("sarr"),
      posexplode(col("sarr")).as(Seq("i", "svi")))
    val pairs = once
      .select(col("i"), col("svi"), posexplode(col("sarr")).as(Seq("j", "svj")))
      .filter(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(sum((col("svi") * col("svj")).cast("decimal(25,0)")).as("spp"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).toBigInteger)
      .toMap
    val dims = once.groupBy("i")
      .agg(sum(col("svi").cast("decimal(25,0)")).as("sum_i"))
      .collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toBigInteger)
      .toMap
    val sqs = once.groupBy("i")
      .agg(sum((col("svi") * col("svi")).cast("decimal(25,0)")).as("sq_i"))
      .collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).toBigInteger)
      .toMap
    val n = scaled.count()
    (pairs, dims, sqs, n)
  }

  test("MomentPairsAgg == the decimal(25,0) double-posexplode formulation") {
    val emb = fixture()
    val (refPairs, refDims, _, refN) = decimalReference(emb)
    val magg = udaf(new MomentPairsAgg(Scale.toDouble, Dim),
      ExpressionEncoder[Array[Double]]())
    val m = emb.agg(magg(col("embedding")).as("m")).collect()(0)
      .getStruct(0)
    assert(m.getAs[Long]("n") === refN)
    val sumHi = m.getAs[scala.collection.Seq[Long]]("sumHi")
    val sumLo = m.getAs[scala.collection.Seq[Long]]("sumLo")
    (0 until Dim).foreach { i =>
      assert(toBigInt(sumHi(i), sumLo(i)) ===
        BigInt(refDims.getOrElse(i, java.math.BigInteger.ZERO)), s"dim $i")
    }
    val pi = m.getAs[scala.collection.Seq[Int]]("pi"); val pj = m.getAs[scala.collection.Seq[Int]]("pj")
    val pHi = m.getAs[scala.collection.Seq[Long]]("pairHi"); val pLo = m.getAs[scala.collection.Seq[Long]]("pairLo")
    assert(pi.length === NP)
    (0 until NP).foreach { k =>
      val want = BigInt(refPairs.getOrElse((pi(k), pj(k)),
        java.math.BigInteger.ZERO))
      assert(toBigInt(pHi(k), pLo(k)) === want,
        s"pair (${pi(k)}, ${pj(k)})")
    }
  }

  test("MomentPairsAgg: exact at the per-element bound, fails one step past it") {
    val b = MomentPairsAgg.MaxScaled
    val agg = new MomentPairsAgg(1.0, 2)
    // two rows at the bound: each pair product is ±b², their sum 2·b²
    // is past 2⁶³, so only the limbs hold it
    val row = Array(b.toDouble, -b.toDouble)
    val m = agg.finish(agg.reduce(agg.reduce(agg.zero, row), row))
    val want = Map((0, 0) -> 2, (0, 1) -> -2, (1, 1) -> 2)
      .map { case (ij, k) => ij -> BigInt(b) * b * k }
    (0 until 3).foreach { k =>
      assert(toBigInt(m.pairHi(k), m.pairLo(k)) ===
        want((m.pi(k), m.pj(k))), s"pair (${m.pi(k)}, ${m.pj(k)})")
    }
    assert(toBigInt(m.sumHi(0), m.sumLo(0)) === BigInt(b) * 2)
    val e = intercept[IllegalArgumentException](
      agg.reduce(agg.zero, Array(0.0, (b + 1).toDouble)))
    assert(e.getMessage.contains(s"dimension 1 scales ${(b + 1).toDouble} " +
      s"to ${b + 1}, past ±$b"), e.getMessage)
  }

  test("MomentDiagAgg: exact at the per-element bound, fails one step past it") {
    val b = MomentPairsAgg.MaxScaled
    val agg = new MomentDiagAgg(1.0, 2)
    // two rows at the bound: each square is b², their sum 2·b² is past
    // 2⁶³, so only the limbs hold it
    val row = Array(b.toDouble, -b.toDouble)
    val m = agg.finish(agg.reduce(agg.reduce(agg.zero, row), row))
    (0 until 2).foreach { i =>
      assert(toBigInt(m.sqHi(i), m.sqLo(i)) === BigInt(b) * b * 2, s"sq dim $i")
    }
    assert(toBigInt(m.sumHi(0), m.sumLo(0)) === BigInt(b) * 2)
    assert(toBigInt(m.sumHi(1), m.sumLo(1)) === BigInt(b) * -2)
    val e = intercept[IllegalArgumentException](
      agg.reduce(agg.zero, Array(0.0, -(b + 1).toDouble)))
    assert(e.getMessage.contains(s"dimension 1 scales ${-(b + 1).toDouble} " +
      s"to ${-(b + 1)}, past ±$b"), e.getMessage)
  }

  test("MomentDiagAgg == the decimal(25,0) sum/sumsq formulation") {
    val emb = fixture()
    val (_, refDims, refSqs, refN) = decimalReference(emb)
    val dagg = udaf(new MomentDiagAgg(Scale.toDouble, Dim),
      ExpressionEncoder[Array[Double]]())
    val m = emb.agg(dagg(col("embedding")).as("m")).collect()(0)
      .getStruct(0)
    assert(m.getAs[Long]("n") === refN)
    val sumHi = m.getAs[scala.collection.Seq[Long]]("sumHi"); val sumLo = m.getAs[scala.collection.Seq[Long]]("sumLo")
    val sqHi = m.getAs[scala.collection.Seq[Long]]("sqHi"); val sqLo = m.getAs[scala.collection.Seq[Long]]("sqLo")
    (0 until Dim).foreach { i =>
      assert(toBigInt(sumHi(i), sumLo(i)) ===
        BigInt(refDims.getOrElse(i, java.math.BigInteger.ZERO)), s"sum dim $i")
      assert(toBigInt(sqHi(i), sqLo(i)) ===
        BigInt(refSqs.getOrElse(i, java.math.BigInteger.ZERO)), s"sq dim $i")
    }
  }

  test("limb → decimal reconstruction round-trips negative and wrapped sums") {
    // exercise the DataFrame-side DECIMAL reconstruction on crafted limb
    // pairs: negative totals, lo with the sign bit set (unsigned wrap)
    val cases = Seq(
      BigInt(0), BigInt(-5), BigInt(Long.MaxValue) * 3 + 7,
      BigInt(Long.MinValue) * 2 - 11, (BigInt(1) << 64) - 1,
      (BigInt(1) << 64), -(BigInt(1) << 63) - 1)
    val asLimbs = cases.map { v =>
      val lo = (v & ((BigInt(1) << 64) - 1)).toLong
      val hi = (v >> 64).toLong
      (hi, lo, v.toString)
    }
    val df = spark.createDataFrame(asLimbs).toDF("hi", "lo", "want")
    val out = df.select(
      expr("CAST(CAST(hi AS DECIMAL(38,0)) * 18446744073709551616 + " +
        "IF(lo < 0, CAST(lo AS DECIMAL(38,0)) + 18446744073709551616, " +
        "CAST(lo AS DECIMAL(38,0))) AS DECIMAL(25,0))").cast("string").as("got"),
      col("want")).collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1)))
  }
}
