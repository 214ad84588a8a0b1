package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.HofReference.dotHof

class VectorFunctionsSpec extends SparkSpec {

  private def df2 = {
    import spark.implicits._
    Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))
    ).toDF("a", "b")
  }

  test("dot/norm/cosine basics") {
    val r = df2.select(dot(col("a"), col("b")),
      dot(col("a"), col("b")) / (norm(col("a")) * norm(col("b")))).collect()
    assert(r(0).getDouble(0) === 0.0)
    assert(r(0).getDouble(1) === 0.0)
    assert(r(1).getDouble(0) === 14.0)
    assert(math.abs(r(1).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r(2).getDouble(1) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("codegen'd VecDot is bit-identical to the interpreted HOF fold") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 200).map(_ =>
      (Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1)))
    // zip_with pads the shorter array with nulls, and a null term nulls
    // the fold: both pairs must give null
    val degenerate = spark.sql(
      "SELECT CAST(array(1, 2) AS array<float>) AS a, " +
        "CAST(array(3) AS array<float>) AS b UNION ALL " +
        "SELECT CAST(array(1, NULL) AS array<float>), CAST(array(1, 2) AS array<float>)")
    val df = vecs.toDF("a", "b").union(degenerate)
      .select(dot(col("a"), col("b")).as("fast"), dotHof(col("a"), col("b")).as("ref"))
    // exact equality: same left-to-right IEEE accumulation order
    assert(df.filter(!(col("fast") <=> col("ref"))).count() === 0)
    assert(df.filter(col("ref").isNull).count() === 2)
  }

  test("TopDots matches the row_number window it replaced — bit parity, " +
      "ties, NaN, short candidate lists") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    // 80 vectors (two of them NaN-poisoned like a zero-norm unit vector),
    // 13 candidates including an exact duplicate pair (dot ties → id asc)
    def vec(): Array[Double] = Array.fill(8)(rng.nextDouble() * 2 - 1)
    val dup = vec()
    val cands = (0L until 11L).map(i => (i, vec())) ++
      Seq((11L, dup), (12L, dup))
    val vecs = (0 until 78).map(i => (i.toLong, vec())) ++
      Seq((78L, Array.fill(8)(Double.NaN)), (79L, vec()))
    val e = vecs.toDF("vec_id", "u")
    val c = cands.toDF("cid", "cu")
    /** TopDots' (vec_id, cid, crn), checked against the broadcast-join +
      * row_number window formulation. */
    def checked(e: DataFrame, c: DataFrame, k: Int): DataFrame = {
      val byVec = Window.partitionBy("vec_id")
        .orderBy(col("cdot").desc, col("cid"))
      val ref = e.join(broadcast(c))
        .withColumn("cdot", dot(col("u"), col("cu")))
        .withColumn("crn", row_number().over(byVec))
        .filter(col("crn") <= k)
        .select("vec_id", "cid", "crn")
      val carr = c.groupBy()
        .agg(sort_array(collect_list(struct(col("cid"), col("cu")))).as("carr"))
      val fast = e.join(broadcast(carr))
        .select(col("vec_id"),
          posexplode(topDots(col("u"), col("carr"), k)).as(Seq("pos", "cid")))
        .select(col("vec_id"), col("cid"), (col("pos") + 1).cast("int").as("crn"))
      assert(ref.count() === fast.count(), s"k=$k row counts differ")
      assert(ref.exceptAll(fast).isEmpty && fast.exceptAll(ref).isEmpty,
        s"k=$k TopDots diverges from the window formulation")
      fast
    }
    for (k <- Seq(1, 3)) checked(e, c, k)
    // a ragged or null-element candidate has a null dot, which the
    // window's ORDER BY … DESC puts after every dot (ties by id): for
    // u = [1, 1], candidate 2's dot 2.0 beats candidate 1's null, not a
    // partial dot of 5.0 over the shorter array
    val u11 = Seq((0L, Array(1.0, 1.0))).toDF("vec_id", "u")
    val odd = spark.sql("SELECT 1L AS cid, array(5d) AS cu UNION ALL " +
      "SELECT 2L, array(1d, 1d) UNION ALL SELECT 3L, array(9d, CAST(NULL AS double))")
    assert(checked(u11, odd, 1).collect().map(_.getLong(1)).toSeq === Seq(2L))
    assert(checked(u11, odd, 3).orderBy("crn").collect().map(_.getLong(1)).toSeq ===
      Seq(2L, 1L, 3L))
    // fewer candidates than k: emits only what exists
    val one = Seq((0L, vec())).toDF("cid", "cu").groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cu")))).as("carr"))
    val short = e.join(broadcast(one))
      .select(size(topDots(col("u"), col("carr"), 3)).as("n")).distinct().collect()
    assert(short.map(_.getInt(0)).toSeq === Seq(1))
  }

  test("VecSumScaled matches the posexplode + per-dim sum it replaced") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val rows = (0 until 500).map(i =>
      (i % 7L, Array.fill(16)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("cell", "u")
    val scale = 1000000.0
    val vsum = udaf(new graft.functions.VecSumScaled(scale, 16),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    val fast = df.repartition(7).groupBy("cell")
      .agg(vsum(col("u")).as("sv"), count(lit(1)).as("n"))
      .select(col("cell"), posexplode(col("sv")).as(Seq("pos", "s")), col("n"))
    val ref = df.select(col("cell"), posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(floor(col("v") * scale + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
    val refKeyed = ref.select(col("cell"), col("pos"), col("s"), col("n"))
    val fastKeyed = fast.select(col("cell"), col("pos"), col("s"), col("n"))
    assert(refKeyed.exceptAll(fastKeyed).isEmpty &&
      fastKeyed.exceptAll(refKeyed).isEmpty,
      "VecSumScaled diverges from the explode+sum formulation")
  }

  test("lshSignature: same vector → same bucket; opposite vectors differ") {
    import spark.implicits._
    val v = (0 until 64).map(i => (i % 7 - 3).toFloat).toArray
    val neg = v.map(x => -x)
    val df = Seq(v, v, neg).toDF("v")
      .select(lshSignature(col("v"), 4, 64).as("sig"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) === sigs(1))
    // every plane flips sign (no zero dot products for this vector)
    assert(sigs(0) === (~sigs(2) & 0xfL))
    assert(sigs.forall(s => s >= 0 && s < 16))
  }
}
