package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Quantization

/** Mathematical convergence guard for x73/x74 (the oracle gate proves
  * only ENGINE PARITY — both sides run the identical unrolled power
  * iteration, so a shared algebra bug or non-convergence would be
  * hash-exact on both and pass undetected; ADVICE r8). This spec checks
  * the eigen-relation itself against an independently assembled
  * covariance matrix:
  *
  *  - the returned direction is unit length (u·u ≈ 1);
  *  - the relative eigen-residual ‖C·u − (u·C·u)·u‖ / |u·C·u| is small
  *    (power iteration from the ones vector has converged to the
  *    leading eigenspace after [[Quantization.PcaIters]] steps on this
  *    corpus — a degenerate eigengap or a matvec/assembly bug shows up
  *    here as a residual of order 1);
  *  - the published eigenvalue matches the Rayleigh quotient u·C·u in
  *    covariance units;
  *  - x74's projections reproduce coord = (x − μ)·u.
  */
class PcaSpec extends SparkSpec {

  private val D = Quantization.Dim

  /** C from x38's oracle-gated output (symmetric, covariance units). */
  private def covMatrix(): (Array[Array[Double]], Array[Double], Long) = {
    val rows = Quantization.covarianceStats(spark, Sf).collect()
    val c = Array.ofDim[Double](D, D)
    val mean = new Array[Double](D)
    var n = 0L
    rows.foreach { r =>
      val (i, j) = (r.getAs[Long]("dim_i").toInt, r.getAs[Long]("dim_j").toInt)
      val cov = r.getAs[Double]("cov")
      c(i)(j) = cov
      c(j)(i) = cov
      mean(i) = r.getAs[Double]("mean_i")
      n = r.getAs[Long]("n_vecs")
    }
    (c, mean, n)
  }

  test("x73: unit direction, eigen-residual and Rayleigh capture against an " +
      "independently assembled covariance matrix") {
    val (c, _, _) = covMatrix()
    val out = Quantization.pcaPower(spark, Sf).collect()
    assert(out.length === D)
    val u = new Array[Double](D)
    out.foreach(r => u(r.getAs[Long]("dim").toInt) = r.getAs[Double]("u_comp"))
    val lambdaPublished = out.head.getAs[Double]("eigenvalue")

    val uu = u.map(x => x * x).sum
    assert(math.abs(uu - 1.0) < 1e-9, s"u not unit length: u·u = $uu")

    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(D)(i => (0 until D).map(j => c(i)(j) * v(j)).sum)
    val cu = matvec(u)
    val rayleigh = (0 until D).map(i => u(i) * cu(i)).sum
    assert(rayleigh > 0, s"non-positive Rayleigh quotient $rayleigh")
    // Residual bound calibrated to THIS corpus class: the embeddings are
    // near-isotropic (measured λ1/λ2 = 1.01–1.07 across sf0.001–sf0.1),
    // so 8 max-abs steps land the residual at 0.048–0.067 — while any
    // matvec/assembly bug (wrong A, dropped triangle mirror, misordered
    // row collect) is O(1). 0.1 cleanly separates the two regimes.
    val residual = math.sqrt(
      (0 until D).map(i => math.pow(cu(i) - rayleigh * u(i), 2)).sum) / rayleigh
    assert(residual < 0.1, s"relative eigen-residual $residual ≥ 0.1 — " +
      "power iteration diverged or eigen-relation broken")
    // published eigenvalue is the same Rayleigh quotient computed in-plan
    assert(math.abs(lambdaPublished - rayleigh) / rayleigh < 1e-6,
      s"published eigenvalue $lambdaPublished vs Rayleigh $rayleigh")
    // Rayleigh capture vs the TRUE λ1 (driver-side power iteration run to
    // convergence on the collected 64×64 matrix): Rayleigh converges ~2×
    // the rate of the residual, measured 0.90–0.95 of λ1 at 8 steps on
    // these corpora — a "converged to a non-leading direction" bug
    // (deflation error, sign flip in A) lands far below the floor.
    var v = Array.tabulate(D)(i => 1.0 + 1e-3 * i) // not ⊥ top by accident
    for (_ <- 1 to 5000) {
      val w = matvec(v)
      val mx = w.map(math.abs).max
      v = w.map(_ / mx)
    }
    val vn = math.sqrt(v.map(x => x * x).sum)
    val uStar = v.map(_ / vn)
    val lambda1 = (0 until D).map(i => uStar(i) * matvec(uStar)(i)).sum
    assert(rayleigh >= 0.85 * lambda1,
      s"Rayleigh $rayleigh captures < 85% of true λ1 $lambda1")
  }

  test("x74: projections reproduce (x − μ)·u against driver-side math") {
    val (_, mean, _) = covMatrix()
    val out = Quantization.pcaPower(spark, Sf).collect()
    val u = new Array[Double](D)
    out.foreach(r => u(r.getAs[Long]("dim").toInt) = r.getAs[Double]("u_comp"))
    val emb = graft.queries.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Quantization.pcaProject(spark, Sf).collect()
    assert(proj.length === emb.size)
    proj.foreach { r =>
      val x = emb(r.getAs[Long]("vec_id"))
      val want = (0 until D).map(i => (x(i) - mean(i)) * u(i)).sum
      // driver-side sum order differs from the plan's left fold → allow
      // accumulation-order noise only
      assert(math.abs(r.getAs[Double]("coord") - want) < 1e-9,
        s"vec ${r.get(0)}: coord ${r.get(1)} vs $want")
    }
  }

  test("PowerIter expression is bit-identical to the unrolled HOF power steps") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val n = 12
    // random symmetric matrix (incl. negative entries) as a 1-row DF
    val m0 = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      val v = rng.nextDouble() * 2 - 1
      m0(i)(j) = v; m0(j)(i) = v
    }
    val df = Seq(Tuple1(m0.map(_.toSeq).toSeq)).toDF("m")
    // reference: the unrolled HOF formulation the expression replaced
    val matvec = "transform(m, row -> aggregate(zip_with(row, %s, (x, y) -> x * y), " +
      "cast(0.0 as double), (acc, x) -> acc + x))"
    def reference(df: DataFrame): Row = {
      var it = df.withColumn("v",
        expr(s"transform(sequence(1, $n), x -> cast(1.0 as double))"))
      for (_ <- 1 to Quantization.PcaIters) {
        it = it
          .withColumn("w", expr(matvec.format("v")))
          .withColumn("mx", expr("array_max(transform(w, x -> abs(x)))"))
          .withColumn("v",
            expr("transform(w, x -> if(mx = 0.0d, cast(0.0 as double), x / mx))"))
          .drop("w", "mx")
      }
      it
        .withColumn("nrm", expr("sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), " +
          "cast(0.0 as double), (acc, x) -> acc + x))"))
        .withColumn("u",
          expr("transform(v, x -> if(nrm = 0.0d, cast(0.0 as double), x / nrm))"))
        .withColumn("wu", expr(matvec.format("u")))
        .withColumn("ray",
          expr("aggregate(zip_with(u, wu, (x, y) -> x * y), " +
            "cast(0.0 as double), (acc, x) -> acc + x)"))
        .select("u", "ray").collect()(0)
    }
    def fast(df: DataFrame): Row = df.select(org.apache.spark.sql.GraftSql.column(
        graft.expressions.PowerIter(
          org.apache.spark.sql.GraftSql.expression(col("m")),
          Quantization.PcaIters)).as("pw"))
      .select(col("pw"), col("pw.u").as("u"), col("pw.ray").as("ray")).collect()(0)
    val ref = reference(df)
    val got = fast(df)
    assert(ref.getSeq[Double](0) === got.getSeq[Double](1),
      "eigenvector diverges from the HOF formulation")
    assert(ref.getDouble(1) === got.getDouble(2),
      "Rayleigh numerator diverges from the HOF formulation")
    // a short row or a null element: zip_with pads with nulls, so the
    // HOF steps end with a null ray, and the expression gives null
    for (bad <- Seq(
        "transform(m, (row, i) -> if(i = 3, slice(row, 1, 11), row))",
        "transform(m, (row, i) -> if(i = 3, " +
          "transform(row, (x, j) -> if(j = 5, cast(null as double), x)), row))")) {
      val m = df.withColumn("m", expr(bad))
      assert(reference(m).isNullAt(1), s"HOF ray not null for $bad")
      assert(fast(m).isNullAt(0), s"PowerIter not null for $bad")
    }
  }
}
