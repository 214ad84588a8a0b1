package graft

import org.apache.spark.sql.functions._
import graft.operators.ProductQuantization
import graft.operators.ProductQuantization.{CodebookSize, NumSubspaces, SubDim}
import graft.functions.VectorFunctions.l2sq
import graft.HofReference.{dotHof, l2sqHof}
import graft.util.OperatorCaches

/** Product quantization: encoder invariants, the codegen'd L2² expression
  * against its interpreted reference fold, and ADC's defining property —
  * the ADC score of (query, vector) equals the exact dot of the query
  * with the vector's codebook RECONSTRUCTION (same terms, different
  * summation grouping, so compared under a tolerance; the oracle compare
  * is exact because both engines use the per-subspace grouping). */
class ProductQuantizationSpec extends SparkSpec {

  test("VecL2Sq matches the interpreted HOF fold bit-for-bit") {
    import spark.implicits._
    // the last two pairs are degenerate: both forms give null
    val degenerate = spark.sql(
      "SELECT CAST(array(1, 2) AS array<float>) AS a, " +
        "CAST(array(3) AS array<float>) AS b UNION ALL " +
        "SELECT CAST(array(1, NULL) AS array<float>), CAST(array(1, 2) AS array<float>)")
    val df = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5f, -2.0f, 3.25f)),
      (Array(0.0f, 0.0f, 0.0f), Array(0.0f, 0.0f, 0.0f)),
      (Array(1e-7f, 2e7f, -1e-3f), Array(3.7f, -0.1f, 9.9f))
    ).toDF("a", "b").union(degenerate)
    val rows = df.select(
      l2sq(col("a"), col("b")).as("fast"),
      l2sqHof(col("a"), col("b")).as("ref")).collect()
    assert(rows.count(_.isNullAt(1)) === 2)
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null differs: $r")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("pq encode: one code per (vector, subspace), codes in range, " +
    "codebook vectors self-encode with zero error") {
    val enc = ProductQuantization.pqEncode(spark, Sf)
    val n = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    val rows = enc.collect()
    assert(rows.length === n * NumSubspaces)
    assert(rows.forall(r => r.getLong(2) >= 0 &&
      r.getLong(2) < math.min(CodebookSize.toLong, n)))
    assert(rows.forall(_.getDouble(3) >= 0.0))
    // a codebook vector's own subvector is at distance 0; with random
    // corpora no other entry ties, so it encodes to itself exactly
    rows.filter(_.getLong(0) < CodebookSize).foreach { r =>
      assert(r.getLong(2) === r.getLong(0), s"self-encode: $r")
      assert(r.getDouble(3) === 0.0)
    }
    OperatorCaches.release(spark)
  }

  test("adc equals dot(query, reconstruction) to fp-regrouping tolerance") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    // reconstruction: concat of each subspace's chosen codebook subvector
    val unit = e
      .withColumn("u", expr(
        "transform(embedding, x -> cast(x as double) / " +
        "sqrt(aggregate(zip_with(embedding, embedding, (a, b) -> " +
        "cast(a as double) * cast(b as double)), cast(0 as double), " +
        "(acc, v) -> acc + v)))"))
      .select(col("vec_id"), col("u"))
    val enc = ProductQuantization.encodeFrom(unit)
    val cb = unit.filter(col("vec_id") < CodebookSize)
      .select(explode(sequence(lit(0), lit(NumSubspaces - 1))).as("sub"),
        col("vec_id").as("code"),
        col("u").as("cu"))
      .select(col("sub").cast("long").as("sub"), col("code"),
        expr(s"slice(cu, sub * $SubDim + 1, $SubDim)").as("cvec"))
    val recon = enc.join(cb, Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("cvec")))),
        x => x.getField("cvec"))).as("recon"))
    val adc = ProductQuantization.adcTopK(spark, Sf)
    val qs = unit.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    val joined = adc.join(qs, "query_id")
      .join(recon.select(col("vec_id").as("neighbor_id"), col("recon")),
        "neighbor_id")
      .withColumn("exact", dotHof(col("qu"), col("recon")))
      .select(col("adc"), col("exact")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"adc=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
    OperatorCaches.release(spark)
  }

  test("ivf-pq top-k: every neighbor comes from a probed cell and is " +
      "ranked by the exact ADC score (recomputed independently from the " +
      "public encode table); ranks are consecutive with the (adc desc, " +
      "id) tiebreak") {
    import spark.implicits._
    import graft.operators.Similarity
    val out = ProductQuantization.ivfPqTopK(spark, Sf).collect()
    // routing truth from the same (already spec'd and oracle-gated)
    // two-level ranking the operator composes
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val ranked = Similarity.ivfTopKTrained(spark, Sf)
    // probe/assignment facts come from x34's own gated output: a
    // returned (query, neighbor, cell) must agree with x34's cell for
    // that neighbor (crn=1 assignment is shared by construction)
    val x34cells = ranked.select("neighbor_id", "cell").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (q, nb, cell) = (r.getLong(0), r.getLong(1), r.getLong(2))
      x34cells.get(nb).foreach(c =>
        assert(c === cell, s"cell disagrees with x34's assignment: $r"))
      assert(q < 10 && q != nb)
    }
    // per-query rank structure
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val better = a.getDouble(3) > b.getDouble(3) ||
            (a.getDouble(3) == b.getDouble(3) && a.getLong(1) < b.getLong(1))
          assert(better, s"rank order violated for query $q: $a vs $b")
        case _ => ()
      }
    }
    // ADC recomputation from the PUBLIC encode table + a driver-side
    // LUT over the raw embeddings (unit-normalized the same way):
    // exact equality — both are the same per-subspace sums
    val enc = ProductQuantization.pqEncode(spark, Sf).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2).toInt) }
    val raw = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def unit(v: Array[Float]): Array[Double] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      v.map(_.toDouble / n)
    }
    val us = raw.map { case (id, v) => id -> unit(v) }
    val sd = SubDim
    def lutVal(q: Long, sub: Int, code: Int): Double = {
      val qu = us(q); val cu = us(code.toLong)
      var s = 0.0; var i = 0
      while (i < sd) { s += qu(sub * sd + i) * cu(sub * sd + i); i += 1 }
      s
    }
    out.foreach { r =>
      val (q, nb, adc) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      val model = enc(nb).zipWithIndex
        .foldLeft(0.0) { case (acc, (code, sub)) => acc + lutVal(q, sub, code) }
      assert(java.lang.Double.doubleToLongBits(adc) ===
        java.lang.Double.doubleToLongBits(model), s"adc mismatch: $r")
    }
    OperatorCaches.release(spark)
  }

  test("ivfProbe, the probe x19, x34, x105 and x108 share: every vector " +
      "has exactly one cell, and each query probes NumProbes distinct " +
      "cells, its own among them (stand-in and trained centroids)") {
    import graft.operators.Similarity
    val e = Similarity.normalized(spark, Sf)
    val n = e.count()
    Seq(Similarity.standInCentroids(e, Similarity.derivedCellsExpr),
        Similarity.trainedCentroids(spark, Sf)).foreach { cents =>
      val (assign, probes) = Similarity.ivfProbe(e, cents)
      val cellOf = assign.select("neighbor_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(cellOf.length === n)
      assert(cellOf.map(_._1).distinct.length === n)
      val own = cellOf.toMap
      val probed = probes.select("query_id", "cell").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }
      assert(probed.keySet === (0L until 10L).toSet)
      probed.foreach { case (q, cells) =>
        assert(cells.length === Similarity.NumProbes, s"query $q: $cells")
        assert(cells.distinct.length === Similarity.NumProbes, s"query $q: $cells")
        assert(cells.contains(own(q)), s"query $q: own cell ${own(q)} not in $cells")
      }
    }
    OperatorCaches.release(spark)
  }

  test("ivf-pq recall eval: recall_ppm equals the driver-side " +
      "intersection of the brute-force and IVF-PQ top-k outputs") {
    import graft.operators.Similarity
    val k = Similarity.RecallK
    def topSets(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(_.getLong(rows.head.length - 1) <= k) // rank column is last
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(Similarity.bruteForceTopK(spark, Sf).collect())
    val approx = topSets(ProductQuantization.ivfPqTopK(spark, Sf).collect())
    val got = ProductQuantization.ivfPqRecall(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    exact.foreach { case (q, ex) =>
      val hits = ex.intersect(approx.getOrElse(q, Set.empty)).size.toLong
      assert(got(q) === ((ex.size.toLong, hits, hits * 1000000L / k)),
        s"recall row disagrees for query $q: ${got(q)}")
    }
    assert(got.keySet === exact.keySet)
    OperatorCaches.release(spark)
  }
}
