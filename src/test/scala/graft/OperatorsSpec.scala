package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-pipeline operators over the sf0.001 corpus (500 docs / 500 vecs) —
  * invariant checks; value-exactness is covered by the DuckDB oracles. */
class OperatorsSpec extends SparkSpec {

  test("exact dedup: groups partition the corpus; reps are minimal ids") {
    val d = Dedup.exact(spark, Sf).cache()
    val n = d.count()
    assert(n === 500)
    assert(d.filter(col("exact_rep") > col("doc_id")).count() === 0)
    assert(d.filter(col("exact_group_size") < 1).count() === 0)
  }

  test("minhash LSH pairs at >=0.03 jaccard agree with the exact ngram-jaccard pairs") {
    // LSH output is thresholded at 0.02, ngramJaccard at 0.03 — compare on
    // the common >=0.03 region, where LSH survivors must be exact pairs.
    val lsh03 = Dedup.minhashLsh(spark, Sf)
      .filter(col("jaccard") >= 0.03)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, Sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh03.nonEmpty)
    assert(lsh03.subsetOf(exact))
  }

  test("simhash: 64-bit signatures discriminate; banded pairs have hamming <= 3") {
    val sig = Dedup.simhash(spark, Sf).cache()
    // the 16-bit variant this replaced saturated (28% of all pairs
    // within Hamming<=3 at 500 docs); in 64-bit space signatures must be
    // near-unique — only genuine near-dups may collide
    val n = sig.count()
    assert(sig.select("simhash").distinct().count() >= n / 2)
    val pairs = Dedup.simhashPairs(spark, Sf)
    assert(pairs.filter(col("hamming") > 3).count() === 0)
  }

  test("dup clusters: valid partition, min reps, edges stay intra-cluster") {
    val cl = Dedup.dupClusters(spark, Sf).cache()
    assert(cl.count() === 500)
    // representative is the cluster's min doc_id and belongs to it
    assert(cl.filter(col("cluster_rep") > col("doc_id")).count() === 0)
    val reps = cl.groupBy("cluster_rep").agg(
      min(col("doc_id")).as("min_id"), count(lit(1)).as("n"))
    assert(reps.filter(col("cluster_rep") =!= col("min_id")).count() === 0)
    // sizes are consistent with actual membership counts
    assert(cl.join(reps, "cluster_rep")
      .filter(col("cluster_size") =!= col("n")).count() === 0)
    // every qualifying pair is intra-cluster (closure actually closed)
    val pairs = Dedup.simhashPairs(spark, Sf)
      .filter(col("hamming") <= Dedup.ClusterHamming)
    val la = cl.select(col("doc_id").as("doc_a"), col("cluster_rep").as("ca"))
    val lb = cl.select(col("doc_id").as("doc_b"), col("cluster_rep").as("cb"))
    assert(pairs.join(la, "doc_a").join(lb, "doc_b")
      .filter(col("ca") =!= col("cb")).count() === 0)
  }

  test("one-pass SimHash64 matches the explode+agg reference over the corpus") {
    val fast = Dedup.simhash(spark, Sf).collect().map(_.toSeq).toSeq
    val ref = HofReference.simhashViaAgg(spark, Sf).collect().map(_.toSeq).toSeq
    assert(fast === ref)
  }

  test("brute-force ANN: k results per query, cosine within [-1,1], ranked") {
    val r = Similarity.bruteForceTopK(spark, Sf).cache()
    assert(r.groupBy("query_id").count().filter(col("count") =!= 5).count() === 0)
    assert(r.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() === 0)
    // rank 1 has the max cosine per query
    val top = r.filter(col("rank") === 1).select("query_id", "cos")
      .withColumnRenamed("cos", "top_cos")
    val joined = r.join(top, "query_id")
    assert(joined.filter(col("cos") > col("top_cos") + 1e-15).count() === 0)
  }

  test("LSH ANN only pairs vectors in the same bucket") {
    val r = Similarity.lshTopK(spark, Sf)
    assert(r.count() > 0)
    assert(r.filter(col("sig") < 0 || col("sig") > 15).count() === 0)
  }

  test("text stats: ratios in [0,1], token counts consistent") {
    val t = TextAnalysis.textStats(spark, Sf).cache()
    assert(t.count() === 500)
    assert(t.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() === 0)
    assert(t.filter(col("uniq_ratio") <= 0 || col("uniq_ratio") > 1).count() === 0)
    assert(t.filter(col("n_uniq_tokens") > col("n_tokens")).count() === 0)
    assert(t.filter(col("n_chars_actual") =!= col("n_chars")).count() === 0)
  }

  test("langId predicts a language for every doc") {
    val l = TextAnalysis.langId(spark, Sf)
    assert(l.filter(col("pred_lang").isin("en", "de", "es", "fr")).count() === 500)
  }

  test("fingerprints are stable across runs") {
    val a = TextAnalysis.fingerprint(spark, Sf).collect()
    val b = TextAnalysis.fingerprint(spark, Sf).collect()
    assert(a.map(_.toSeq.toList).toSeq === b.map(_.toSeq.toList).toSeq)
  }

  test("ngram-jaccard stop-shingle cut: hot shingles are excluded, cold ones counted") {
    import spark.implicits._
    // Every doc shares the phrase "aaa bbb ccc"; the rest of each doc is
    // unique filler, so the ONLY common shingle across docs is that phrase.
    def corpus(n: Int) = (1 to n)
      .map(i => (i.toLong, s"aaa bbb ccc u$i v$i w$i"))
      .toDF("doc_id", "text")
    // df("aaa bbb ccc") = 3 <= MaxShingleDf: all C(3,2) pairs survive with
    // inter = 1 over 4-shingle docs -> jaccard = 1/7.
    val cold = Dedup.ngramJaccardFrom(corpus(3)).collect()
    assert(cold.length === 3)
    assert(cold.forall(r => r.getAs[Long]("inter") == 1L
      && math.abs(r.getAs[Double]("jaccard") - 1.0 / 7.0) < 1e-15))
    // df = MaxShingleDf + 2 > cut: the shingle is dropped, no pair overlaps.
    val hot = Dedup.ngramJaccardFrom(corpus(Dedup.MaxShingleDf + 2))
    assert(hot.count() === 0)
  }

  test("ngram jaccard: linear candidate-volume budget cuts degenerate " +
      "corpora the fractional cap cannot") {
    import spark.implicits._
    // n identical 65-word docs: 63 distinct shingles, each df = n —
    // under the fractional cap (df <= max(32, ceil(n/100)) for small n)
    // but with candidate volume 63·n². Everything is kept while
    // 63·n² <= budget·n, i.e. n <= budget/63; the first n past that
    // boundary drops the only df class — output empty, join volume
    // bounded. Derived from the constant so the spec tracks budget
    // re-sizing (round 11 cut it 2000 → 600 for sf10 scratch).
    val nUnder = (Dedup.MaxCandidateVolumePerDoc / 63).toInt
    val nOver = nUnder + 1
    assert(63L * nUnder * nUnder <= Dedup.MaxCandidateVolumePerDoc * nUnder)
    assert(63L * nOver * nOver > Dedup.MaxCandidateVolumePerDoc * nOver)
    val text = (1 to 65).map(i => s"t$i").mkString(" ")
    def corpus(n: Int) =
      (1 to n).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val under = Dedup.ngramJaccardFrom(corpus(nUnder)).collect()
    assert(under.length === nUnder * (nUnder - 1) / 2)
    assert(under.forall(_.getAs[Double]("jaccard") == 1.0))
    graft.util.OperatorCaches.release(spark)
    assert(Dedup.ngramJaccardFrom(corpus(nOver)).count() === 0)
    graft.util.OperatorCaches.release(spark)
  }

  test("embedding dups: exact precision over IVF candidates (subset of true pairs)") {
    import graft.functions.VectorFunctions._
    val dups = Similarity.embeddingDups(spark, Sf).cache()
    assert(dups.filter(col("cos") <= 0.35).count() === 0)
    assert(dups.filter(col("id_a") >= col("id_b")).count() === 0)
    // precision is exact: every reported pair is a true >0.35 pair when
    // recomputed from scratch (recall is approximate by design)
    val e = graft.queries.Tables.embeddings(spark, Sf)
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), unit(col("embedding"), col("nrm")).as("u"))
    val truth = e.select(col("vec_id").as("id_a"), col("u").as("ua"))
      .join(e.select(col("vec_id").as("id_b"), col("u").as("ub")),
        col("id_a") < col("id_b"))
      .withColumn("true_cos", dot(col("ua"), col("ub")))
      .filter(col("true_cos") > 0.35)
      .select("id_a", "id_b", "true_cos")
    val joined = dups.join(truth, Seq("id_a", "id_b"), "left").cache()
    assert(joined.filter(col("true_cos").isNull).count() === 0)
    assert(joined.filter(col("cos") =!= col("true_cos")).count() === 0)
    // recall FLOOR: x8 is approximate by contract (multi-probe IVF misses
    // pairs with disjoint probe sets — measured ~0.78-0.81 recall at
    // DupProbes=3 on the test corpora at the 0.35 threshold). The floor
    // catches a regression that silently drops most true pairs while
    // precision stays perfect.
    val (found, total) = (dups.count().toDouble, truth.count().toDouble)
    assert(total > 0)
    assert(found >= 0.6 * total,
      s"x8 recall ${found / total} fell below the 0.6 floor")
  }

  test("q16 HLL estimates within tolerance of exact distinct counts (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    val approx = graft.queries.Relational.approxDistinctFrom(
      graft.queries.Tables.lineitem(spark, sf01))
    val exact = graft.queries.Tables.lineitem(spark, sf01)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    val j = approx.join(exact, "l_returnflag").collect()
    assert(j.nonEmpty)
    // configured rsd = 1%; allow 5x for small-group variance
    j.foreach { r =>
      val (ao, eo) = (r.getAs[Long]("approx_orders"), r.getAs[Long]("exact_orders"))
      val (ap, ep) = (r.getAs[Long]("approx_parts"), r.getAs[Long]("exact_parts"))
      assert(math.abs(ao - eo).toDouble / eo <= 0.05, s"orders: $ao vs $eo")
      assert(math.abs(ap - ep).toDouble / ep <= 0.05, s"parts: $ap vs $ep")
    }
  }

  test("q22 quantile sketch within rank tolerance of exact percentiles (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    val approx = graft.queries.Relational.approxPercentilesFrom(
      graft.queries.Tables.lineitem(spark, sf01))
    val exact = graft.queries.Relational.percentiles(spark, sf01)
    val j = approx.join(exact, "l_returnflag").collect()
    assert(j.nonEmpty)
    // accuracy=1000 bounds RANK error to 0.1% — but the sketch returns an
    // ACTUAL data point while exact percentile() interpolates, so on the
    // discrete columns (quantity: integers; discount: 0.01 steps) the
    // right tolerance is one value step ABSOLUTE, not relative; the
    // continuous price column gets the relative bound
    def rel(a: Double, e: Double) = math.abs(a - e) / math.max(math.abs(e), 1e-9)
    j.foreach { r =>
      assert(math.abs(r.getAs[Double]("ap50_qty") - r.getAs[Double]("p50_qty"))
        <= 1.0, "qty")
      assert(rel(r.getAs[Double]("ap90_price"), r.getAs[Double]("p90_price"))
        <= 0.02, "price")
      assert(math.abs(r.getAs[Double]("ap25_disc") - r.getAs[Double]("p25_disc"))
        <= 0.01, "disc")
    }
  }

  test("q16/q22 gate shapes: every within-bound boolean is TRUE (sf0.01)") {
    // The driver's oracle emits literal TRUEs for these columns, so any
    // FALSE here is exactly the hash mismatch the gate would report.
    val sf01 = "/root/testdata/sf0.01"
    val li = graft.queries.Tables.lineitem(spark, sf01)
    graft.queries.Relational.approxDistinctGate(li).collect().foreach { r =>
      assert(r.getAs[Boolean]("orders_ok") && r.getAs[Boolean]("parts_ok"),
        s"q16 sketch out of bound: $r")
    }
    graft.queries.Relational.approxPercentilesGate(li).collect().foreach { r =>
      assert(r.getAs[Boolean]("qty_ok") && r.getAs[Boolean]("price_ok")
        && r.getAs[Boolean]("disc_ok"), s"q22 sketch out of rank bound: $r")
    }
  }

  test("curation: content split is stable and ~80/10/10; filter keeps ~90%; weights sum to 1") {
    import graft.operators.Curation
    val split = Curation.trainSplit(spark, Sf).cache()
    assert(split.count() === 500)
    // deterministic: second evaluation identical
    val again = Curation.trainSplit(spark, Sf).collect().map(_.toSeq.toList).toSeq
    assert(split.collect().map(_.toSeq.toList).toSeq === again)
    val byFold = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFold.keySet === Set("train", "valid", "test"))
    assert(byFold("train") > 300L) // ~400 expected of 500
    val lf = Curation.lengthFilter(spark, Sf).cache()
    val kept = lf.filter(col("keep")).count().toDouble / lf.count()
    assert(kept >= 0.85 && kept <= 0.95)
    val w = Curation.mixtureWeights(spark, Sf).collect()
    assert(w.nonEmpty)
    // norm is a DECIMAL(25,6)-rounded sum, so allow its rounding granularity
    assert(math.abs(w.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-6)
    assert(w.forall(r => r.getAs[Double]("stop_ratio") >= 0 &&
      r.getAs[Double]("stop_ratio") <= 1))
  }

  test("multimodal: meta matches decode stage on byte counts; decode is deterministic") {
    val meta = Multimodal.mediaMeta(spark, Sf).select("doc_id", "n_bytes", "media_type")
    val dec = Multimodal.decodeFeatures(spark, Sf)
      .select(col("doc_id"), col("n_bytes").as("dec_bytes"), col("media_type").as("dec_type"),
        col("width"), col("height"), col("n_frames"))
    val j = meta.join(dec, "doc_id").cache()
    assert(j.count() === 500)
    assert(j.filter(col("n_bytes") =!= col("dec_bytes")).count() === 0)
    assert(j.filter(col("media_type") =!= col("dec_type")).count() === 0)
    assert(j.filter(col("width") < 16 || col("height") < 16).count() === 0)
    assert(j.filter(col("media_type") =!= "video" && col("n_frames") =!= 1).count() === 0)
  }

  test("resize plan: aspect preserved, longest side hits target, pads non-negative") {
    val r = Multimodal.resizePlan(spark, Sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("out_w") > 224 || col("out_h") > 224).count() === 0)
    // the longest side always scales to exactly the target
    assert(r.filter(greatest(col("out_w"), col("out_h")) =!= 224).count() === 0)
    assert(r.filter(col("pad_x") < 0 || col("pad_y") < 0).count() === 0)
    // aspect ratio preserved within integer truncation: out_w/out_h within
    // one truncation step of width/height
    assert(r.filter(abs(col("out_w") * col("height") - col("out_h") * col("width"))
      > greatest(col("width"), col("height"))).count() === 0)
    assert(r.filter(col("media_type") === "audio").count() === 0)
  }

  test("repetition: known corpus yields exact dup fractions; keep flag fires") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a a a a"),            // 3×"a a" 2-grams (1 uniq), top token 4/4
      (2L, "s t u v w x y z"),    // all distinct → dup 0, top 1/8 → keep
      (3L, "p q p q p q"))        // "p q"/"q p" alternate → heavy dup
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionFrom(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("dup_2gram_frac") === 2.0 / 3.0)
    assert(r(1L).getAs[Double]("top_token_frac") === 1.0)
    assert(!r(1L).getAs[Boolean]("keep"))
    assert(r(2L).getAs[Double]("dup_2gram_frac") === 0.0)
    assert(r(2L).getAs[Double]("dup_3gram_frac") === 0.0)
    assert(r(2L).getAs[Boolean]("keep"))
    // doc 3: 5 2-grams ("p q"×3, "q p"×2) → 2 uniq → dup 3/5
    assert(r(3L).getAs[Double]("dup_2gram_frac") === 3.0 / 5.0)
    assert(!r(3L).getAs[Boolean]("keep"))
  }

  test("pack sequences: offsets bounded, packing contiguous per shard") {
    import graft.operators.Curation
    val p = Curation.packSequences(spark, Sf).cache()
    assert(p.count() === 500)
    assert(p.filter(col("offset_in_seq") < 0 ||
      col("offset_in_seq") >= Curation.PackBudget).count() === 0)
    assert(p.filter(col("crosses_boundary") =!=
      (col("offset_in_seq") + col("n_tokens") > Curation.PackBudget))
      .count() === 0)
    // seq_in_shard is non-decreasing in doc_id within a shard, and the
    // running count reconstructs: cum = seq*budget + offset must equal the
    // sum of earlier docs' tokens in the shard
    val rows = p.orderBy("shard", "doc_id").collect()
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      var cum = 0L
      rs.foreach { r =>
        assert(r.getAs[Long]("seq_in_shard") * Curation.PackBudget +
          r.getAs[Long]("offset_in_seq") === cum)
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("int8 quantization: error bounded by scale/2, nothing clips") {
    import graft.operators.Quantization
    val q = Quantization.int8Stats(spark, Sf).cache()
    assert(q.count() === 500)
    assert(q.filter(col("n_clipped") =!= 0).count() === 0)
    // max-abs symmetric quantization: |err| <= scale/2 everywhere
    assert(q.filter(col("max_err") > col("scale") / 2 + 1e-12).count() === 0)
    assert(q.filter(col("mean_err") > col("max_err")).count() === 0)
    assert(q.filter(col("scale") <= 0).count() === 0)
  }

  test("decontamination: eval docs excluded, counts bounded, flag consistent") {
    import graft.operators.Curation
    val d = Curation.decontaminate(spark, Sf).cache()
    assert(d.count() > 0)
    assert(d.filter(col("doc_id") < Curation.BenchmarkDocs).count() === 0)
    assert(d.filter(col("n_shared") > col("n_shingles")).count() === 0)
    assert(d.filter(col("overlap_frac") < 0 || col("overlap_frac") > 1)
      .count() === 0)
    assert(d.filter(col("contaminated") =!=
      (col("overlap_frac") >= Curation.ContaminationFrac)).count() === 0)
    // the deliberately self-similar corpus must show SOME contamination
    // and SOME clean docs, or the operator proves nothing
    assert(d.filter(col("contaminated")).count() > 0)
    assert(d.filter(!col("contaminated")).count() > 0)
  }

  test("dedup apply: keeps exactly one rep per cluster, drops the rest") {
    import graft.operators.Curation
    val a = Curation.dedupApply(spark, Sf).cache()
    assert(a.count() === 500)
    // kept iff representative; exactly one kept doc per cluster
    assert(a.filter(col("kept") =!= (col("doc_id") === col("cluster_rep")))
      .count() === 0)
    val perCluster = a.groupBy("cluster_rep")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    assert(perCluster.filter(col("n_kept") =!= 1L).count() === 0)
    // retention = number of clusters
    assert(a.filter(col("kept")).count() ===
      a.select("cluster_rep").distinct().count())
  }

  test("lang rebalance: thresholds honored; minority lang fully kept; counts near target") {
    import graft.operators.Curation
    val r = Curation.langRebalance(spark, Sf).cache()
    assert(r.count() === 500)
    assert(r.filter(col("keep") &&
      !(col("bucket") < col("threshold"))).count() === 0)
    val counts = r.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      max("threshold").as("th")).collect()
    val minN = counts.map(_.getAs[Long]("n")).min
    counts.foreach { c =>
      val (lang, n, kept, th) = (c.getAs[String]("lang"), c.getAs[Long]("n"),
        c.getAs[Long]("n_kept"), c.getAs[Long]("th"))
      // the minority language's threshold is the full bucket range
      if (n == minN) assert(th === Curation.RebalanceBuckets)
      // binomial noise around the target: expected minN kept per lang,
      // sd <= sqrt(minN) ~ 8.4 at 500 docs — a +-4-sigma band proves the
      // sampler tracks the target without flaking
      assert(math.abs(kept - minN) <= 4 * math.sqrt(minN.toDouble) + 1,
        s"$lang kept $kept vs target $minN")
    }
  }

  test("pii scrub: each pattern fires, order protects earlier classes, clean text untouched") {
    import spark.implicits._
    val fixtures = Seq(
      (0L, "contact me at jane.doe+x@example.co.uk today"),
      (1L, "server 10.0.0.1 and 192.168.300.7 replied"),
      (2L, "card 12345678901234 expires"),
      (3L, "mix a@b.io via 8.8.8.8 ref 99999999990001"),
      (4L, "no private data here"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrubFrom(fixtures).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("n_emails") === 1)
    assert(out(0L).getAs[String]("scrubbed") === "contact me at <EMAIL> today")
    assert(out(1L).getAs[Long]("n_ipv4") === 2)
    assert(out(1L).getAs[String]("scrubbed") === "server <IP> and <IP> replied")
    assert(out(2L).getAs[Long]("n_digit_runs") === 1)
    assert(out(2L).getAs[String]("scrubbed") === "card <NUM> expires")
    // order: the email keeps its dots/digits (not re-bitten by IP/NUM),
    // the IP is not consumed as a digit run
    assert(out(3L).getAs[String]("scrubbed") === "mix <EMAIL> via <IP> ref <NUM>")
    assert(out(4L).getAs[String]("scrubbed") === "no private data here")
    assert(out(4L).getAs[Long]("n_emails") +
      out(4L).getAs[Long]("n_ipv4") +
      out(4L).getAs[Long]("n_digit_runs") === 0)
    // null text null-propagates across all outputs
    assert(out(5L).isNullAt(out(5L).fieldIndex("scrubbed")))
    assert(out(5L).isNullAt(out(5L).fieldIndex("n_emails")))
  }

  test("kmeans train: full partition, bounded centroids, deterministic across runs") {
    val km = Similarity.kmeansTrain(spark, Sf).cache()
    // every surviving cell carries all Dim dimensions
    val perCell = km.groupBy("cid").agg(
      count(lit(1)).as("n_dims"), max("n_members").as("m"))
    assert(perCell.filter(col("n_dims") =!= Similarity.Dim).count() === 0)
    // the final assignment partitions the corpus: member counts sum to N
    assert(perCell.select(sum("m")).head.getLong(0) === 500)
    assert(perCell.filter(col("m") < 1).count() === 0)
    // centroids are means of unit vectors: every component in [-1, 1]
    assert(km.filter(abs(col("centroid")) > 1.0).count() === 0)
    // fixed-point means are exactly reproducible run to run
    val again = Similarity.kmeansTrain(spark, Sf).collect().map(_.toSeq)
    assert(km.collect().map(_.toSeq).toSeq === again.toSeq)
  }

  test("trained-IVF ANN: ranked per query, cos descending, no self-neighbors") {
    val r = Similarity.ivfTopKTrained(spark, Sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("query_id") === col("neighbor_id")).count() === 0)
    assert(r.filter(col("rank") < 1 || col("rank") > 3).count() === 0)
    // ranks are contiguous and cos non-increasing within each query
    val byQ = r.collect().groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ===
        (1L to sorted.length.toLong))
      val cs = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("correlated subquery decorrelates: one aggregate, no per-row rescan") {
    val df = graft.queries.Relational.corrSubquery(spark, Sf)
    val row = df.collect()
    assert(row.length === 1)
    assert(row(0).getAs[Long]("n_rows") > 0)
    // Catalyst must rewrite the scalar subquery into a join against ONE
    // aggregated lineitem scan — the physical plan may not contain a
    // live subquery expression per input row
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalarSubquery"),
      "correlated scalar subquery was not decorrelated")
  }

  test("tfidf: planted rare term outranks common ones; zero idf for universal terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zebra common common common"),
      (2L, "common common common common"),
      (3L, "common filler filler common")).toDF("doc_id", "text")
    val t = TextAnalysis.tfidfTermsFrom(docs).cache()
    // 'common' is in every doc: idf = ln(1) = 0, so tfidf exactly 0
    assert(t.filter(col("term") === "common" && col("tfidf") =!= 0.0)
      .count() === 0)
    // doc 1's top term must be the planted df=1 'zebra', not 3x 'common'
    val top1 = t.filter(col("doc_id") === 1 && col("rnk") === 1)
      .select("term").as[String].collect()
    assert(top1.toSeq === Seq("zebra"))
    // per-doc ranks are dense from 1 and scores never increase with rank
    val byDoc = t.select("doc_id", "rnk", "tfidf").collect()
      .groupBy(_.getLong(0)).values
    byDoc.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to sorted.length))
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
    }
    t.unpersist()
  }

  test("chunk overlap: fixture chunk layout, 8-token overlap, content hashes") {
    import spark.implicits._
    import graft.operators.Curation
    import graft.operators.Curation.{ChunkSize, ChunkStride}
    val words100 = (0 until 100).map(i => s"w$i")
    val docs = Seq(
      (1L, words100.mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val c = Curation.chunkOverlapFrom(docs).collect()
    val d1 = c.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    // starts stride apart: 1, 25, 49, 73, 97; tails truncate: 32,32,32,28,4
    assert(d1.map(_.getLong(2)).toSeq === Seq(1L, 25L, 49L, 73L, 97L))
    assert(d1.map(_.getLong(4)).toSeq === Seq(32L, 32L, 32L, 28L, 4L))
    // consecutive full chunks overlap by ChunkSize - ChunkStride = 8 tokens
    assert(ChunkSize - ChunkStride === 8)
    // chunk hash is the md5 of the exact token span
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(d1.head.getString(5) ===
      hex(words100.slice(0, ChunkSize).mkString(" ")))
    assert(d1.last.getString(5) === hex(words100.slice(96, 100).mkString(" ")))
    // short doc: one truncated chunk covering everything
    val d2 = c.filter(_.getLong(0) == 2L)
    assert(d2.map(r => (r.getLong(1), r.getLong(4))).toSeq === Seq((0L, 3L)))
  }

  test("embedding covariance: upper triangle, nonneg variances, matches a driver recompute") {
    import graft.operators.Quantization
    val c = Quantization.covarianceStats(spark, Sf).cache()
    val dim = Quantization.Dim
    assert(c.count() === dim.toLong * (dim + 1) / 2)
    assert(c.filter(col("dim_i") > col("dim_j")).count() === 0)
    // diagonal entries are variances: never negative
    assert(c.filter(col("dim_i") === col("dim_j") && col("cov") < 0.0)
      .count() === 0)
    // independent recompute of two entries from the raw vectors with the
    // same quantization and division order — must match BIT-exactly
    val vecs = graft.queries.Tables.embeddings(spark, Sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v =>
        math.floor(v.toDouble * Quantization.CovScale + 0.5).toLong).toArray)
    val n = vecs.length.toDouble
    def entry(i: Int, j: Int): Double = {
      val spp = vecs.map(v => BigDecimal(v(i)) * BigDecimal(v(j))).sum
      val si = vecs.map(v => BigDecimal(v(i))).sum
      val sj = vecs.map(v => BigDecimal(v(j))).sum
      val sc = Quantization.CovScale.toDouble
      val m2 = spp.toDouble / (sc * sc) / n
      val mi = si.toDouble / sc / n
      val mj = sj.toDouble / sc / n
      m2 - mi * mj
    }
    val got = c.filter(col("dim_i") === 0 && (col("dim_j") === 0 || col("dim_j") === 1))
      .orderBy("dim_j").collect().map(_.getAs[Double]("cov"))
    assert(got(0) === entry(0, 0))
    assert(got(1) === entry(0, 1))
    // the pair stage re-explodes per row — no corpus-sized shuffled join
    val plan = c.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus join crept into covariance plan:\n$plan")
    c.unpersist()
  }

  test("encode docs: id sequence preserves token order; OOV maps to OovId") {
    val vocab = TextAnalysis.vocabBuild(spark, Sf)
      .select("term", "vocab_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enc = TextAnalysis.encodeDocs(spark, Sf).cache()
    assert(enc.filter(size(col("ids")) =!= col("n_tokens")).count() === 0)
    assert(enc.filter(col("n_oov") > col("n_tokens")).count() === 0)
    // driver recompute of the first five docs' full id sequences
    val texts = graft.queries.Tables.documents(spark, Sf)
      .filter(col("doc_id") < 5 && col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = enc.filter(col("doc_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("ids"))).toMap
    assert(got.keySet === texts.keySet)
    texts.foreach { case (id, text) =>
      // split(-1) keeps trailing empty tokens, like Spark's split()
      val want = text.split(" ", -1).toSeq
        .map(w => vocab.getOrElse(w, TextAnalysis.OovId))
      assert(got(id) === want, s"doc $id")
    }
    enc.unpersist()
  }

  test("fim split: spans partition the doc, cuts in range, hashes match driver slices") {
    import graft.operators.Curation
    val f = Curation.fimSplit(spark, Sf).cache()
    assert(f.filter(col("n_prefix") + col("n_middle") + col("n_suffix")
      =!= col("n_tokens")).count() === 0)
    assert(f.filter(col("lo") < 0 || col("lo") > col("hi") ||
      col("hi") > col("n_tokens")).count() === 0)
    // content-hash selection: both cohorts populated at the 50% rate
    val nFim = f.filter(col("fim")).count()
    assert(nFim > 100 && nFim < 400)
    // span hashes reconstruct from the raw text on the driver
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val texts = graft.queries.Tables.documents(spark, Sf)
      .filter(col("doc_id") < 5).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    f.filter(col("doc_id") < 5).collect().foreach { r =>
      val toks = texts(r.getLong(0)).split(" ", -1)
      val (lo, hi) = (r.getLong(3).toInt, r.getLong(4).toInt)
      assert(r.getString(8) === hex(toks.slice(0, lo).mkString(" ")))
      assert(r.getString(9) === hex(toks.slice(lo, hi).mkString(" ")))
      assert(r.getString(10) === hex(toks.slice(hi, toks.length).mkString(" ")))
    }
    f.unpersist()
  }

  test("boilerplate: counts bounded by shingles, fraction in [0,1], keep consistent") {
    val b = TextAnalysis.boilerplate(spark, Sf).cache()
    assert(b.count() > 0)
    assert(b.filter(col("n_boiler") > col("n_shingles")).count() === 0)
    assert(b.filter(col("boiler_frac") < 0.0 || col("boiler_frac") > 1.0)
      .count() === 0)
    assert(b.filter(col("keep") =!= (col("boiler_frac") < 0.5)).count() === 0)
    // the corpus IS templated word soup: some spans must recur corpus-wide
    assert(b.filter(col("n_boiler") > 0).count() > 0)
    b.unpersist()
  }

  test("dialog assembly: session partition identical to q14, turn counts consistent") {
    import graft.operators.Curation
    val d = Curation.dialogAssembly(spark, Sf).cache()
    val s = graft.queries.Relational.sessionize(spark, Sf)
    // same sessionization rule ⇒ identical (user, seq) keys and sizes
    val j = d.select("user_id", "session_seq", "n_turns")
      .join(s.select("user_id", "session_seq", "n_events"),
        Seq("user_id", "session_seq"), "full")
    assert(j.filter(col("n_turns").isNull || col("n_events").isNull ||
      col("n_turns") =!= col("n_events")).count() === 0)
    // the dialog string carries exactly n_turns turns
    assert(d.filter(size(split(col("dialog"), " \\| ")) =!= col("n_turns"))
      .count() === 0)
    d.unpersist()
  }

  test("unigram logprob: negative scores, matches a driver recompute bit-exactly") {
    val lp = TextAnalysis.unigramLogProb(spark, Sf).cache()
    assert(lp.filter(col("avg_logprob") >= 0.0).count() === 0)
    // driver recompute with the same quantization and division order
    val texts = graft.queries.Tables.documents(spark, Sf)
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val counts = texts.values.flatten
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val total = counts.values.sum.toDouble
    val sc = TextAnalysis.IdfScale
    val lpScaled = counts.map { case (w, c) =>
      w -> math.floor(math.log(c.toDouble / total) * sc + 0.5).toLong }
    val got = lp.filter(col("doc_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.foreach { case (id, avg) =>
      val toks = texts(id)
      val want = toks.map(lpScaled).sum.toDouble / sc / toks.length.toDouble
      assert(avg === want, s"doc $id")
    }
    lp.unpersist()
  }

  test("quality gate: rows are exactly the curated base; keep = conjunction of flags") {
    import graft.operators.Curation
    val g = Curation.qualityGate(spark, Sf).cache()
    val base = Curation.curatedCorpus(spark, Sf)
    // the gate refines (never grows) the curated base, and since every
    // base doc has >=10 tokens both quality legs cover it: same doc set
    assert(g.select("doc_id").collect().map(_.getLong(0)).toSet
      === base.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(g.filter(col("keep") =!= (col("rep_keep") && col("boiler_keep")))
      .count() === 0)
    assert(g.filter(col("keep")).count() > 0)
    g.unpersist()
  }

  test("standardize: z-scores have ~0 mean and ~1 variance per dimension") {
    import graft.operators.Quantization
    val z = Quantization.standardize(spark, Sf).cache()
    assert(z.count() === 500L * Quantization.Dim)
    val stats = z.groupBy("dim").agg(
      avg(col("z")).as("mz"),
      avg(col("z") * col("z")).as("mz2")).collect()
    stats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-9, s"dim ${r.getLong(0)} mean")
      // population variance of z is exactly 1 up to float error
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6, s"dim ${r.getLong(0)} var")
    }
    z.unpersist()
  }

  test("vocab build: dense ids, counts descending, coverage monotone and bounded") {
    val v = TextAnalysis.vocabBuild(spark, Sf).orderBy("vocab_id").collect()
    assert(v.nonEmpty)
    assert(v.map(_.getLong(3)).toSeq === (1L to v.length))
    val counts = v.map(_.getLong(1)).toSeq
    assert(counts.zip(counts.drop(1)).forall { case (a, b) => a >= b })
    assert(counts.forall(_ >= TextAnalysis.VocabMinCount))
    val cov = v.map(_.getDouble(5)).toSeq
    assert(cov.zip(cov.drop(1)).forall { case (a, b) => a <= b })
    assert(cov.last <= 1.0 && cov.head > 0.0)
    // doc_freq can never exceed total_count nor the corpus size
    assert(v.forall(r => r.getLong(2) <= r.getLong(1)))
  }

  test("dup spans: planted shared spans, covered-token arithmetic at the overlap boundary") {
    import spark.implicits._
    // docs 1/2 share the 5-gram spans "a b c d e" and "b c d e f"
    // (adjacent starts → overlap merges); doc 4 repeats them NON-adjacent
    // (gap 10 ≥ K → two full spans); doc 3 shares nothing
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x a b c d e f y"),
      (3L, "p q r s t u v w"),
      (4L, "a b c d e z1 z2 z3 z4 z5 b c d e f")
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.dupSpansFrom(docs)
      .orderBy("doc_id").collect()
    // (doc_id, n_tokens, n_dup_spans, dup_tokens)
    val got = r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 7L, 2L, 6L),   // starts 0,1 → 5 + min(5,1) = 6 covered
      (2L, 8L, 2L, 6L),
      (3L, 8L, 0L, 0L),
      (4L, 15L, 2L, 10L)  // starts 0,10 → 5 + min(5,10) = 10 covered
    ))
    // frac/keep consistent with the counts
    assert(r.forall(x =>
      math.abs(x.getDouble(4) - x.getLong(3).toDouble / x.getLong(1)) < 1e-15 &&
        x.getBoolean(5) === (x.getDouble(4) < 0.5)))
    graft.util.OperatorCaches.release(spark)
  }

  test("semdedup: full partition; no two kept same-cell vectors are near-dups") {
    import graft.functions.VectorFunctions.{dot, norm, unit}
    val sd = Similarity.semDedup(spark, Sf).cache()
    assert(sd.count() === 500)
    // the corpus has planted near-dup mass: the sweep must drop SOMETHING
    // but never everything
    val nDropped = sd.filter(!col("keep")).count()
    assert(nDropped > 0 && nDropped < 500)
    // greedy invariant: two KEPT members of the same cell are never
    // similar above the threshold (one of them would have dropped the
    // other) — recompute cosines from the raw table
    val u = graft.queries.Tables.embeddings(spark, Sf)
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), unit(col("embedding"), col("nrm")).as("u"))
    val kept = sd.filter(col("keep"))
      .join(u, "vec_id").select(col("cell"), col("vec_id"), col("u"))
    val viol = kept.as("a").join(kept.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", dot(col("a.u"), col("b.u")))
      .filter(col("cos") > Similarity.SemDedupThreshold)
    assert(viol.count() === 0)
    sd.unpersist()
    graft.util.OperatorCaches.release(spark)
  }

  test("source cap: exactly cap kept per full source; no dropped doc outranks a kept one") {
    import graft.operators.Curation
    val r = Curation.sourceCap(spark, Sf).cache()
    assert(r.count() === 500)
    // every test-SF source holds 25 docs > cap=20: exactly cap kept each
    val perSrc = r.filter(col("keep")).groupBy("source").count()
    assert(perSrc.filter(col("count") =!= Curation.SourceCap).count() === 0)
    // ranks are 1..cap within each source, keep ⇔ rank present
    assert(r.filter(col("keep") =!=
      (col("src_rank").isNotNull && col("src_rank") <= Curation.SourceCap))
      .count() === 0)
    // ordering is honored: no dropped doc is strictly longer than a kept
    // doc of the same source
    val keptMin = r.filter(col("keep")).groupBy("source")
      .agg(min(col("n_chars")).as("min_kept"))
    assert(r.filter(!col("keep")).join(keptMin, "source")
      .filter(col("n_chars") > col("min_kept")).count() === 0)
    r.unpersist()
  }

  test("quality classifier: pinned weight derivation; score bounds over the corpus") {
    import spark.implicits._
    // polyHash("the") computed through the same codegen'd expression,
    // then the scramble applied driver-side — one doc of three identical
    // tokens must score exactly 3 x that weight
    val h = Seq("the").toDF("w")
      .select(graft.functions.TextFunctions.polyHash(col("w")))
      .head().getLong(0)
    val bucket = h % TextAnalysis.ClassifierBuckets
    val w = (bucket * 2654435761L) % 2003L - 1001L
    val one = TextAnalysis.qualityClassifierFrom(
        Seq((7L, "the the the")).toDF("doc_id", "text"))
      .head()
    assert(one.getLong(1) === 3L)
    assert(one.getLong(2) === 3 * w)
    assert(one.getDouble(3) === 3 * w / 3.0 / 1000.0)
    // corpus-wide: mean-weight bound |score| <= 1001/1000, keep consistent
    val q = TextAnalysis.qualityClassifier(spark, Sf).cache()
    assert(q.count() > 0)
    assert(q.filter(abs(col("score")) > 1.001).count() === 0)
    assert(q.filter(col("keep") =!= (col("score") > 0.0)).count() === 0)
    assert(q.filter(col("score_sum") > col("n_tokens") * 1001L ||
      col("score_sum") < col("n_tokens") * -1001L).count() === 0)
    q.unpersist()
  }

  test("bloom decontaminate: identical to the exact x29 kept set; bloom prunes; exact confirm kills FPs") {
    import graft.operators.Curation
    val viaBloom = Curation.bloomDecontaminate(spark, Sf).cache()
    // same kept set and same shared-counts as the exact formulation
    val exact = Curation.decontaminate(spark, Sf)
      .filter(!col("contaminated"))
      .select("doc_id", "n_shingles", "n_shared", "overlap_frac")
    assert(viaBloom.count() > 0)
    assert(viaBloom.except(exact).count() === 0)
    assert(exact.except(viaBloom).count() === 0)
    // the sketch path is actually in the plan (not optimized away)
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"BloomFilterMightContain missing from plan:\n${plan.take(2000)}")
    graft.util.OperatorCaches.release(spark)
    viaBloom.unpersist()
  }

  test("ppl buckets: per-lang rank terciles are ordered ranges, sized to thirds up to ties, consistent with x43 scores") {
    val b = TextAnalysis.pplBuckets(spark, Sf).cache()
    val x43 = TextAnalysis.unigramLogProb(spark, Sf)
      .select(col("doc_id"), col("avg_logprob").as("ref"))
    // scores are exactly x43's (the lang key extension changed nothing)
    assert(b.join(x43, "doc_id").filter(col("avg_logprob") =!= col("ref"))
      .count() === 0)
    // buckets are contiguous score ranges per lang: max(tail) < min(middle)
    // < ... (rank cuts cannot interleave); and rank semantics hold
    // exactly — every tail doc's c_le satisfies 3*c_le <= n, which
    // implies per-lang bucket sizes are thirds up to tied-value clusters
    val perLang = b.groupBy("lang").agg(
      max(when(col("bucket") === "tail", col("avg_logprob"))).as("t_max"),
      min(when(col("bucket") === "middle", col("avg_logprob"))).as("m_min"),
      max(when(col("bucket") === "middle", col("avg_logprob"))).as("m_max"),
      min(when(col("bucket") === "head", col("avg_logprob"))).as("h_min"),
      count(lit(1)).as("n"),
      sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("nt"))
    assert(perLang.filter(col("t_max") >= col("m_min")).count() === 0)
    assert(perLang.filter(col("m_max") >= col("h_min")).count() === 0)
    // the tail is never MORE than a third (3*c_le <= n at its top value)
    assert(perLang.filter(col("nt") * 3 > col("n")).count() === 0)
    // every lang has all three buckets at this SF
    val counts = b.groupBy("lang", "bucket").count().collect()
    val langs = b.select("lang").distinct().count()
    assert(counts.length === 3 * langs)
    graft.util.OperatorCaches.release(spark)
    b.unpersist()
  }

  test("pmi collocations: exactly top-k, floor count respected, ordering total and descending") {
    import graft.operators.TextAnalysis
    val p = TextAnalysis.pmiCollocations(spark, Sf).cache()
    val rows = p.collect()
    assert(rows.length === TextAnalysis.TopCollocations)
    assert(rows.forall(_.getLong(2) >= TextAnalysis.MinPairCount))
    // ordering is (pmi desc, w1, w2) — total, so the k-cut is stable
    val key = rows.map(r => (-r.getDouble(3), r.getString(0), r.getString(1)))
    assert(key.sameElements(key.sorted), "result not in (pmi desc, pair) order")
    // PMI sanity: a pair can't have higher count than either word; the
    // scaled bridge means every pmi is an exact multiple of 1/IdfScale
    assert(rows.forall(r =>
      (r.getDouble(3) * TextAnalysis.IdfScale).round.toDouble ===
        r.getDouble(3) * TextAnalysis.IdfScale))
    p.unpersist()
    graft.util.OperatorCaches.release(spark)
  }

  test("bpe merge: picks the weighted argmax pair and merges all disjoint occurrences leftmost-first") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // (e,r) dominates by weight; 'erer' must merge BOTH occurrences,
    // 'rere' only the one disjoint leftmost-first occurrence at pos 2,
    // 'eer' the rightmost via leftmost scan ('e e r' -> 'e er')
    val w = Seq(("erer", 100L), ("rere", 50L), ("eer", 30L), ("ab", 1L))
      .toDF("term", "c")
    val out = TextAnalysis.bpeMergeFrom(w).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out("erer") === "er er")
    assert(out("rere") === "r er e")
    assert(out("eer") === "e er")
    assert(out("ab") === "a b") // untouched by the (e,r) merge
    val row = TextAnalysis.bpeMergeFrom(w).head()
    assert(row.getString(4) === "e" && row.getString(5) === "r")
    // pc = 2*100 (erer) + 1*50 (rere) + 1*30 (eer)
    assert(row.getLong(6) === 280L)
  }

  test("novelty: first doc fully novel; exact duplicate fully stale; counts bounded") {
    import spark.implicits._
    val n = TextAnalysis.novelty(spark, Sf).cache()
    assert(n.filter(col("n_novel") > col("n_shingles")).count() === 0)
    assert(n.filter(col("novelty_frac") < 0.0 || col("novelty_frac") > 1.0)
      .count() === 0)
    // the lowest doc_id with shingles owns all its shingles' first sights
    val first = n.orderBy("doc_id").head()
    assert(first.getLong(1) === first.getLong(2),
      s"first doc must be fully novel: $first")
    // a planted exact duplicate of an earlier doc has zero novelty; a
    // unique doc is fully novel (driven through the same corpus + plants)
    val docs = graft.queries.Tables.documents(spark, Sf)
      .select("doc_id", "text")
      .union(Seq((100000L, "a planted duplicate of nothing else here ok"),
                 (100001L, "a planted duplicate of nothing else here ok"))
        .toDF("doc_id", "text"))
    val sh = graft.operators.Dedup.shingleTableFrom(docs)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val fs = ex.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    val planted = ex.join(fs, "s").groupBy("doc_id")
      .agg(count(lit(1)).as("ns"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("nv"))
      .filter(col("doc_id") >= 100000L).orderBy("doc_id").collect()
    assert(planted(0).getLong(2) === planted(0).getLong(1)) // 100000: all novel
    assert(planted(1).getLong(2) === 0L)                    // 100001: all stale
    graft.util.OperatorCaches.release(spark)
    n.unpersist()
  }

  test("x75 exact decontamination: planted verbatim benchmark prefix flags, " +
      "clean doc does not, short benchmark docs produce no pattern") {
    import spark.implicits._
    import graft.operators.Curation
    val pat = ("b" * Curation.PatternChars) + " tail of the benchmark doc"
    val fixture = Seq(
      (1L, pat),                                     // benchmark, len ≥ 40
      (2L, "short bench"),                           // benchmark, too short
      (30L, "quoted verbatim: " + pat.take(Curation.PatternChars) + " done"),
      (31L, "a perfectly clean training document"),
      (32L, null.asInstanceOf[String])               // null text drops
    ).toDF("doc_id", "text")
    val out = Curation.exactDecontaminateFrom(fixture)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out === Map(30L -> (1L, true), 31L -> (0L, false)))
  }

  test("x76 zipf fit: slope reproduces the quantized least-squares formula " +
      "on a constructed rank/count profile") {
    import spark.implicits._
    import graft.operators.Frequency
    // source 'z': term wi repeated (9-i) times → counts 8,7,...,1 at
    // ranks 1..8 (ties impossible); expected slope re-derived with the
    // operator's own quantization, independently in driver-side Scala
    val text = (1 to 8).flatMap(i => Seq.fill(9 - i)(s"w$i")).mkString(" ")
    val out = Frequency.zipfFitFrom(Seq(("z", text)).toDF("source", "text"))
      .collect()
    assert(out.length === 1 && out.head.getLong(1) === 8L)
    val sc = TextAnalysis.IdfScale
    def q(v: Double) = math.floor(math.log(v) * sc + 0.5).toLong
    val pts = (1 to 8).map(i => (q(i.toDouble), q((9 - i).toDouble)))
    val (n, sx, sy) = (8L, pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val want = -((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
    assert(out.head.getDouble(2) === want)
    // and the profile is genuinely Zipf-ish (slope near 1, not degenerate)
    assert(out.head.getDouble(2) > 0.5 && out.head.getDouble(2) < 1.5)
  }

  test("x77 embedding outliers: a planted distribution-breaking vector ranks " +
      "first; ranks are contiguous; zero-variance dims contribute nothing") {
    import spark.implicits._
    import graft.operators.Quantization
    // dims: [0] varies mildly, [1] constant (σ=0 must contribute 0),
    // [2] zero except the planted outlier
    val emb = Seq(
      (1L, Array(0.10f, 5.0f, 0.0f)),
      (2L, Array(0.20f, 5.0f, 0.0f)),
      (3L, Array(0.15f, 5.0f, 0.0f)),
      (4L, Array(0.12f, 5.0f, 0.0f)),
      (5L, Array(0.11f, 5.0f, 9.9f)) // the outlier
    ).toDF("vec_id", "embedding")
    val out = Quantization.embeddingOutliersFrom(emb).collect()
    assert(out.length === 5)
    assert(out.map(_.getLong(0)).toSeq === (1L to 5L)) // contiguous ranks
    assert(out.head.getLong(1) === 5L, s"planted outlier must rank 1: ${out.toSeq}")
    assert(out.head.getDouble(2) > out(1).getDouble(2),
      "outlier score must lead strictly")
    // z-scores are standardized: the non-outliers' dim-0 noise keeps
    // them near Σz² ≈ Dim·O(1) while the planted dim-2 spike adds ≈4
    assert(out.map(_.getDouble(2)).toSeq === out.map(_.getDouble(2)).sorted.reverse.toSeq)
    graft.util.OperatorCaches.release(spark)
  }

  test("x78 stratified sample: integer thresholds balance to the smallest " +
      "stratum; the full-rate stratum keeps everything; output ⊆ input") {
    import spark.implicits._
    import graft.operators.Curation
    val fixture = (1L to 40L).map(i => (i, "big", s"doc number $i content")) ++
      (41L to 50L).map(i => (i, "small", s"doc number $i content"))
    val out = Curation.stratifiedSampleFrom(
      fixture.toDF("doc_id", "source", "text")).collect()
    val bySource = out.groupBy(_.getString(1))
    // thr(small) = 10*1e6/10 = 1e6 > any bucket → ALL small docs kept
    assert(bySource("small").length === 10)
    assert(out.forall(r => r.getLong(2) < r.getLong(3)), "bucket < thr")
    assert(bySource("big").forall(_.getLong(3) === 250000L), "thr = 10M/40")
    // content-keyed determinism: a second run selects identical rows
    val again = Curation.stratifiedSampleFrom(
      fixture.toDF("doc_id", "source", "text")).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("x79 quantile calibration: per-source histogram P25 threshold is exact " +
      "and the keep verdict drops strictly-below-threshold docs") {
    import spark.implicits._
    // source 'a': lengths 1..8 → k = ⌈8·25/100⌉ = 2 → threshold 2;
    // source 'b': lengths {3,3,3,9} → k = 1 → threshold 3 (all kept)
    val fixture =
      (1L to 8L).map(i => (i, "a", (1 to i.toInt).map(_ => "w").mkString(" "))) ++
      Seq((11L, "b", "w w w"), (12L, "b", "w w w"), (13L, "b", "w w w"),
        (14L, "b", (1 to 9).map(_ => "w").mkString(" ")))
    val out = TextAnalysis.quantileCalibrateFrom(
      fixture.toDF("doc_id", "source", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(out(1L) === ((1L, 2L, false))) // below P25 → dropped
    assert(out(2L) === ((2L, 2L, true)))  // at threshold → kept
    assert(out(8L) === ((8L, 2L, true)))
    assert((11L to 14L).forall(out(_)._3), "source b keeps everything")
    assert(out(11L)._2 === 3L)
  }

  test("x80 passage dedup: a shared passage keeps only its first occurrence; " +
      "the earliest doc keeps everything; counts and fractions are exact") {
    import spark.implicits._
    import graft.operators.Dedup
    val pt = Dedup.PassageTokens
    val shared = (1 to pt).map(i => s"s$i").mkString(" ")   // one full passage
    val uniq = (1 to pt).map(i => s"u$i").mkString(" ")
    val fixture = Seq(
      (1L, shared + " " + uniq),          // passages: shared, uniq → both kept
      (2L, shared + " " + shared),        // both = shared, both lose to doc 1
      (3L, uniq.replace("u", "v"))        // unique → kept
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedupFrom(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) === ((2L, 2L, 0.0)))
    assert(out(2L) === ((2L, 0L, 1.0)))
    assert(out(3L) === ((1L, 1L, 0.0)))
  }

  test("x81 importance selection: target-vocabulary docs score positive, " +
      "background-only docs negative; the ratio matches a driver recompute") {
    import spark.implicits._
    // target (en) speaks 'aa bb', background (de) speaks 'cc dd':
    // disjoint vocabularies → en docs lean target, de docs lean away
    val fixture = Seq(
      (1L, "en", "aa bb aa bb"), (2L, "en", "aa aa bb bb"),
      (3L, "de", "cc dd cc dd"), (4L, "de", "dd dd cc cc"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.importanceSelectFrom(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L)._1 > 0.0 && out(1L)._2)
    assert(out(3L)._1 < 0.0 && !out(3L)._2)
    // driver-side recompute of doc 1's score with the same quantization:
    // cb(aa)=4, ct(aa)=4, tb=16, tt=8, v=4
    val sc = TextAnalysis.IdfScale
    def q(v: Double) = math.floor(math.log(v) * sc + 0.5).toLong
    val lw = q(5.0 / 12.0) - q(5.0 / 20.0) // both aa and bb have cb=4, ct=4
    assert(out(1L)._1 === lw * 4.0 / sc / 4.0)
    graft.util.OperatorCaches.release(spark)
  }

  test("x82 weighted sample: keys match the ES formula recomputed driver-side, " +
      "ranks are contiguous, and the draw is deterministic") {
    import spark.implicits._
    import graft.operators.Curation
    val fixture = (1L to 30L)
      .map(i => (i, s"src${i % 3}", (1 to (i % 7 + 2).toInt)
        .map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = Curation.weightedSampleFrom(fixture).collect()
    assert(out.length === 30) // k=100 > n → everything sampled, ordered
    assert(out.map(_.getLong(0)).toSeq === (1L to 30L))
    val keys = out.map(r => (r.getLong(1), r.getDouble(4)))
    assert(keys.map(_._2).toSeq === keys.map(_._2).sorted.reverse.toSeq)
    // recompute one doc's key: u from the content polyhash, ln quantized
    val row = out.find(_.getLong(1) === 5L).get
    val text = (1 to (5 % 7 + 2)).map(j => s"w5-$j").mkString(" ")
    val h = text.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val u = (h % Curation.SampleUScale + 1).toDouble / Curation.SampleUScale
    val lnu = math.floor(math.log(u) * Curation.SampleUScale + 0.5).toLong
    val w = text.split(" ").length.toLong
    assert(row.getDouble(4) === lnu.toDouble / w.toDouble)
    val again = Curation.weightedSampleFrom(fixture).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("x83 language mixture: a code-switching doc reports both languages " +
      "with the majority dominant; a marker-free doc is 'und' and unmixed") {
    import spark.implicits._
    val mw = TextAnalysis.MixWindow
    val en = Seq.fill(mw / 4)("the is and of").mkString(" ")  // one en window
    val de = Seq.fill(mw / 4)("der die das und").mkString(" ")
    val fixture = Seq(
      (1L, s"$en $de $de"),             // 3 windows: 1 en + 2 de → de dominant
      (2L, en),                          // monolingual
      (3L, "xx yy zz ww xx yy zz ww"))   // no markers → und
      .toDF("doc_id", "text")
    val out = TextAnalysis.langMixtureFrom(fixture).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((3L, 2L, "de", true)))
    assert(out(2L) === ((1L, 1L, "en", false)))
    assert(out(3L) === ((1L, 0L, "und", false)))
  }

  test("x84 bigram LM: per-bigram scores are ln(c12/c1) quantized, summed " +
      "exactly; deterministic transitions score 0; the backoff constant pins") {
    import spark.implicits._
    // doc 1 'a b a b ...': c12(a,b)=8/c1(a)=8 → 0, c12(b,a)=7/c1(b)=8 < 0;
    // doc 2 'c d e f g h': every transition count 1 over c1 1 → exactly 0
    val fixture = Seq(
      (1L, Seq.fill(8)("a b").mkString(" ")),
      (2L, "c d e f g h"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmFrom(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 === 15L) // 16 tokens → 15 bigrams
    assert(out(2L)._1 === 5L)
    val sc = TextAnalysis.IdfScale
    def q(v: Double) = math.floor(math.log(v) * sc + 0.5).toLong
    assert(out(1L)._2 === q(7.0 / 8.0) * 7.0 / sc / 15.0)
    assert(out(2L)._2 === 0.0)
    // stupid-backoff constant: floor(ln(0.4)·scale + 0.5) exactly
    assert(TextAnalysis.BackoffLnScaled === q(0.4))
    graft.util.OperatorCaches.release(spark)
  }

  test("x86 token budget: the water-filling level matches the hand-solved " +
      "allocation, exhausts the budget, and handles the λ=0 edge") {
    import spark.implicits._
    import graft.operators.Curation
    def doc(id: Long, src: String, n: Int) =
      (id, src, (1 to n).map(i => s"t$i").mkString(" "))
    // counts a=2 b=4 c=10 d=20, total 36, budget 18:
    // k=2 → λ = (18-6) div 2 = 6 → quotas 2,4,6,6 (= 18 exactly)
    val fixture = Seq(doc(1, "a", 2), doc(2, "b", 4), doc(3, "c", 10),
      doc(4, "d", 20)).toDF("doc_id", "source", "text")
    val out = Curation.tokenBudgetFrom(fixture).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out === Map(
      "a" -> ((2L, 2L, false)), "b" -> ((4L, 4L, false)),
      "c" -> ((10L, 6L, true)), "d" -> ((20L, 6L, true))))
    assert(out.values.map(_._2).sum === 18L, "quotas exhaust the budget")
    graft.util.OperatorCaches.release(spark)
    // λ=0 edge: 3 sources × 1 token, budget = 3·50% = 1 < S → λ=0
    val tiny = Seq(doc(1, "a", 1), doc(2, "b", 1), doc(3, "c", 1))
      .toDF("doc_id", "source", "text")
    val z = Curation.tokenBudgetFrom(tiny).collect()
    assert(z.forall(r => r.getLong(2) === 0L && r.getBoolean(3)))
    graft.util.OperatorCaches.release(spark)
  }

  test("x87 CDC chunk stats: the codegen'd plan reproduces the model's cut " +
      "rule; boundaries survive a prepended edit where fixed windows shift") {
    import spark.implicits._
    import graft.expressions.CdcChunks
    import graft.operators.Curation
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val edited = "PREPENDED HEADER " + base
    val fixture = Seq((1L, base), (2L, edited), (3L, "short"))
      .toDF("doc_id", "text")
    val out = Curation.cdcChunkStatsFrom(fixture).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // stats must equal the model's (codegen path == model)
    Seq(1L -> base, 2L -> edited, 3L -> "short").foreach { case (id, s) =>
      val m = CdcChunks.compute(s).toIntArray()
      assert(out(id) === ((s.length.toLong, m.length.toLong,
        m.max.toLong, s.length.toDouble / m.length)), s"doc $id")
    }
    // content-defined robustness: every boundary of the base text
    // reappears in the edited text shifted by exactly the edit length
    // (after the rolling window clears the edit) — fixed windows can't
    // do this
    def cutsOf(s: String) =
      CdcChunks.compute(s).toIntArray().scanLeft(0)(_ + _).drop(1).dropRight(1).toSet
    val shift = "PREPENDED HEADER ".length
    val expected = cutsOf(base).map(_ + shift)
      .filter(_ > shift + CdcChunks.Window)
    assert(expected.subsetOf(cutsOf(edited)),
      "content-defined boundaries must survive a prepended edit")
  }

  test("x88 Luhn PAN detection: valid card-shaped runs flag, checksum-broken " +
      "and out-of-length runs do not") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "pay with 4539578763621486 please"),        // Luhn-valid 16-digit
      (2L, "ref 4539578763621487 is a typo"),          // checksum broken
      (3L, "order 123456789012 and phone 5551234"),    // 12 digits: too short
      (4L, "double 4539578763621486 and 6011000990139424 hit"), // both valid
      (5L, "no numbers here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.luhnPanFrom(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) === ((1L, 1L, true)))
    assert(out(2L) === ((1L, 0L, false)))
    assert(out(3L) === ((0L, 0L, false)))
    assert(out(4L) === ((2L, 2L, true)))
    assert(out(5L) === ((0L, 0L, false)))
  }

  test("x89 vocabulary coverage: the curve matches a constructed count " +
      "profile with deterministic rank ties") {
    import spark.implicits._
    // 300 distinct terms: term k occurs (301-k) times → rank k = term k.
    // K=256 covers sum(301-k, k=1..256); total = sum(301-k, k=1..300)
    val text = (1 to 300).flatMap(k => Seq.fill(301 - k)(f"t$k%03d"))
      .mkString(" ")
    val out = TextAnalysis.vocabCoverageFrom(Seq(Tuple1(text)).toDF("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val total = (1 to 300).map(301 - _).sum.toLong
    val c256 = (1 to 256).map(301 - _).sum.toLong
    assert(out(256L) === ((c256, total, c256.toDouble / total)))
    // K ≥ vocab size covers everything
    assert(out(1024L) === ((total, total, 1.0)))
    assert(out(16384L)._3 === 1.0)
    graft.util.OperatorCaches.release(spark)
  }

  test("x90 cluster quality: memberships sum to the corpus, cohesion beats " +
      "separation on trained cells, metrics agree with x33's sizes") {
    import graft.operators.Similarity
    val q = Similarity.clusterQuality(spark, Sf).cache()
    val rows = q.collect()
    val nVecs = graft.queries.Tables.embeddings(spark, Sf).count()
    assert(rows.map(_.getLong(1)).sum === nVecs, "members partition the corpus")
    // sizes must agree with x33's published n_members per cell
    val x33Sizes = Similarity.kmeansTrain(spark, Sf)
      .select("cid", "n_members").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap === x33Sizes)
    // cohesion: members are closer (in cosine) to their own centroid
    // than that centroid is to its nearest rival, on average
    rows.foreach { r =>
      assert(r.getDouble(2) > r.getDouble(3) - 0.5,
        s"cell ${r.getLong(0)} cohesion ${r.getDouble(2)} vs separation ${r.getDouble(3)}")
      assert(r.getDouble(2) <= 1.0 + 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
    }
    q.unpersist()
    graft.util.OperatorCaches.release(spark)
  }

  test("x91 event transitions: counts follow the per-user (ts, event_id) " +
      "order and probabilities condition on the from-type") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    def ev(id: Long, u: Long, m: Int, t: String) =
      (id, u, java.sql.Timestamp.valueOf(f"2024-01-15 10:$m%02d:00"), t)
    // user 1: a→b→a; user 2: a→b (same-ts tie broken by event_id)
    val fixture = Seq(ev(1, 1, 0, "a"), ev(2, 1, 1, "b"), ev(3, 1, 2, "a"),
      ev(4, 2, 0, "a"), ev(5, 2, 0, "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventAnalytics.eventTransitionsFrom(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out === Map(
      ("a", "b") -> ((2L, 2L, 1.0)),
      ("b", "a") -> ((1L, 1L, 1.0))))
  }

  test("x92 dup-degree histogram: a partition of the corpus whose edge mass " +
      "equals twice the x5 pair count") {
    import graft.operators.Dedup
    val hist = Dedup.dupDegreeHistogram(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nDocs = graft.queries.Tables.documents(spark, Sf).count()
    assert(hist.map(_._2).sum === nDocs, "histogram partitions the corpus")
    val nPairs = Dedup.simhashPairs(spark, Sf).count()
    assert(hist.map { case (d, n) => d * n }.sum === 2 * nPairs,
      "sum of degrees must be twice the pair count")
    assert(hist.map(_._1).toSeq === hist.map(_._1).sorted.toSeq)
    graft.util.OperatorCaches.release(spark)
  }

  test("x93 bigram conditional entropy: a deterministic-transition source " +
      "scores exactly 0; a mixed source matches the quantized formula") {
    import spark.implicits._
    import graft.operators.CorpusStats
    val fixture = Seq(
      ("det", "a b a b a b"),      // every transition determined → H = 0
      ("mix", "x y x z x y x z")) // c12: xy2 yx2 xz2 zx1; c1: x4 y2 z1
      .toDF("source", "text")
    val out = CorpusStats.bigramEntropyFrom(fixture).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("det") === ((5L, 0.0)))
    val sc = graft.operators.TextAnalysis.IdfScale
    def q(v: Double) = math.floor(math.log(v) * sc + 0.5).toLong
    // Σ c12·q(ln(c12/c1)) over xy(2,4) yx(2,2) xz(2,4) zx(1,1)
    val s = 2 * q(2.0 / 4) + 2 * q(2.0 / 2) + 2 * q(2.0 / 4) + 1 * q(1.0 / 1)
    assert(out("mix") === ((7L, -(s.toDouble / sc / 7.0))))
  }

  test("x94 composed gate v2: each signal vetoes independently and a clean " +
      "doc above its source's P25 keeps") {
    import spark.implicits._
    import graft.operators.Curation
    val clean = (1 to 40).map(i => s"w$i").mkString(" ")
    val lowEntropy = Seq.fill(200)("x").mkString(" ")  // CDC never cuts 'x x…'?
    val pan = clean + " 4539578763621486"
    // source 'a': lengths 10,20,30,40 → P25 threshold = 10 → all clear (a)
    def doc(id: Long, src: String, text: String) = (id, src, text)
    val fixture = Seq(
      doc(1, "a", (1 to 10).map(i => s"t$i").mkString(" ")),
      doc(2, "a", (1 to 20).map(i => s"t$i").mkString(" ")),
      doc(3, "a", (1 to 30).map(i => s"t$i").mkString(" ")),
      doc(4, "a", clean),            // clean, above threshold → keep
      doc(5, "b", pan),              // Luhn-valid PAN → veto
      doc(6, "b", lowEntropy),       // giant CDC chunk → veto (if > gate)
      doc(7, "b", clean))
      .toDF("doc_id", "source", "text")
    val out = Curation.qualityGate2From(fixture).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(4L)._3, s"clean doc must keep: ${out(4L)}")
    assert(out(5L)._2 === 1L && !out(5L)._3, "PAN must veto")
    // the repetitive doc's max chunk must exceed the gate (its content
    // gives the rolling hash no variation to cut on) and veto
    assert(out(6L)._1 > Curation.MaxChunkGate && !out(6L)._3,
      s"low-entropy doc must veto via max_chunk: ${out(6L)}")
    assert(out(7L)._3, "clean doc in source b keeps")
  }

  test("x95 media dedup: identical blobs pair within their media type only, " +
      "the bucket cap suppresses a mass family, degrees match the model") {
    import spark.implicits._
    import graft.functions.TextFunctions.ahash64
    // doc_id mod 3 picks the media type (0=image, 1=audio, 2=video)
    val trioText = "alpha beta gamma delta epsilon zeta eta theta"
    val trio = Seq(3L, 9L, 12L).map(i => (i, trioText))         // image
    // NON-ASCII payload (multi-byte UTF-8, incl. a non-BMP code point):
    // byte-identical copies must hash identically and pair — this is the
    // case the old character-stream hash got right only by ASCII luck
    val uniText = "héllo wörld 汉字テスト 🚀 naïve café über ñandú"
    val audioPair = Seq(1L, 4L).map(i => (i, "iota kappa lambda mu nu xi"))
    val uniPair = Seq(7L, 10L).map(i => (i, uniText))            // audio
    val crossType = Seq((2L, trioText))                          // video, same payload
    // 300 byte-identical image blobs: every band bucket they form holds
    // 300 (> MaxBandBucket) members, so the whole family must be cut
    val boiler = (0 until 300).map(i =>
      (3000L + 3 * i, "mass family boilerplate payload bytes"))
    val chaff = (0 until 20).map(i =>
      (9001L + 3 * i, s"unique${i}a unique${i}b unique${i}c unique${i}d"))
    val docs = (trio ++ audioPair ++ uniPair ++ crossType ++ boiler ++ chaff)
      .toDF("doc_id", "text")
    val allDocs = trio ++ audioPair ++ uniPair ++ crossType ++ boiler ++ chaff
    val out = Multimodal.mediaDupsFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    graft.util.OperatorCaches.release(spark)
    // every hash equals the byte model (magic + UTF-8 payload) — incl.
    // the multi-byte/non-BMP payloads
    allDocs.foreach { case (id, t) =>
      assert(out(id)._2 === aHashModel(blobBytes(id, t)),
        s"ahash($id) diverges from the byte model")
    }
    // identical payloads → identical blobs within a type (same magic),
    // within-type pairing: each trio member partners with the other two,
    // never the video copy (different magic AND the media_type join key)
    Seq(3L, 9L, 12L).foreach { id =>
      assert(out(id)._1 === "image" && out(id)._3 === 2L,
        s"trio member $id: ${out(id)}")
    }
    assert(out(2L)._3 === 0L, "the video copy must not pair across types")
    Seq(1L, 4L).foreach { id => assert(out(id)._3 === 1L) }
    Seq(7L, 10L).foreach { id => assert(out(id)._3 === 1L,
      s"non-ASCII byte-identical pair must match: $id -> ${out(id)}") }
    // the 300-copy family exceeds every chunk bucket's cap → no pairs
    boiler.foreach { case (id, _) => assert(out(id)._3 === 0L,
      s"capped mass-family member $id reported partners") }
    // degrees equal the brute-force model: within-type Hamming ≤ 3 pairs
    // where at least one shared chunk's bucket is under the cap
    val sig = out.toSeq.map { case (id, (mt, h, _)) => (id, mt, h) }
    val bucket = scala.collection.mutable.Map.empty[(Int, Long, String), Int]
      .withDefaultValue(0)
    for ((_, mt, h) <- sig; c <- 0 until 4)
      bucket((c, (h >> (c * 16)) & 0xffffL, mt)) += 1
    val modelDeg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      (ida, mta, ha) <- sig; (idb, mtb, hb) <- sig
      if ida < idb && mta == mtb &&
        java.lang.Long.bitCount(ha ^ hb) <= 3 &&
        (0 until 4).exists { c =>
          ((ha >> (c * 16)) & 0xffffL) == ((hb >> (c * 16)) & 0xffffL) &&
            bucket((c, (ha >> (c * 16)) & 0xffffL, mta)) <= Dedup.MaxBandBucket
        }
    } { modelDeg(ida) += 1; modelDeg(idb) += 1 }
    sig.foreach { case (id, _, _) =>
      assert(out(id)._3 === modelDeg(id), s"degree mismatch for $id")
    }
  }

  /** Driver-side blob derivation — mirrors
    * [[graft.operators.Multimodal.blobOf]]: per-type container magic ++
    * the payload's UTF-8 bytes. */
  private def blobBytes(id: Long, text: String): Array[Byte] = {
    val mt = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val hexStr = Multimodal.MagicHex(mt)
    val magic = hexStr.grouped(2)
      .map(h => Integer.parseInt(h, 16).toByte).toArray
    magic ++ text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Driver-side reference of [[graft.expressions.AHash64]] (two-pass
    * bucket means vs global mean over UNSIGNED BYTES) — GraftProperties
    * pins the expression against the same formula. */
  private def aHashModel(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64); val counts = new Array[Long](64)
    var total = 0L
    for (i <- 0 until n) {
      val v = (bytes(i) & 0xff).toLong
      val b = ((i.toLong * 64L) / n).toInt
      sums(b) += v; counts(b) += 1L; total += v
    }
    (0 until 64).foldLeft(0L) { (h, k) =>
      if (BigInt(sums(k)) * n > BigInt(total) * counts(k)) h | (1L << k)
      else h
    }
  }

  test("x96 video frame dups: aligned partial copies pair by containment, " +
      "single shared frames don't, the DF cap kills the mass frame, and " +
      "counts/digests/degrees match the model") {
    import spark.implicits._
    // 32-char frames of decorrelated content (seeded, deterministic)
    def frame(i: Int): String = {
      val rng = new scala.util.Random(4242 + i)
      (0 until Multimodal.FrameSliceBytes)
        .map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    val Seq(f0, f1, f2, f3, f4, f5, g1, g2) = (0 to 7).map(frame)
    // video ids ≡ 2 (mod 3). NOTE the magic header's side effect: every
    // all-lowercase video's FIRST byte frame is [magic + 24 letters],
    // and since every letter byte exceeds that frame's mean (the magic
    // bytes drag it down) its aHash is IDENTICAL across all such videos
    // — a mass-common "intro frame" that the DF cap cuts, exactly the
    // blank-intro case the cap exists for. Planted pairs therefore ride
    // the PAYLOAD frames.
    val fixture = Seq(
      2L -> (f0 + f1 + f2 + f3),            // A
      5L -> (f0 + f1 + f2 + f3 + f4),       // B: shares A's payload frames
      8L -> (f0 + f5 + g1 + g2),            // C: nothing kept shared → no pair
      11L -> (f0 + f1 + f2),                // D: contained in A and B
      14L -> (f0 + f1 + f2 + "shortend"),   // E: 8-byte tail slice
      // NON-ASCII copies (multi-byte UTF-8 split ACROSS byte frames —
      // the case character slicing can't even express): identical
      // payloads → identical byte frames → must pair
      17L -> ("héllo汉字🚀 " * 12),
      20L -> ("héllo汉字🚀 " * 12)
    ) ++ (0 until 300).map(i => (3002L + 3 * i) -> frame(9)) ++
      (0 until 10).map(i => (5000L + 3 * i) -> (frame(20 + i) + frame(40 + i)))
    val docs = fixture.toDF("doc_id", "text")
    val out = Multimodal.videoFrameDupsFrom(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    // driver-side model: blob bytes → 32-byte slices → aHash → DF cap →
    // containment pairing
    val sets = fixture.map { case (id, t) =>
      id -> blobBytes(id, t).grouped(Multimodal.FrameSliceBytes)
        .map(aHashModel).toList }
    val dfreq = sets.flatMap { case (id, fs) => fs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (h, xs) => h -> xs.size }
    val kept = (h: Long) => dfreq(h) <= Dedup.MaxBandBucket
    val dist = sets.map { case (id, fs) => id -> fs.distinct.toSet }.toMap
    val modelDeg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      (a, sa) <- dist; (b, sb) <- dist if a < b
      m = (sa intersect sb).count(kept)
      if m >= Multimodal.MinFrameMatches && 2 * m >= math.min(sa.size, sb.size)
    } { modelDeg(a) += 1; modelDeg(b) += 1 }
    // fixture potency: the model itself must exhibit the planted cases
    assert(modelDeg(2L) >= 2 && modelDeg(5L) >= 2, "A/B/D family must pair")
    assert(modelDeg(8L) === 0L, "a single shared frame must not pair")
    assert(modelDeg(14L) >= 1L, "the tail-slice video must pair")
    assert(modelDeg(3002L) === 0L, "capped mass frame must not pair")
    assert(modelDeg(17L) >= 1L && modelDeg(20L) >= 1L,
      "non-ASCII byte-identical videos must pair")
    // full agreement with the operator
    sets.foreach { case (id, fs) =>
      val (nf, ndx, dig, deg) = out(id)
      assert(nf === fs.size.toLong, s"n_frames($id)")
      assert(ndx === fs.distinct.size.toLong, s"n_distinct_frames($id)")
      assert(dig === fs.distinct.fold(0L)(_ ^ _), s"frame_digest($id)")
      assert(deg === modelDeg(id), s"n_partners($id)")
    }
  }

  test("x97 audio landmarks: a prefix-shifted copy matches at one offset " +
      "delta (the case whole-blob hashing misses), the cap kills the mass " +
      "family, and counts/digests/degrees match the model") {
    import spark.implicits._
    def polyhash(b: Array[Byte]): Long =
      b.foldLeft(0L)((a, c) => (a * 31 + (c & 0xff).toLong) % 1000000007L)
    val rng = new scala.util.Random(7)
    val p = (0 until 400).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val scrambled = (0 until 200).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
    // NON-ASCII payload: the shifted-copy property must survive
    // multi-byte UTF-8 (CDC boundaries land mid-code-point — a case
    // character chunking can't even express)
    val uni = "héllo汉字🚀 köln née φάρος " * 14
    // audio ids ≡ 1 (mod 3)
    val fixture = Seq(1L -> p, 4L -> ("INTRO:" + p), 7L -> scrambled,
      10L -> uni, 13L -> ("präfix:" + uni)) ++
      (0 until 300).map(i => (3001L + 3 * i) -> p.take(100))
    val docs = fixture.toDF("doc_id", "text")
    val out = Multimodal.audioLandmarkDupsFrom(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    // driver-side model: blob bytes → CDC chunks (the expression's own
    // byte model) → (start, len, polyhash) landmarks → DF cap →
    // delta-vote pairing
    val chunks = fixture.map { case (id, t) =>
      val bb = blobBytes(id, t)
      val lens = graft.expressions.CdcChunks.compute(bb).toIntArray()
      val starts = lens.scanLeft(0)(_ + _).init
      id -> starts.zip(lens).map { case (st, ln) =>
        (st.toLong, ln.toLong, polyhash(bb.slice(st, st + ln))) }.toList
    }
    val marks = chunks.map { case (id, cs) =>
      id -> cs.filter(_._2 >= Multimodal.MinLandmarkBytes) }
    val buckets = marks.flatMap { case (_, ms) => ms.map(m => (m._3, m._2)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size }
    val keptM = marks.map { case (id, ms) =>
      id -> ms.filter(m => buckets((m._3, m._2)) <= Dedup.MaxBandBucket) }.toMap
    val modelDeg = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      (a, ma) <- keptM; (b, mb) <- keptM if a < b
      votes = (for { x <- ma; y <- mb if x._3 == y._3 && x._2 == y._2 }
        yield x._1 - y._1).groupBy(identity).map(_._2.size)
      if votes.exists(_ >= Multimodal.LandmarkVotes)
    } { modelDeg(a) += 1; modelDeg(b) += 1 }
    // fixture potency: the shifted copy MUST match (offset-robustness),
    // the scrambled doc must not, the capped mass family must not
    assert(modelDeg(1L) >= 1L && modelDeg(4L) >= 1L,
      "prefix-shifted copy must landmark-match")
    assert(modelDeg(7L) === 0L)
    assert(modelDeg(10L) >= 1L && modelDeg(13L) >= 1L,
      "non-ASCII prefix-shifted copy must landmark-match")
    assert(modelDeg(3001L) === 0L, "capped mass family must not pair")
    chunks.foreach { case (id, cs) =>
      val ms = marks.toMap.apply(id)
      val (nc, nl, dig, deg) = out(id)
      assert(nc === cs.size.toLong, s"n_chunks($id)")
      assert(nl === ms.size.toLong, s"n_landmarks($id)")
      assert(dig === ms.map(_._3).sum, s"lm_digest($id)")
      assert(deg === modelDeg(id), s"n_partners($id)")
    }
  }

  test("x98 source mixture: sqrt temperature gives a 100x source only 10x " +
      "the weight, scores/weights/oversampling match the closed form") {
    import spark.implicits._
    val fixture = ((1 to 100).map(i => (i.toLong, "small")) ++
      (101 to 10100).map(i => (i.toLong, "big"))).toDF("doc_id", "source")
    val out = graft.operators.Curation.temperatureMixtureFrom(fixture).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    val qSmall = math.floor(math.sqrt(100.0) * 1e6).toLong    // 10_000_000
    val qBig = math.floor(math.sqrt(10000.0) * 1e6).toLong    // 100_000_000
    val qt = (qSmall + qBig).toDouble
    assert(out("small") === ((100L, 100.0 / 10100.0, qSmall,
      qSmall / qt, qSmall / qt * 10100.0 / 100.0)))
    assert(out("big") === ((10000L, 10000.0 / 10100.0, qBig,
      qBig / qt, qBig / qt * 10100.0 / 10000.0)))
    // the smoothing claim: raw 100x ratio compresses to exactly 10x
    assert(out("big")._4 / out("small")._4 === 10.0)
    assert(out("small")._5 > 1.0 && out("big")._5 < 1.0,
      "small sources oversample, large ones undersample")
  }

  test("x99 LSH recall eval: equals the driver-side recomposition of x2 " +
      "and x3's own outputs, with exact band totals") {
    import graft.operators.Dedup
    val truth = Dedup.ngramJaccard(spark, Sf)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pred = Dedup.minhashLsh(spark, Sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = truth.filter(_._3 >= Dedup.RecallTau)
      .groupBy(t => math.min(math.floor(t._3 * 10).toLong, 9L))
      .map { case (band, ts) =>
        val found = ts.count(t => pred((t._1, t._2))).toLong
        band -> ((ts.length.toLong, found,
          found.toDouble / ts.length.toDouble))
      }
    val out = Dedup.lshRecallEval(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.util.OperatorCaches.release(spark)
    assert(out === expected)
    assert(out.nonEmpty, "eval must be non-vacuous at Sf")
    out.values.foreach { case (nTrue, nFound, recall) =>
      assert(nFound <= nTrue && recall === nFound.toDouble / nTrue)
    }
  }

  test("x99 eval core: a missed pair lowers only its own band's recall") {
    import spark.implicits._
    import graft.operators.Dedup
    val truthPairs = Seq(
      (1L, 2L, 0.95), (3L, 4L, 0.92),   // band 9: one found, one missed
      (5L, 6L, 0.55),                    // band 5: found
      (7L, 8L, 0.02)                     // below tau: excluded entirely
    ).toDF("doc_a", "doc_b", "jaccard")
    val predPairs = Seq((1L, 2L), (5L, 6L), (9L, 10L))
      .toDF("doc_a", "doc_b")            // (9,10) is not truth: ignored
    val out = Dedup.lshRecallFrom(truthPairs, predPairs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      9L -> ((2L, 1L, 0.5)),
      5L -> ((1L, 1L, 1.0))))
  }

  test("x100 NB distillation: trained log-odds separate the teacher's " +
      "classes on a planted fixture and match the closed form") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val stops = graft.functions.TextFunctions.Stopwords
    def polyhash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    // 3 all-stopword docs (teacher: good) + 3 disjoint-token docs
    // (teacher: bad); one shared neutral token in both classes
    val goodText = stops.take(8).mkString(" ") + " neutral"
    val badText = "xylo quark zept flurb neutral"
    val fixture = ((1 to 3).map(i => (i.toLong, goodText)) ++
      (4 to 6).map(i => (i.toLong, badText))).toDF("doc_id", "text")
    val out = TextAnalysis.nbDistillFrom(fixture).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    graft.util.OperatorCaches.release(spark)
    // driver-side model of the whole pipeline
    val docs = ((1 to 3).map(i => i.toLong -> goodText) ++
      (4 to 6).map(i => i.toLong -> badText))
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val labels = toks.map { case (id, ws) =>
      id -> (10 * ws.count(stops.contains) >= ws.size) }.toMap
    val b = TextAnalysis.ClassifierBuckets
    val byBucket = toks.flatMap { case (id, ws) =>
      ws.map(w => (polyhash(w) % b, labels(id))) }
      .groupBy(_._1).map { case (bk, xs) =>
        bk -> ((xs.count(_._2).toLong, xs.count(!_._2).toLong)) }
    val t1 = byBucket.values.map(_._1).sum
    val t0 = byBucket.values.map(_._2).sum
    def qln(x: Double) =
      math.floor(math.log(x) * TextAnalysis.IdfScale + 0.5).toLong
    val wq = byBucket.map { case (bk, (c1, c0)) =>
      bk -> (qln((c1 + 1).toDouble / (t1 + b)) -
        qln((c0 + 1).toDouble / (t0 + b))) }
    val expected = toks.map { case (id, ws) =>
      val score = ws.map(w => wq(polyhash(w) % b)).sum
      id -> ((ws.size.toLong, labels(id), score, score > 0L)) }.toMap
    assert(out === expected)
    // separation: the student reproduces the teacher on this fixture
    (1 to 3).foreach(i => assert(out(i.toLong)._4, s"doc $i must keep"))
    (4 to 6).foreach(i => assert(!out(i.toLong)._4, s"doc $i must drop"))
  }

  test("x113 distill calibration: bins match a driver-side model over " +
      "x100's own scores; extremes land in bins 0 and 9") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val stops = graft.functions.TextFunctions.Stopwords
    // three score levels: all-stopword (high), mixed, stopword-free (low)
    val hi = stops.take(8).mkString(" ") + " neutral"
    val mid = stops.take(4).mkString(" ") + " xylo quark zept flurb"
    val lo = "xylo quark zept flurb neutral"
    val fixture = ((1 to 3).map(i => (i.toLong, hi)) ++
      (4 to 6).map(i => (i.toLong, mid)) ++
      (7 to 9).map(i => (i.toLong, lo))).toDF("doc_id", "text")
    val scored = TextAnalysis.nbDistillFrom(fixture).collect()
      .map(r => (r.getLong(3), r.getBoolean(2), r.getBoolean(4)))
    val out = TextAnalysis.distillCalibrationFrom(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    graft.util.OperatorCaches.release(spark)
    val bins = TextAnalysis.CalibrationBins
    val mn = scored.map(_._1).min
    val mx = scored.map(_._1).max
    val expected = scored.groupBy { case (s, _, _) =>
      (s - mn) * bins / (mx - mn + 1) }
      .map { case (bin, xs) =>
        bin -> ((xs.size.toLong, xs.count(_._2).toLong,
          xs.count(_._3).toLong, xs.map(_._1).min, xs.map(_._1).max,
          xs.count(_._2).toDouble / xs.size)) }
    assert(out === expected)
    assert(out.contains(0L) && out.contains((bins - 1).toLong),
      "min and max scores must land in the first and last bin")
    // the reliability check itself: higher-score bins are never worse
    val rates = out.toSeq.sortBy(_._1).map(_._2._6)
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      s"good_rate must be monotone on this separable fixture: $rates")
  }

  test("x113 calibration: a constant-score corpus degenerates to one " +
      "full bin 0") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val fixture = (1 to 4).map(i => (i.toLong, "same text tokens here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.distillCalibrationFrom(fixture).collect()
    graft.util.OperatorCaches.release(spark)
    assert(out.length === 1 && out.head.getLong(0) === 0L &&
      out.head.getLong(1) === 4L)
  }

  test("x114 split leakage: contingency cells, leak flags, and shares " +
      "match a hand-built fold/pair graph") {
    import spark.implicits._
    import graft.operators.Curation
    val folds = Seq(
      1L -> "train", 2L -> "train", 3L -> "valid", 4L -> "test",
      5L -> "train", 6L -> "valid").toDF("doc_id", "split")
    val pairs = Seq(
      (1L, 2L), // train-train: clean
      (1L, 3L), // train-valid: leak
      (3L, 4L), // test-valid: leak (canonicalized lexically)
      (5L, 6L), // train-valid: leak (same cell as (1,3))
      (2L, 5L)  // train-train: clean
    ).toDF("doc_a", "doc_b")
    val out = Curation.splitLeakageFrom(folds, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3), r.getDouble(4)))).toMap
    assert(out === Map(
      ("train", "train") -> ((2L, false, 0.4)),
      ("train", "valid") -> ((2L, true, 0.4)),
      ("test", "valid") -> ((1L, true, 0.2))))
  }

  test("x101 cc core: large-star/small-star converges to min-labeled " +
      "components on path, star, merged, and isolated fixtures") {
    import spark.implicits._
    import graft.operators.Dedup
    // worst-case-diameter path 1-…-16, a star at 20, two components
    // merged through a bridge (30s), isolated nodes 50, 51
    val edges =
      (1L until 16L).map(i => (i, i + 1)) ++            // path
        (21L to 25L).map(v => (20L, v)) ++              // star
        Seq((30L, 31L), (31L, 32L), (33L, 34L), (32L, 33L)) // merged
    val ids = ((1L to 16L) ++ (20L to 25L) ++ (30L to 34L) ++
      Seq(50L, 51L)).toDF("doc_id")
    val out = Dedup.ccFrom(ids,
      edges.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.util.OperatorCaches.release(spark)
    (1L to 16L).foreach(v => assert(out(v) === ((1L, 16L)), s"path $v"))
    (20L to 25L).foreach(v => assert(out(v) === ((20L, 6L)), s"star $v"))
    (30L to 34L).foreach(v => assert(out(v) === ((30L, 5L)), s"merged $v"))
    Seq(50L, 51L).foreach(v =>
      assert(out(v) === ((v, 1L)), s"isolated $v"))
  }

  test("x101 dup components: equals a driver-side union-find over x2's " +
      "own pair output, singletons included") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashLsh(spark, Sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = graft.queries.Tables.documentsParallel(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.LongMap(ids.map(d => d -> d): _*)
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val repOf = scala.collection.mutable.LongMap.empty[Long]
    ids.foreach { d =>
      val r = find(d)
      repOf(r) = math.min(repOf.getOrElse(r, Long.MaxValue), d)
    }
    val size = ids.groupBy(d => repOf(find(d))).map { case (k, v) =>
      k -> v.length.toLong }
    val expected = ids.map(d =>
      d -> ((repOf(find(d)), size(repOf(find(d)))))).toMap
    val out = Dedup.dupComponents(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.util.OperatorCaches.release(spark)
    assert(out === expected)
    assert(pairs.nonEmpty, "fixture must exercise at least one merge")
  }

  test("x102 canonical keep: longest member wins, ties break to the " +
      "smallest doc_id, singletons keep themselves") {
    import spark.implicits._
    import graft.operators.Dedup
    // component 1 = {1,2,3} with lengths 5,9,9 (tie 2 vs 3 → 2);
    // component 20 = {20,21} with 21 strictly longer; 7 is a singleton
    val comp = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L),
      (7L, 7L, 1L)).toDF("doc_id", "component_rep", "component_size")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (20L, 4L), (21L, 8L),
      (7L, 2L)).toDF("doc_id", "n_chars")
    val out = Dedup.canonicalKeepFrom(docs, comp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((2L, false)))
    assert(out(2L) === ((2L, true)))
    assert(out(3L) === ((2L, false)))
    assert(out(20L) === ((21L, false)))
    assert(out(21L) === ((21L, true)))
    assert(out(7L) === ((7L, true)))
  }

  test("x102 end-to-end: equals the driver-side keep policy over x101's " +
      "own labels and the documents' n_chars") {
    import graft.operators.Dedup
    val comp = Dedup.dupComponents(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nChars = graft.queries.Tables.documentsParallel(spark, Sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bestOf = comp.groupBy(_._2).map { case (rep, ms) =>
      rep -> ms.map(m => (-nChars(m._1), m._1)).min._2
    }
    val expected = comp.map { case (d, rep, sz) =>
      d -> ((rep, sz, bestOf(rep), d == bestOf(rep)))
    }.toMap
    val out = Dedup.canonicalKeep(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    assert(out === expected)
  }

  test("x103 delta dedup: delta probes match base docs only — no " +
      "delta-delta or base-base pairs, empty-text delta rows survive " +
      "with zero matches, ties break to the smallest base id") {
    import spark.implicits._
    // Base 0..7, delta 8..11 (x103's split of ids 0..11: ⌊11·4/5⌋ = 8).
    // Base docs 2 and 3 are identical; delta 8 copies them (best_base
    // must be 2, the smaller id at equal jaccard). Delta 9 and 10 share
    // a unique text — a delta-delta dup that must NOT match. Base 5 and
    // 6 share a unique text — a base-base dup that must NOT be emitted.
    // Delta 11 has null text.
    val texts = Seq(
      0L -> "alpha beta gamma delta epsilon",
      1L -> "one two three four five six",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy dog",
      4L -> "lorem ipsum dolor sit amet consectetur",
      5L -> "shared base text that repeats verbatim here",
      6L -> "shared base text that repeats verbatim here",
      7L -> "completely different seventh base document text",
      8L -> "the quick brown fox jumps over the lazy dog",
      9L -> "delta only phrase never seen in base corpus",
      10L -> "delta only phrase never seen in base corpus",
      11L -> null.asInstanceOf[String])
    val docs = texts.toDF("doc_id", "text")
    val out = deltaVerdicts(docs.filter($"doc_id" >= 8L),
      docs.filter($"doc_id" < 8L))
    assert(out.map(_.getLong(0)).toSeq === Seq(8L, 9L, 10L, 11L),
      "exactly the delta ids, ordered")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val r8 = byId(8L)
    assert(r8.getLong(1) === 2L, "delta 8 matches base 2 and 3")
    assert(r8.getLong(2) === 2L, "tie at jaccard 1.0 breaks to base 2")
    assert(r8.getDouble(3) === 1.0)
    assert(r8.getBoolean(4), "exact copy is a dup")
    Seq(9L, 10L, 11L).foreach(d => assertNoMatch(byId(d)))
  }

  test("x103/x104 delta dedup over an empty base: every delta doc gets " +
      "a 0-match verdict row") {
    import spark.implicits._
    val delta = Seq(
      20L -> "the quick brown fox jumps over the lazy dog",
      21L -> "the quick brown fox jumps over the lazy dog",
      22L -> "",
      23L -> null.asInstanceOf[String]).toDF("doc_id", "text")
    val out = deltaVerdicts(delta, delta.limit(0))
    assert(out.map(_.getLong(0)).toSeq === Seq(20L, 21L, 22L, 23L))
    out.foreach(assertNoMatch)
  }

  /** [[graft.streaming.CorpusStream.deltaDedupStream]]'s batch verdicts
    * for `delta` against `base` (both (doc_id, text); delta event time =
    * doc_id seconds, as in the x103/x104 carrier), ordered by doc_id:
    * (doc_id, n_matches, best_base, best_jaccard, is_dup). */
  private def deltaVerdicts(delta: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val out = graft.streaming.CorpusStream.deltaDedupStream(spark,
      delta.withColumn("ts", timestamp_seconds(col("doc_id"))), base)
      .orderBy("doc_id").collect()
    graft.util.OperatorCaches.release(spark)
    out
  }

  private def assertNoMatch(r: org.apache.spark.sql.Row): Unit = {
    assert(r.getLong(1) === 0L, s"delta ${r.getLong(0)} must have no base match")
    assert(r.isNullAt(2) && r.isNullAt(3) && !r.getBoolean(4))
  }

  test("x107 gopher rules: each rule fires on exactly its construction") {
    import spark.implicits._
    val sixty = (1 to 60).map(i => s"word$i").mkString(" ")
    val stops = "the be to of and that have with"
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    val fixture = Seq(
      // 0: 68 words, all rules pass (stops give 8 hits, words alpha)
      doc(0, s"$sixty $stops"),
      // 1: word count below 50 — only r_word_count fails
      doc(1, s"short doc $stops"),
      // 2: symbol rule — 8 hashes on 68 words > 10% cap
      doc(2, s"$sixty $stops ######## extra few words here now"),
      // 3: alpha rule — 20 numeric words on top of 60+8 → alpha frac < 0.8
      doc(3, s"$sixty $stops " + Seq.fill(20)("12345").mkString(" ")),
      // 4: stop rule — one stop hit only
      doc(4, (1 to 60).map(i => s"tok$i").mkString(" ") + " the"),
      // 5: bullet + ellipsis lines — 1 bullet of 2 lines (50% > 10%),
      //    1 of 2 ending in ellipsis (50% > 30%)
      doc(5, s"- bullet line one...\n$sixty $stops"),
      // 6: word length — sixty 1-char words mean < 3
      doc(6, (1 to 60).map(_ => "a").mkString(" ") + s" $stops")
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.gopherRulesFrom(fixture).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    def rule(id: Long, name: String) = r(id).getAs[Boolean](name)
    assert(rule(0, "gopher_keep"))
    Seq("r_word_count", "r_word_len", "r_symbol", "r_bullet",
      "r_ellipsis_lines", "r_alpha", "r_stop").foreach(n =>
      assert(rule(0, n), s"doc 0 must pass $n"))
    assert(!rule(1, "r_word_count") && rule(1, "r_stop") && !rule(1, "gopher_keep"))
    assert(!rule(2, "r_symbol") && rule(2, "r_word_count"))
    assert(!rule(3, "r_alpha") && rule(3, "r_word_count"))
    assert(!rule(4, "r_stop") && rule(4, "r_alpha"))
    assert(!rule(5, "r_bullet") && !rule(5, "r_ellipsis_lines"))
    assert(!rule(6, "r_word_len") && rule(6, "r_word_count"))
  }

  test("x108 semantic decontamination: one row per query; agrees with " +
      "the trained-IVF rank-1 neighbor over the same candidate relation") {
    val de = Similarity.semanticDecontaminate(spark, Sf).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_flagged"), r.getAs[Long]("best_id"),
          r.getAs[Double]("best_cos"))).toMap
    assert(de.keySet === (0L to 9L).toSet)
    graft.util.OperatorCaches.release(spark)
    // both derive from the identical probe/assign candidate relation, so
    // n_flagged > 0 iff the trained-IVF rank-1 cos clears τ, and the
    // best partner IS that neighbor (double ties are measure-zero)
    val rank1 = Similarity.ivfTopKTrained(spark, Sf)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    (0L to 9L).foreach { q =>
      val (n, bid, bcos) = de(q)
      rank1.get(q) match {
        case Some((nb, c)) if c >= Similarity.DecontamTau =>
          assert(n > 0, s"query $q: rank-1 cos $c >= tau but n_flagged=0")
          assert(bid === nb && bcos === c, s"query $q best mismatch")
        case _ =>
          assert(n === 0L && bid === -1L && bcos === -1.0,
            s"query $q: no candidate clears tau but n_flagged=$n")
      }
    }
  }

  test("x110 normalized dedup: case/punct/whitespace variants group; " +
      "non-ASCII passes through; nulls and empty canonicals keep rows") {
    import spark.implicits._
    val fixture = Seq(
      (0L, "Hello, World!"),       // canonical "hello world"
      (1L, "hello world"),
      (2L, "hello  \t world"),     // run + tab collapse
      (3L, "Hello there"),         // distinct
      (4L, null.asInstanceOf[String]),
      (5L, "!!!"),                 // canonical "" ...
      (6L, " \t "),                // ... groups with 5
      (7L, "Café Bar"),       // é untouched, ASCII fold only →
      (8L, "café bar")        // groups with 7
    ).toDF("doc_id", "text")
    val r = graft.operators.Dedup.normalizedDedupFrom(fixture).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.size === 9, "every doc keeps its row")
    def rep(id: Long) = r(id).getAs[Long]("norm_rep")
    def sz(id: Long) = r(id).getAs[Long]("norm_group_size")
    Seq(0L, 1L, 2L).foreach { id =>
      assert(rep(id) === 0L && sz(id) === 3L, s"doc $id")
    }
    assert(r(0L).getAs[Boolean]("is_canonical"))
    assert(!r(1L).getAs[Boolean]("is_canonical"))
    assert(r(0L).getAs[Long]("n_norm_chars") === "hello world".length.toLong)
    assert(rep(3L) === 3L && sz(3L) === 1L)
    assert(r(4L).getAs[String]("norm_hash") === null)
    assert(rep(4L) === 4L && sz(4L) === 1L, "null text is its own group")
    assert(rep(5L) === 5L && sz(5L) === 2L && rep(6L) === 5L,
      "all-punct and all-whitespace docs share the empty canonical")
    assert(r(5L).getAs[Long]("n_norm_chars") === 0L)
    assert(rep(7L) === 7L && sz(7L) === 2L && rep(8L) === 7L,
      "ASCII-only case fold must still group the café pair")
  }

  test("x111 index maintenance: every vector assigned once, split at the " +
      "80th percentile, ppm shares and drift flags self-consistent") {
    val rows = Similarity.indexMaintain(spark, Sf).collect()
    val e = graft.queries.Tables.embeddings(spark, Sf)
    val n = e.count()
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val splitId = math.floor(maxId * 4.0 / 5.0).toLong
    val nDelta = e.filter(col("vec_id") >= splitId).count()
    val totBase = rows.map(_.getAs[Long]("n_base")).sum
    val totDelta = rows.map(_.getAs[Long]("n_delta")).sum
    assert(totBase + totDelta === n, "each vector lands in exactly one cell")
    assert(totDelta === nDelta, "delta side is exactly the id-space tail")
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_base"); val nd = r.getAs[Long]("n_delta")
      assert(nb + nd > 0)
      assert(r.getAs[Long]("base_share_ppm") === nb * 1000000L / totBase)
      assert(r.getAs[Long]("delta_share_ppm") === nd * 1000000L / totDelta)
      assert(r.getAs[Boolean]("drift_flag") ===
        (nd * 1000000L / totDelta >
          Similarity.IndexDriftTau * (nb * 1000000L / totBase)))
    }
    val cids = rows.map(_.getAs[Long]("cid"))
    assert(cids.distinct.length === cids.length, "one row per cell")
  }

  test("x112 cluster quota: dense cluster cut to the quota by (hash, id); " +
      "sparse and null-cluster docs pass through") {
    import spark.implicits._
    val q = graft.operators.Curation.ClusterQuota
    // 12 identical docs -> one cluster, identical content hash, so the
    // quota must fall back to the doc_id tiebreak: lowest q kept
    val dense = (0L until 12L).map(i => (i, "the same boilerplate page"))
    val fixture = (dense ++ Seq(
      (100L, "a genuinely unique document about alpine lakes"),
      (101L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    val r = graft.operators.Curation.clusterQuotaSampleFrom(fixture)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.size === 14)
    (0L until 12L).foreach { i =>
      assert(r(i).getAs[Long]("cluster_size") === 12L)
      assert(r(i).getAs[Boolean]("kept") === (i < q),
        s"doc $i: identical hashes must keep the $q lowest ids")
    }
    (0L until q.toLong).foreach { i =>
      assert(r(i).getAs[Long]("q_rank") === i + 1,
        "rank order follows the doc_id tiebreak")
    }
    assert(r(100L).getAs[Boolean]("kept"))
    assert(r(101L).getAs[Boolean]("kept") &&
      r(101L).isNullAt(r(101L).fieldIndex("cluster")) &&
      r(101L).getAs[Long]("cluster_size") === 1L,
      "null text: null cluster, singleton, kept")
    // corpus-level invariant: per cluster, kept == min(size, quota)
    graft.util.OperatorCaches.release(spark)
    val corpus = graft.operators.Curation.clusterQuotaSample(spark, Sf)
      .collect()
    corpus.filter(!_.isNullAt(1)).groupBy(_.getAs[Long]("cluster"))
      .foreach { case (_, members) =>
        val size = members.head.getAs[Long]("cluster_size")
        assert(members.length.toLong === size)
        assert(members.count(_.getAs[Boolean]("kept")).toLong ===
          math.min(size, q.toLong))
      }
  }
  test("x115 quality fusion: histogram-derived competition ranks match the " +
      "textbook rank on ties, rrf is the exact three-term sum") {
    import spark.implicits._
    import graft.operators.Curation
    // hand-computable signals: (len, stop hits, ttr*1000)
    //   d1 "the a big cat sat"  -> (5, 2, 1000)
    //   d2 "the the the the"    -> (4, 4,  250)
    //   d3 "x y z"              -> (3, 0, 1000)
    //   d4 "a b c d"            -> (4, 1, 1000)
    //   d5 null                 -> filtered
    val docs = Seq(
      (1L, "the a big cat sat"),
      (2L, "the the the the"),
      (3L, "x y z"),
      (4L, "a b c d"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Curation.qualityFusionFrom(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    def rrf(a: Long, b: Long, c: Long): Double =
      1.0 / (Curation.RrfK + a) + 1.0 / (Curation.RrfK + b) +
        1.0 / (Curation.RrfK + c)
    // competition ranks: s_len 5>4=4>3 -> 1,2,2,4; s_stop 4>2>1>0;
    // s_ttr 1000 (three-way tie, rank 1) > 250 (rank 4)
    assert(out === Map(
      1L -> ((1L, 2L, 1L, rrf(1, 2, 1))),
      2L -> ((2L, 1L, 4L, rrf(2, 1, 4))),
      3L -> ((4L, 4L, 1L, rrf(4, 4, 1))),
      4L -> ((2L, 3L, 1L, rrf(2, 3, 1)))))
  }

  test("x116 page stitch: a suffix->prefix chain links with min-successor " +
      "ties, self-stitch is excluded, short docs get null hashes") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "intro words here begin story p q r s t"),
      (2L, "p q r s t goes on and ends u v w x y"),
      (3L, "u v w x y final part of the doc"),
      (4L, "short one"),
      (5L, "m m m m m m"),
      (6L, "p q r s t another continuation candidate here")
    ).toDF("doc_id", "text")
    val out = Dedup.pageStitchFrom(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.isNullAt(1), r.isNullAt(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    graft.util.OperatorCaches.release(spark)
    // doc 1's suffix "p q r s t" continues into BOTH 2 and 6 -> count 2,
    // min successor 2; doc 2 chains into 3; doc 5's prefix == its own
    // suffix but self-pairs are excluded; doc 4 is under 5 tokens
    assert(out(1L) === ((false, false, 2L, 2L)))
    assert(out(2L) === ((false, false, 1L, 3L)))
    assert(out(3L) === ((false, false, 0L, -1L)))
    assert(out(4L) === ((true, true, 0L, -1L)))
    assert(out(5L) === ((false, false, 0L, -1L)))
    assert(out(6L) === ((false, false, 0L, -1L)))
  }

  test("x117 corpus build: stage verdicts gate monotonically, packing and " +
      "mixture recompute exactly from the kept set, every stage fires") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, Dedup}
    val out = Curation.corpusBuild(spark, Sf).collect()
    val rows = out.map { r =>
      def ob(i: Int): Option[Boolean] =
        if (r.isNullAt(i)) None else Some(r.getBoolean(i))
      def ol(i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getLong(0), r.getString(1), r.getBoolean(2), // doc_id, source, is_eval
        ob(3), ob(4), ob(5), ob(6), r.getBoolean(7), // s1..s4, final_kept
        ol(8), ol(9), ol(10), // shard, seq_in_shard, offset_in_seq
        ol(12)) // src_kept_docs
    }
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(rows.length.toLong === nDocs, "one verdict row per document")
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.foreach { case (id, _, isEval, s1, s2, s3, s4, fk, sh, sq, off, _) =>
      assert(isEval === (id < Curation.BenchmarkDocs))
      // reached-stage null discipline: a stage verdict exists iff the
      // doc survived every previous stage (eval docs reach none)
      assert(s1.isDefined === !isEval, s"doc $id s1")
      assert(s2.isDefined === s1.contains(true), s"doc $id s2")
      assert(s3.isDefined === s2.contains(true), s"doc $id s3")
      assert(s4.isDefined === s3.contains(true), s"doc $id s4")
      assert(fk === s4.contains(true), s"doc $id final_kept")
      assert(sh.isDefined === fk && sq.isDefined === fk &&
        off.isDefined === fk, s"doc $id pack cols")
    }
    // every stage must actually drop someone on this corpus — otherwise
    // the fixture isn't exercising the pipeline
    def dropped(sel: ((Long, String, Boolean, Option[Boolean],
        Option[Boolean], Option[Boolean], Option[Boolean], Boolean,
        Option[Long], Option[Long], Option[Long], Option[Long])) =>
        Option[Boolean]): Int = rows.count(r => sel(r).contains(false))
    // (s1 drops nobody at sf0.001 — the corpus has no normalized-dup
    // groups among train docs; s1 is instead validated against the
    // standalone seam below)
    assert(dropped(_._5) > 0, "s2 dropped none")
    assert(dropped(_._6) > 0, "s3 dropped none")
    assert(dropped(_._7) > 0, "s4 dropped none")
    // s1 cross-check against the standalone seam it composes
    val train = graft.queries.Tables.documentsParallel(spark, Sf)
      .filter(col("doc_id") >= Curation.BenchmarkDocs)
    val s1Seam = Dedup.normalizedDedupFrom(train)
      .select("doc_id", "is_canonical").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.filterNot(_._3).foreach { r =>
      assert(r._4.contains(s1Seam(r._1)), s"doc ${r._1} s1 vs seam")
    }
    // per-source kept counts are exactly the kept rows per source
    val kept = rows.filter(_._8)
    val bySource = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    kept.foreach(r => assert(r._12.contains(bySource(r._2))))
    // packing recomputed exactly: per shard, kept docs in doc_id order
    // accumulate n_tokens into (seq, offset)
    val toks = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept.groupBy(_._9.get).foreach { case (_, ms) =>
      var cum = 0L
      ms.sortBy(_._1).foreach { r =>
        assert(r._10.contains(cum / Curation.PackBudget), s"doc ${r._1} seq")
        assert(r._11.contains(cum % Curation.PackBudget), s"doc ${r._1} off")
        cum += toks(r._1)
      }
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("x118 streaming corpus build (batch mode): every arriving doc gets " +
      "one verdict row, stage verdicts gate monotonically with NULLs past " +
      "the first failed stage, and each stage fires on the fixture") {
    import spark.implicits._
    import graft.operators.Curation
    // base corpus: 'web' P25 token threshold = 4 (counts 8, 4, 8 →
    // k = (3*25+99)//100 = 1 → min n_tokens at cum>=1), 'books' = 3
    val base = Seq(
      (0L, "web", "w1 w2 w3 w4 w5 w6 w7 w8"),
      (1L, "web", "a b c d"),
      (2L, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "books", "x y z"))
      .toDF("doc_id", "source", "text")
    val delta = Seq(
      // exact copy of base 2 → near-dup drop at s2
      (10L, "web", "alpha beta gamma delta epsilon zeta eta theta"),
      // novel, 6 tokens >= web threshold 4 → kept end to end
      (11L, "web", "totally unrelated novel content here ok"),
      // exact copy of doc 11 WITHIN the stream → first-seen drop at s1
      (12L, "web", "totally unrelated novel content here ok"),
      // 1 token < threshold (and zero 3-shingles → null band) → s3 drop
      (13L, "web", "hi"),
      // null text → s1 keeps the hash-of-empty, gate fails closed
      (14L, "web", null),
      // Luhn-valid card number → s3 drop
      (15L, "web", "card 4111111111111111 here four five six"),
      // source absent from the base calibration → s3 fails closed
      (16L, "newsrc", "some words from a source absent in base ok"),
      // books source, 4 tokens >= books threshold 3 → kept
      (17L, "books", "p q r s"))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), timestamp_seconds(col("doc_id")).as("ts"),
        col("source"), col("text"))
    val out = graft.streaming.CorpusStream
      .corpusBuildStream(spark, delta, base)
      .collect()
    assert(out.length === 8, "one verdict row per arriving doc")
    val rows = out.map { r =>
      def ob(i: Int) = if (r.isNullAt(i)) None else Some(r.getBoolean(i))
      def ol(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getLong(0) -> ((r.getBoolean(1), ob(2), ob(3), r.getBoolean(4),
        ol(5)))
    }.toMap
    assert(rows(10L) === ((true, Some(false), None, false, Some(1L))))
    assert(rows(11L) === ((true, Some(true), Some(true), true, Some(0L))))
    assert(rows(12L) === ((false, None, None, false, None)))
    assert(rows(13L) === ((true, Some(true), Some(false), false, Some(0L))))
    assert(rows(14L) === ((true, Some(true), Some(false), false, Some(0L))))
    assert(rows(15L) === ((true, Some(true), Some(false), false, Some(0L))))
    assert(rows(16L) === ((true, Some(true), Some(false), false, Some(0L))))
    assert(rows(17L) === ((true, Some(true), Some(true), true, Some(0L))))
    // the base-calibrated threshold seam the gate broadcasts
    val thr = Curation.tokenThresholdsFrom(base).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thr === Map("web" -> 4L, "books" -> 3L))
    graft.util.OperatorCaches.release(spark)
  }

  test("x118's first stage is x57: s1_exact_kept == firstSeenDedup's keep " +
      "for every doc (repeats, out-of-order ids, null and empty text)") {
    import spark.implicits._
    val base = Seq((0L, "web", "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "source", "text")
    // ids arrive out of order; 21 repeats 30's text with a SMALLER id
    // (so 21 is first-seen), 33 repeats it again, and null and "" share
    // x57's content hash md5('')
    val docs = Seq[(Long, String)](
      (30L, "the same text twice over"),
      (12L, "a unique document here"),
      (33L, "the same text twice over"),
      (21L, "the same text twice over"),
      (40L, null),
      (15L, ""),
      (27L, null),
      (18L, "a unique document here"),
      (50L, "another one"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), timestamp_seconds(col("doc_id")).as("ts"),
        lit("web").as("source"), col("text"))
    val x57 = graft.streaming.CorpusStream.firstSeenDedup(spark, docs)
      .collect().map(v => v.doc_id -> v.keep).toMap
    val x118 = graft.streaming.CorpusStream
      .corpusBuildStream(spark, docs, base)
      .select("doc_id", "s1_exact_kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(x57.size === 9)
    assert(x118 === x57)
    assert(x57.filter(_._2).keySet === Set(12L, 15L, 21L, 50L))
    graft.util.OperatorCaches.release(spark)
  }
}

