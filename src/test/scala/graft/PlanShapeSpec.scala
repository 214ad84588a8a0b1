package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import graft.operators.{Dedup, Similarity}

/** Plan-shape regression guards: the scale contracts the operators claim
  * (PLANS.md) asserted against the actual plans, so a future edit cannot
  * silently reintroduce a forced broadcast of an unbounded intermediate,
  * a per-query rank window, or an all-pairs nested-loop join. */
class PlanShapeSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // other suites cache() these operators' DataFrames on the shared
    // session; a lingering cache substitutes InMemoryRelation into the
    // plans under inspection and hides the join shapes
    spark.catalog.clearCache()
  }

  private def logicalHints(df: DataFrame): Seq[ResolvedHint] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  test("dedup joins carry NO broadcast hints on unbounded relations " +
      "(AQE decides from runtime stats)") {
    // x2/x3: the candidate/index relations are data-dependent and
    // unbounded at scale; only the optimizer may choose broadcast there.
    // The single admissible hint shape is a GLOBAL (no-grouping-key)
    // aggregate — a 1-row derived constant like x3's df cap — which is
    // bounded by construction at any corpus size.
    def corpusHints(df: DataFrame) = logicalHints(df).filterNot { h =>
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    }
    assert(corpusHints(Dedup.minhashLsh(spark, Sf)).isEmpty)
    assert(corpusHints(Dedup.ngramJaccardFrom(
      graft.queries.Tables.documents(spark, Sf))).isEmpty)
    assert(corpusHints(Dedup.simhashPairs(spark, Sf)).isEmpty)
  }

  test("ANN top-k has no rank window and no single-partition exchange") {
    Seq(
      () => Similarity.bruteForceTopK(spark, Sf),
      () => Similarity.lshTopK(spark, Sf),
      () => Similarity.ivfTopK(spark, Sf)
    ).foreach { mk =>
      val p = physical(mk())
      // partial-aggregated bounded heap, not a per-query window rank over
      // the candidate set (ivfTopK's window is the 16-row-per-vector
      // centroid ranking, which is bounded — the TOP-K stage must not
      // window). The top-k ObjectHashAggregate must be present...
      assert(p.contains("ObjectHashAggregate"), s"no partial top-k in:\n$p")
      // ...and nothing may funnel CORPUS rows through a single partition.
      // The admissible single-partition stages are bounded aggregate
      // merges: the derived-ncells 1-row count (Similarity.
      // standInCentroids — 32 partial counts → one row) and, since
      // optimization round 14, the centroid collect_list that builds the
      // ranking's one broadcast prep row (Similarity.quantizedRanking /
      // lloydFrom: ≤K centroid rows → one array — bounded by the cell
      // curve at any corpus size, and the thing that REPLACED two
      // full-corpus window exchanges). Assert structurally that every
      // single-partition exchange is one of those merges and nothing
      // else.
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val singles = withoutAqe {
        mk().queryExecution.executedPlan
      }.collect {
        case ex: ShuffleExchangeExec
            if ex.outputPartitioning.numPartitions == 1 => ex
      }
      singles.foreach { ex =>
        assert(ex.child.toString.contains("count") ||
            ex.child.toString.contains("collect_list"),
          s"single-partition stage is not a bounded centroid/ncells merge:\n$ex")
      }
    }
  }

  test("round-3 operators: no corpus hints, sharded packing window, map-only quant") {
    import graft.operators.{Curation, Quantization, TextAnalysis}
    // x25/x29: doc-keyed joins stay unhinted — the per-doc stats / overlap
    // relations are corpus-sized; only AQE may choose broadcast
    assert(logicalHints(TextAnalysis.repetition(spark, Sf)).isEmpty)
    assert(logicalHints(Curation.decontaminate(spark, Sf)).isEmpty)
    // x26: the running-sum window partitions by the hash shard — a global
    // (unpartitioned) window would serialize the corpus into one task.
    // Assert on the WindowExec's actual partitionSpec, not a string match.
    val winSpecs = withoutAqe {
      Curation.packSequences(spark, Sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec
      }
    }
    assert(winSpecs.nonEmpty, "no WindowExec in the packing plan")
    winSpecs.foreach { spec =>
      assert(spec.exists(_.toString.contains("shard")),
        s"window not shard-partitioned: $spec")
    }
    assert(!physical(Curation.packSequences(spark, Sf))
      .contains("SinglePartition"), "single-partition stage in packing plan")
    // x27: pure map stage — the only exchange is the output ordering
    val quantPlan = withoutAqe {
      Quantization.int8Stats(spark, Sf).queryExecution.executedPlan
    }
    val exchanges = quantPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // repartition crutch + final sort, nothing else (no groupBy/join)
    assert(exchanges.size <= 2, s"unexpected exchanges in:\n$quantPlan")
    assert(!quantPlan.toString.contains("HashAggregate"),
      s"aggregation crept into the map stage:\n$quantPlan")
  }

  test("round-5 batch ops: tfidf rank-limits before the shuffle, chunk/fim are map-only, " +
      "encode joins the vocab broadcast") {
    import graft.operators.{Curation, TextAnalysis}
    // x35: Spark's WindowGroupLimit must prune to top-k per partition
    // BEFORE the window exchange (the partial-top-k analogue of a partial
    // agg), and the rank window must partition by doc — never global
    val tfidf = withoutAqe {
      TextAnalysis.tfidfTerms(spark, Sf).queryExecution.executedPlan
    }
    assert(tfidf.toString.contains("WindowGroupLimit"),
      s"no pre-shuffle rank limit in tfidf plan:\n$tfidf")
    tfidf.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.partitionSpec.exists(_.toString.contains("doc_id")),
        s"tfidf window not doc-partitioned: ${w.partitionSpec}")
    }
    // x36/x40: pure map stages — no join, no aggregation; only the
    // repartition fan-out and the output sort may exchange
    Seq(Curation.chunkOverlap(spark, Sf), Curation.fimSplit(spark, Sf))
      .foreach { df =>
        val p = withoutAqe { df.queryExecution.executedPlan }
        assert(p.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty, s"join crept into map-only plan:\n$p")
        assert(!p.toString.contains("HashAggregate"),
          s"aggregation crept into map-only plan:\n$p")
      }
    // x39: the vocab side is bounded post-agg output — the per-token join
    // must resolve broadcast, never a corpus-sized shuffled join
    val enc = withoutAqe {
      TextAnalysis.encodeDocs(spark, Sf).queryExecution.executedPlan
    }
    val joins = enc.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]
        || j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec],
        s"non-broadcast join in encode plan: ${j.getClass.getSimpleName}")
    }
  }

  test("embedding near-dup is candidate-join shaped: pairs join on cell, " +
      "nested loops only against the bounded centroid table") {
    val df = Similarity.embeddingDups(spark, Sf)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the pair-generation stage is an EQUI-join whose key is the cell id
    assert(p.contains("Join [cell#"), s"no cell equi-join in:\n$p")
    // any nested-loop join must be the deliberate vector×centroid cross,
    // whose broadcast side is bounded by the NumCells centroid filter —
    // never a corpus×corpus pair product
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // AQE's wrapper hides the join nodes from collect(); the static plan
    // is the shape under guard here
    val nljs = withoutAqe {
      Similarity.embeddingDups(spark, Sf)
        .queryExecution.executedPlan.collect {
          case j: BroadcastNestedLoopJoinExec => j
        }
    }
    assert(nljs.nonEmpty) // the assignment stage exists
    nljs.foreach { j =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft => j.left
      }
      val s = build.toString
      // bounded build sides only: the 1-row derived-ncells/nsup
      // aggregates, the centroid table whose lineage carries the
      // `vec_id < ncells` cut (Similarity.standInCentroids), or — since
      // optimization round 14 — the quantizer's ONE-row routing prep
      // (sarr/smap: the collected ≤K centroid array + super-cell map
      // that replaced the sups/cmap broadcast joins and their corpus
      // windows)
      assert(s.contains("ncells") || s.contains("nsup") ||
        (s.contains("sid#") && s.contains("su#")) ||
        (s.contains("sarr#") && s.contains("smap#")),
        s"nested-loop build side is not a bounded centroid-family table:\n$s")
    }
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pairTable/dupComponents memo: one build per session (same handle " +
      "back — the x99/x101/x102 shared seam), a fresh build after release") {
    import graft.util.OperatorCaches
    var builds = 0
    def build() = OperatorCaches.memoized(spark, "memo-spec-key") {
      builds += 1
      spark.range(3).toDF("id")
    }
    val first = build()
    assert((build() eq first) && builds === 1,
      "memoized must return the same handle without rebuilding")
    // the operator seams ride the same registry: same-session consumers
    // (x102 after x101, x99 after either) get the SAME relation —
    // dupComponents' checkpointed star rounds run once, not per query
    val p1 = Dedup.pairTable(spark, Sf)
    assert(Dedup.pairTable(spark, Sf) eq p1)
    val c1 = Dedup.dupComponents(spark, Sf)
    assert(Dedup.dupComponents(spark, Sf) eq c1)
    OperatorCaches.release(spark)
    // release clears the memo with the caches: standalone measurement
    // (Bench/Verify release between runs) charges every query its build
    assert(build() ne first)
    assert(builds === 2)
    assert(Dedup.pairTable(spark, Sf) ne p1)
    OperatorCaches.release(spark)
  }

  test("skew guards: the band-bucket cap (x2) and shingle-DF cut (x3) " +
      "suppress a mass-duplicated group, keep under-cap groups intact") {
    import spark.implicits._
    import graft.util.OperatorCaches
    // 300 copies of ONE boilerplate text: every band bucket it forms has
    // 300 members (past MaxBandBucket=256) and every one of its shingles
    // has df=300 (past MaxShingleDf=32) — the hot-key pattern that would
    // otherwise quadratically explode inside a single join key, which
    // AQE's partition-splitting cannot fix (the blow-up is within one
    // key, not across an oversized partition). Both cuts must drop it.
    val boiler = (1 to 12).map(i => s"common$i").mkString(" ")
    val boilerDocs = (0 until 300).map(i => (i.toLong, boiler))
    // a 6-copy group UNDER both caps: its 15 pairs must survive —
    // proving the guards fire past the threshold, not always
    val small = "rare1 rare2 rare3 rare4 rare5 rare6"
    val smallDocs = (1000 until 1006).map(i => (i.toLong, small))
    // unique chaff: singleton buckets / df-1 shingles, no pairs
    val chaff = (2000 until 2100).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val docs = (boilerDocs ++ smallDocs ++ chaff).toDF("doc_id", "text")

    val x2 = Dedup.minhashLshFrom(Dedup.shingleTableFrom(docs.repartition(8)))
      .collect()
    assert(!x2.exists(r => r.getLong(0) < 1000 && r.getLong(1) < 1000),
      "band-bucket cap failed: the 300-copy group produced pairs")
    val smallPairs = x2.filter(r => r.getLong(0) >= 1000 && r.getLong(0) < 1006)
    assert(smallPairs.length == 15 &&
      smallPairs.forall(_.getAs[Double]("jaccard") == 1.0))
    assert(x2.length == 15) // nothing else pairs
    OperatorCaches.release(spark)

    val x3 = Dedup.ngramJaccardFrom(docs.repartition(8)).collect()
    assert(!x3.exists(r => r.getLong(0) < 1000 && r.getLong(1) < 1000),
      "shingle-DF cut failed: the 300-copy group produced pairs")
    val small3 = x3.filter(r => r.getLong(0) >= 1000 && r.getLong(0) < 1006)
    assert(small3.length == 15 && x3.length == 15)
    OperatorCaches.release(spark)
  }

  test("x2's verify is IN-BUCKET: no (band, h) candidate self-join, the " +
      "pair enumeration reads the capped bucket aggregate, and a hot " +
      "surviving bucket still yields every pair") {
    import spark.implicits._
    import graft.util.OperatorCaches
    // 200 DISTINCT near-duplicates (a shared 5-token core plus one
    // unique token each — distinct shingle SETS, so the exact-dup group
    // compression cannot collapse them) form hot (band, h) buckets of
    // ~150 GROUP entries, under the 256 cap so they survive. Under the
    // round-11 in-bucket verify this is the worst case the cap ALLOWS:
    // one bucket row of ≤cap members enumerating ≤cap²/2 pairs inside
    // one task — bounded structurally, no AQE skew mitigation needed
    // (the pre-round-11 candidate self-join concentrated the same
    // bucket as ~10k join rows in one shuffle key and leaned on AQE
    // skew splitting; the fp-array fetch exchange that shape required
    // measured 55+ GB at sf10, which is why it's gone).
    val hot = (0 until 200).map(i =>
      (i.toLong, s"hotA hotB hotC hotD hotE uniq$i"))
    val chaff = (1000 until 1050).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val docs = (hot ++ chaff).toDF("doc_id", "text")
    val df = Dedup.minhashLshFrom(Dedup.shingleTableFrom(docs.repartition(8)))
    val rows = df.collect()
    // correctness on the hot bucket: every hot pair shares 3 of its 4
    // shingles (J = 3/5 ≥ 0.02). LSH banding surfaces a pair only when
    // some band's two minima coincide — with these fixed strings' md5s
    // exactly ONE of the C(200,2) = 19,900 pairs misses all 6 bands
    // (deterministic, and identical under the pre-round-11 candidate
    // self-join, which builds the same kept-bucket candidates).
    assert(rows.count(r => r.getLong(0) < 200 && r.getLong(1) < 200)
      === 200 * 199 / 2 - 1, "hot-bucket pairs missing under in-bucket verify")
    val plan = df.queryExecution.executedPlan
    // the old candidate self-join keyed on (band, h) must not exist
    val bandHJoins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.size == 2 => j
    }
    assert(bandHJoins.isEmpty,
      s"x2 still self-joins on (band, h):\n$plan")
    // the pair stream comes from a Generate (explode) whose subtree is
    // the bucket collect_list aggregate — verify runs in that map stage
    val plans = plan.toString
    assert(plans.contains("collect_list"),
      s"no bucket aggregate in x2's plan:\n$plans")
    assert(plans.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"bucket cap missing from x2's plan:\n$plans")
    OperatorCaches.release(spark)
  }

  test("round-5 operators: rebalance has no rank window, scrub is a pure projection") {
    import graft.operators.{Curation, TextAnalysis}
    // x31: the keep decision must stay a threshold test — the exact-count
    // alternative (rank per language, keep first N) funnels the largest
    // language through one task; no WindowExec may appear
    val rebalance = withoutAqe {
      Curation.langRebalance(spark, Sf).queryExecution.executedPlan
    }
    assert(rebalance.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"rank window crept into rebalance:\n$rebalance")
    // the per-lang dims are the only joins and they are bounded;
    // corpus×corpus pairing must never appear
    assert(!rebalance.toString.contains("CartesianProduct"),
      s"cartesian in rebalance:\n$rebalance")
    // x32: narrow projection — no join, no aggregation; only the
    // repartition fan-out and the output sort may exchange
    val scrub = withoutAqe {
      TextAnalysis.piiScrub(spark, Sf).queryExecution.executedPlan
    }
    assert(scrub.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"join crept into pii scrub:\n$scrub")
    assert(!scrub.toString.contains("HashAggregate"),
      s"aggregation crept into pii scrub:\n$scrub")
  }

  test("round-8 operators: semdedup pairs on the cell, dup-spans unhinted, " +
      "classifier join-free with doc-partitioned shuffle only") {
    import graft.operators.TextAnalysis
    // x48: same contract as embeddingDups — the only admissible broadcast
    // hints are the bounded centroid family (1-row derived ncells/nsup
    // aggregates in their lineage); the pair stage is a cell equi-join,
    // never a cartesian
    def boundedHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    val sd = Similarity.semDedup(spark, Sf)
    assert(logicalHints(sd).forall(boundedHint),
      "corpus-sized broadcast hint in semDedup")
    val sdP = physical(sd)
    assert(!sdP.contains("CartesianProduct"), s"cartesian in semdedup:\n$sdP")
    assert(sdP.contains("Join [cell#"), s"no cell equi-join in:\n$sdP")
    // x49: the span index is data-dependent — NO broadcast hints anywhere;
    // the only window is per-document (the covered-token gap scan)
    val ds = Dedup.dupSpans(spark, Sf)
    assert(logicalHints(ds).isEmpty, "hint crept into dupSpans")
    val dsPlan = withoutAqe {
      Dedup.dupSpans(spark, Sf).queryExecution.executedPlan
    }
    dsPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.exists(_.toString.contains("doc_id")),
        s"non-doc-partitioned window in dupSpans:\n$w")
    }
    assert(!dsPlan.toString.contains("CartesianProduct"),
      s"cartesian in dupSpans:\n$dsPlan")
    // x50: the hashing trick means NO join exists at all — hash+weight are
    // a projection, the doc-keyed aggregate is the only shuffle
    val qc = withoutAqe {
      TextAnalysis.qualityClassifier(spark, Sf).queryExecution.executedPlan
    }
    assert(qc.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"join crept into quality classifier:\n$qc")
    assert(qc.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into quality classifier:\n$qc")
  }

  test("bloom/ppl/novelty: sketch is the only unbounded-free hint, bucket " +
      "assignment window-free, novelty joins are vocabulary equi-joins") {
    import graft.operators.{Curation, TextAnalysis}
    // x52: admissible broadcast hints are (a) the 1-row bloom aggregate
    // (global agg in lineage) — the declarative one-row-broadcast shape —
    // and nothing corpus-sized; the sketch probe must survive into the
    // physical plan (if the optimizer dropped it, the operator would
    // silently degrade to x29's unfiltered join)
    def globalAggHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    val bd = Curation.bloomDecontaminate(spark, Sf)
    assert(logicalHints(bd).forall(globalAggHint),
      "corpus-sized broadcast hint in bloomDecontaminate")
    val bdP = physical(bd)
    assert(bdP.contains("might_contain"),
      s"bloom probe missing from physical plan:\n$bdP")
    assert(!bdP.contains("CartesianProduct"), s"cartesian in x52:\n$bdP")
    // x53: the per-lang count join is the only hint (lang-keyed
    // aggregate — a bounded dim). The rank cut's running sum may use a
    // window ONLY over the per-(lang, score) VALUE-GROUP relation — its
    // input must have an aggregate below it (the map-side compression
    // that bounds the window's partition by distinct score values); a
    // window directly over doc rows would funnel the largest language
    // through one task.
    val pb = withoutAqe {
      TextAnalysis.pplBuckets(spark, Sf).queryExecution.executedPlan
    }
    val wins = pb.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size === 1, s"expected exactly the rank-cut window:\n$pb")
    assert(wins.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isDefined,
      s"rank-cut window must read the value-group aggregate, not doc rows:\n$pb")
    assert(!pb.toString.contains("CartesianProduct"), s"cartesian in x53:\n$pb")
    // x55: the top-k must be TakeOrderedAndProject (per-partition heaps,
    // k-row merge), never a global Sort feeding a limit; bigrams must be
    // a per-row zip (no position self-join — the only joins are the
    // vocab-keyed unigram fetches and the 1-row total)
    val pc = withoutAqe {
      graft.operators.TextAnalysis.pmiCollocations(spark, Sf)
        .queryExecution.executedPlan
    }
    assert(pc.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"top-k is not TakeOrderedAndProject in x55:\n$pc")
    val sortsAboveAgg = pc.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(sortsAboveAgg.isEmpty, s"global sort crept into x55:\n$pc")
    // x54: data-dependent sizes everywhere — no broadcast hints at all;
    // both joins are equi-joins (shingle-keyed, then the doc-keyed agg)
    val nv = TextAnalysis.novelty(spark, Sf)
    assert(logicalHints(nv).isEmpty, "hint crept into novelty")
    val nvP = withoutAqe {
      TextAnalysis.novelty(spark, Sf).queryExecution.executedPlan
    }
    assert(!nvP.toString.contains("CartesianProduct"),
      s"cartesian in x54:\n$nvP")
    assert(nvP.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into novelty:\n$nvP")
  }

  test("event-analytics + frequency batch: aggregate-backed broadcasts only, " +
      "semi-join recount in x65, map-only entropy, bounded-window bm25") {
    import graft.operators.{EventAnalytics, Frequency}
    // every broadcast hint in x62–x64 must sit on an AGGREGATE-derived
    // relation (cohort sizes keyed by calendar day, per-stage 1-row
    // counts, per-type moment table) — never on a raw corpus relation
    def aggBackedHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
    Seq(
      "x62" -> EventAnalytics.retentionCohorts(spark, Sf),
      "x63" -> EventAnalytics.funnel(spark, Sf),
      "x64" -> EventAnalytics.valueAnomalies(spark, Sf)
    ).foreach { case (name, df) =>
      assert(logicalHints(df).forall(aggBackedHint),
        s"non-aggregate broadcast hint in $name")
      val p = physical(df)
      assert(!p.contains("CartesianProduct") ||
        name == "x63", // x63's 1-row stage-count crossJoin is bounded
        s"cartesian in $name:\n$p")
    }
    // x64's scoring must be join+filter only — no window (the moments
    // come from the partial agg, not a per-type window over raw events)
    val anomalyPlan = withoutAqe {
      EventAnalytics.valueAnomalies(spark, Sf).queryExecution.executedPlan
    }
    assert(anomalyPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into x64:\n$anomalyPlan")
    // x65: the exact recount must be a LeftSemi broadcast join on the
    // MG candidate set — if the semi-join disappears, the operator has
    // degraded to the full-vocabulary shuffle it exists to avoid
    val hhPlan = withoutAqe {
      Frequency.heavyHitters(spark, Sf).queryExecution.executedPlan
    }.toString
    assert(hhPlan.contains("LeftSemi"), s"no semi-join recount in x65:\n$hhPlan")
    assert(hhPlan.contains("BroadcastHashJoin"),
      s"candidate set not broadcast in x65:\n$hhPlan")
    // x66: pure map stage — zero joins, zero windows
    val cePlan = withoutAqe {
      Frequency.charEntropy(spark, Sf).queryExecution.executedPlan
    }
    assert(cePlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"join crept into x66:\n$cePlan")
    assert(cePlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into x66:\n$cePlan")
    // x67: top-k must be TakeOrderedAndProject (per-partition heaps);
    // the only window sits ABOVE the k-row limit (bounded), never over
    // the full scored relation
    val bmPlan = withoutAqe {
      Frequency.bm25(spark, Sf).queryExecution.executedPlan
    }
    assert(bmPlan.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"top-k is not TakeOrderedAndProject in x67:\n$bmPlan")
    bmPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }.isDefined, s"x67 rank window reads the unlimited relation:\n$bmPlan")
    }
    // x68: same corpus-hint contract as x3 (shared machinery)
    def corpusHints(df: DataFrame) = logicalHints(df).filterNot { h =>
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.isEmpty => a
      }.isDefined
    }
    assert(corpusHints(Dedup.ngramContainmentFrom(
      graft.queries.Tables.documents(spark, Sf))).isEmpty,
      "corpus-sized broadcast hint in x68")
  }

  test("round-9 operators: x75/x78/x79 broadcasts are aggregate-backed and " +
      "map-stage shaped, x77 top-k is TakeOrderedAndProject with no corpus window") {
    import graft.operators.{Curation, Quantization, TextAnalysis}
    def aggBackedHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
    // x75: the only broadcast is the 1-row pattern array (global agg);
    // the corpus side is a pure map stage — no window, no shuffle join
    val x75 = Curation.exactDecontaminate(spark, Sf)
    assert(logicalHints(x75).forall(aggBackedHint), "raw broadcast in x75")
    val p75 = withoutAqe { x75.queryExecution.executedPlan }
    assert(p75.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into x75:\n$p75")
    assert(p75.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"corpus shuffle join in x75:\n$p75")
    // x78/x79: threshold tables are aggregate-backed broadcasts; the
    // verdict pass must not sort or window the corpus
    Seq("x78" -> Curation.stratifiedSample(spark, Sf),
        "x79" -> TextAnalysis.quantileCalibrate(spark, Sf)).foreach {
      case (name, df) =>
        assert(logicalHints(df).forall(aggBackedHint),
          s"non-aggregate broadcast hint in $name")
    }
    // x79's only windows run over the HISTOGRAM aggregate, never raw docs
    val p79 = withoutAqe {
      TextAnalysis.quantileCalibrate(spark, Sf).queryExecution.executedPlan
    }
    p79.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x79 window reads raw docs, not the histogram:\n$p79")
    }
    // x77: per-partition-heap top-k, rank window only above the limit
    val p77 = withoutAqe {
      Quantization.embeddingOutliers(spark, Sf).queryExecution.executedPlan
    }
    assert(p77.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"x77 top-k is not TakeOrderedAndProject:\n$p77")
    p77.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }.isDefined, s"x77 rank window reads the unlimited relation:\n$p77")
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("round-9b operators: x81/x84 score through aggregate-backed broadcasts, " +
      "x82 top-k is TakeOrderedAndProject, x80/x83 never window the corpus") {
    import graft.operators.{Curation, Dedup, TextAnalysis}
    def aggBackedHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
    // x81/x84: every broadcast is an LM table (aggregate-derived) —
    // never a raw corpus relation
    Seq("x81" -> TextAnalysis.importanceSelect(spark, Sf),
        "x84" -> TextAnalysis.bigramLm(spark, Sf)).foreach {
      case (name, df) =>
        assert(logicalHints(df).forall(aggBackedHint),
          s"raw-relation broadcast hint in $name")
    }
    // x82: per-partition-heap top-k; the rank window reads the limited rows
    val p82 = withoutAqe {
      Curation.weightedSample(spark, Sf).queryExecution.executedPlan
    }
    assert(p82.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isDefined, s"x82 top-k is not TakeOrderedAndProject:\n$p82")
    p82.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
      }.isDefined, s"x82 rank window reads the unlimited relation:\n$p82")
    }
    // x80: the winner is a partial-aggregated groupBy (min-of-struct),
    // never a window over the exploded passage relation
    val p80 = withoutAqe {
      Dedup.passageDedup(spark, Sf).queryExecution.executedPlan
    }
    assert(p80.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"window crept into x80:\n$p80")
    // x83: scores are computed in the explode's map stage — no join at all
    val p83 = withoutAqe {
      TextAnalysis.langMixture(spark, Sf).queryExecution.executedPlan
    }
    assert(p83.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"join crept into x83's map+fold shape:\n$p83")
    // x86: the water-filling windows run over the SOURCE-bounded count
    // aggregate, never over corpus rows
    val p86 = withoutAqe {
      Curation.tokenBudget(spark, Sf).queryExecution.executedPlan
    }
    p86.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x86 window reads raw docs, not the source aggregate:\n$p86")
    }
    // x87/x88: pure map stages — no join, no window, no shuffle at all
    // before the presentation sort
    Seq("x87" -> Curation.cdcChunkStats(spark, Sf),
        "x88" -> TextAnalysis.luhnPan(spark, Sf)).foreach { case (name, df) =>
      val p = withoutAqe { df.queryExecution.executedPlan }
      assert(p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"$name must be a pure map stage:\n$p")
    }
    // x89: the rank window runs over the VOCAB aggregate (persisted, so
    // it may surface as an InMemoryTableScan over the aggregate), never
    // raw docs
    val p89 = withoutAqe {
      TextAnalysis.vocabCoverage(spark, Sf).queryExecution.executedPlan
    }
    p89.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
      }.isDefined, s"x89 window reads raw docs, not the vocab aggregate:\n$p89")
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("round-9 tail: x90's NLJs build bounded centroid tables, x91 keys its " +
      "window by user, x92 keeps x5's bucket cap, x93 scans the corpus once, " +
      "x94 joins only the broadcast threshold") {
    import graft.operators.{CorpusStats, Curation, EventAnalytics}
    def aggBackedHint(h: ResolvedHint): Boolean =
      h.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
    // x90: the ONLY nested-loop joins are against the centroid family —
    // c0 carries the 1-row derived-ncells count in its lineage, every
    // later round's centroid table is the ≤K-row Lloyd-update aggregate
    // (possibly persisted → InMemoryTableScan). A corpus×corpus NLJ has
    // neither an aggregate nor the ncells cut on its build side.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val x90 = Similarity.clusterQuality(spark, Sf)
    assert(logicalHints(x90).forall(aggBackedHint),
      "raw-relation broadcast hint in x90")
    val p90 = withoutAqe {
      Similarity.clusterQuality(spark, Sf).queryExecution.executedPlan
    }
    assert(!p90.toString.contains("CartesianProduct"), s"cartesian in x90:\n$p90")
    val nljs90 = p90.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nljs90.nonEmpty) // the vec×centroid assignment + K×K separation
    nljs90.foreach { j =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
      }.isDefined || build.toString.contains("ncells"),
        s"x90 nested-loop build side is not centroid-family bounded:\n$build")
    }
    // x91: ONE user-keyed window (the lead()), then bounded |types|²
    // aggregation; the per-from_type totals join is an aggregate-backed
    // broadcast
    val x91 = EventAnalytics.eventTransitions(spark, Sf)
    assert(logicalHints(x91).forall(aggBackedHint),
      "raw-relation broadcast hint in x91")
    val p91 = withoutAqe { x91.queryExecution.executedPlan }
    val wins91 = p91.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins91.size === 1, s"expected exactly the lead window in x91:\n$p91")
    assert(wins91.head.partitionSpec.exists(_.toString.contains("user_id")),
      s"x91 window not user-partitioned: ${wins91.head.partitionSpec}")
    // x92: composes x5's CAPPED pair relation — the bucket-size cut
    // (bsz <= MaxBandBucket) must survive into the physical plan; if a
    // refactor drops it, the self-join regains its quadratic hot-bucket
    // failure mode. The degree fold joins the corpus id column LEFT —
    // no cartesian anywhere.
    val p92 = withoutAqe {
      Dedup.dupDegreeHistogram(spark, Sf).queryExecution.executedPlan
    }.toString
    assert(p92.contains("bsz") && p92.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"x5's bucket cap missing from x92's plan:\n$p92")
    assert(!p92.contains("CartesianProduct"), s"cartesian in x92:\n$p92")
    // x93: the w1-marginal derives from the bigram AGGREGATE — the
    // corpus parquet is scanned ONCE; the second reference to the c12
    // subtree must resolve as a ReusedExchange, not a second scan
    val p93 = withoutAqe {
      CorpusStats.bigramEntropy(spark, Sf).queryExecution.executedPlan
    }
    val scans93 = p93.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans93.size === 1,
      s"x93 must scan the corpus once (marginal from the aggregate):\n$p93")
    // x94: the three signals are ONE map projection; the only join is
    // the broadcast of the source-bounded threshold table, and the
    // calibration windows run over the histogram aggregate — never raw
    // docs
    val p94 = withoutAqe {
      Curation.qualityGate2(spark, Sf).queryExecution.executedPlan
    }
    val joins94 = p94.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins94.size === 1, s"x94 must have exactly the threshold join:\n$p94")
    assert(joins94.head.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec],
      s"x94 threshold join is not broadcast: ${joins94.head.getClass.getSimpleName}")
    p94.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x94 window reads raw docs, not the histogram:\n$p94")
    }
    // x95: inherits x5's banded discipline through the shared helper —
    // the bucket cap must survive into the physical plan, the pair stage
    // is a (c, chunk, media_type) equi-join (never a cartesian), and no
    // broadcast hint sits on the corpus-sized signature relation
    val x95 = graft.operators.Multimodal.mediaDups(spark, Sf)
    assert(logicalHints(x95).isEmpty, "hint crept into x95")
    val p95 = withoutAqe {
      graft.operators.Multimodal.mediaDups(spark, Sf)
        .queryExecution.executedPlan
    }.toString
    assert(p95.contains("bsz") && p95.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"the bucket cap missing from x95's plan:\n$p95")
    assert(!p95.contains("CartesianProduct"), s"cartesian in x95:\n$p95")
    graft.util.OperatorCaches.release(spark)
  }

  test("round-10 tail: x96/x97 keep the DF cap in-plan and pair by " +
      "equi-join, x98 is one corpus scan with an aggregate-backed " +
      "broadcast total") {
    import graft.operators.{Curation, Multimodal}
    // x96: the frame-hash DF cut (df <= MaxBandBucket) must survive into
    // the physical plan — without it the exact-hash self-join regains the
    // mass-common-frame (blank/intro frames) quadratic blow-up; the pair
    // stage is an fh equi-join, never a cartesian; no broadcast hint on
    // the corpus-sized frame relation.
    val x96 = Multimodal.videoFrameDups(spark, Sf)
    assert(logicalHints(x96).isEmpty, "hint crept into x96")
    val p96 = withoutAqe {
      Multimodal.videoFrameDups(spark, Sf).queryExecution.executedPlan
    }.toString
    assert(p96.contains("df") && p96.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"the frame-hash DF cap missing from x96's plan:\n$p96")
    assert(!p96.contains("CartesianProduct"), s"cartesian in x96:\n$p96")
    graft.util.OperatorCaches.release(spark)
    // x97: same discipline on the (lhash, len) landmark buckets; the
    // vote histogram must be an aggregate ABOVE the equi-join (the pair
    // decision reduces join output, it never widens it).
    val x97 = Multimodal.audioLandmarkDups(spark, Sf)
    assert(logicalHints(x97).isEmpty, "hint crept into x97")
    val p97 = withoutAqe {
      Multimodal.audioLandmarkDups(spark, Sf).queryExecution.executedPlan
    }
    val p97s = p97.toString
    assert(p97s.contains("df") && p97s.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"the landmark DF cap missing from x97's plan:\n$p97s")
    assert(!p97s.contains("CartesianProduct"), s"cartesian in x97:\n$p97s")
    val l97 = Multimodal.audioLandmarkDups(spark, Sf)
      .queryExecution.optimizedPlan
    assert(l97.collect {
      // the delta alias is pulled out as _groupingexpression by the
      // optimizer; identify the vote histogram by its 3-key grouping
      // (doc_a, doc_b, delta) producing the `votes` count
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.size == 3 &&
          a.aggregateExpressions.exists(_.toString.contains("AS votes")) => a
    }.nonEmpty, s"x97's delta-vote histogram is not an aggregate:\n$l97")
    graft.util.OperatorCaches.release(spark)
    // x98: ONE corpus scan (the per-source count), and the only join is
    // the 1-row total composed back via a broadcast of an aggregate —
    // the whole operator must stay |S|-bounded after the first reduce.
    val p98 = withoutAqe {
      Curation.temperatureMixture(spark, Sf).queryExecution.executedPlan
    }
    val scans98 = p98.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans98.size === 1, s"x98 must scan the corpus once:\n$p98")
    p98.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x98 total join is not aggregate-backed:\n$build")
    }
  }

  test("x99/x100: the recall eval inherits both inputs' caps and adds no " +
      "cartesian; the distiller scans the corpus once and broadcasts its " +
      "4096-row weight table") {
    import graft.operators.{Dedup => D, TextAnalysis => TA}
    // x99: both composed pair relations keep their own candidate
    // discipline. Since the round-11 staged pairTable, the LSH side is
    // checkpoint-materialized BEFORE the eval plan exists (so the two
    // corpus-scale exchanges never share peak scratch — the sf10 gate
    // finding), and since round 15 the TRUTH side is materialized the
    // same way (concurrently with the pair build — guide §2.6): each
    // side's candidate cap is asserted on ITS build plan, and x99's own
    // plan must read BOTH materialized pair relations as RDD scans,
    // re-planning neither, and add no cartesian.
    val pBuild = withoutAqe {
      D.minhashLsh(spark, Sf).queryExecution.executedPlan
    }.toString
    assert(pBuild.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"x2's band-bucket cap missing from the pair build:\n$pBuild")
    val tBuild = withoutAqe {
      D.ngramJaccardCoreFromSh(D.shingleTable(spark, Sf))
        .queryExecution.executedPlan
    }.toString
    assert(tBuild.contains("df_keep"),
      s"x3's volume-budget cut missing from the truth build:\n$tBuild")
    val p99 = withoutAqe {
      D.lshRecallEval(spark, Sf).queryExecution.executedPlan
    }.toString
    assert(p99.contains("ExistingRDD") || p99.contains("Scan ExistingRDD"),
      s"x99's sides are not materialized pair tables:\n$p99")
    assert(!p99.contains(s"<= ${Dedup.MaxBandBucket}"),
      "x99 re-plans the LSH build instead of scanning the checkpointed " +
        s"pair table:\n$p99")
    assert(!p99.contains("df_keep"),
      "x99 re-plans the truth pipeline instead of scanning its " +
        s"checkpointed pairs:\n$p99")
    assert(!p99.contains("CartesianProduct"), s"cartesian in x99:\n$p99")
    graft.util.OperatorCaches.release(spark)
    // x100: ONE corpus scan (the persisted token-bucket relation feeds
    // teacher, training, and scoring via InMemoryTableScan); the weight
    // application is a broadcast hash join (the trained table is
    // ClassifierBuckets-bounded); every NLJ build side (the 1-row class
    // total) is aggregate-backed.
    val p100 = withoutAqe {
      TA.nbDistill(spark, Sf).queryExecution.executedPlan
    }
    val scans100 = p100.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans100.size <= 1, s"x100 rescans the corpus:\n$p100")
    assert(p100.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, s"x100's weight application is not a broadcast join:\n$p100")
    p100.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x100 total join is not aggregate-backed:\n$build")
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("x101: the component solve is fully distributed — no driver-built " +
      "LocalTableScan mapping (x28's legitimate shortcut), no cartesian") {
    import graft.operators.{Dedup => D}
    val plan = withoutAqe {
      D.dupComponents(spark, Sf).queryExecution.executedPlan
    }
    // x28 expands through a broadcast of a driver-solved LocalTableScan
    // (legitimate there: its node space is 2^16-bounded). x101's node
    // space is corpus-sized, so its label expansion must read only
    // distributed relations — the converged star edges live in the
    // cluster (InMemoryTableScan), never on the driver.
    assert(plan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.isEmpty, s"driver-materialized relation in x101's plan:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      s"cartesian in x101:\n$plan")
    graft.util.OperatorCaches.release(spark)
  }

  test("x102/x103: the keep policy inherits x101's distributed labels " +
      "(no driver relation, no cartesian); the delta probe keeps the " +
      "base bucket cap and every NLJ build side is the split aggregate") {
    import graft.operators.{Dedup => D}
    val p102 = withoutAqe {
      D.canonicalKeep(spark, Sf).queryExecution.executedPlan
    }
    assert(p102.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.isEmpty, s"driver-materialized relation in x102's plan:\n$p102")
    assert(!p102.toString.contains("CartesianProduct"),
      s"cartesian in x102:\n$p102")
    graft.util.OperatorCaches.release(spark)
    // x103 and x104 run one operator (the streaming composition's batch
    // carrier): the base bucket cap survives, probes reach the index
    // through equi-joins, and the only NLJ build is the split aggregate
    Seq("x103_delta_dedup", "x104_stream_delta_dedup").foreach { q =>
      val p = withoutAqe {
        SparkEntry.queries(q)(spark, Sf).queryExecution.executedPlan
      }
      assert(p.toString.contains(s"<= ${Dedup.MaxBandBucket}"),
        s"base bucket cap missing from $q's plan:\n$p")
      assert(!p.toString.contains("CartesianProduct"),
        s"cartesian in $q:\n$p")
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        }
        assert(build.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.isDefined, s"$q split join is not aggregate-backed:\n$build")
      }
      graft.util.OperatorCaches.release(spark)
    }
  }

  test("x104 batch carrier: probe fingerprints are computed once per doc " +
      "BEFORE the band join (no md5 above it — the sf10 15.2×/decade " +
      "composition re-md5'd shingles per band-hit) and the null band " +
      "rides an OUTER posexplode") {
    val p104 = withoutAqe {
      graft.streaming.CorpusStream.deltaDedupBatch(spark, Sf)
        .queryExecution.executedPlan
    }
    // locate the probe→index band equi-join: its keys are (band, h)
    val all = p104.collect { case n => n }
    val bandJoin = all.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.toSet == Set("band", "h") => j
    }
    assert(bandJoin.isDefined, s"no (band, h) equi-join in x104:\n$p104")
    // every node whose subtree CONTAINS the band join (= the join and
    // its ancestors — the post-join pipeline) must evaluate no md5: the
    // probe fingerprints must already be 60-bit longs by the time they
    // reach the band exchange. (The base side's own md5 lives in a
    // SIBLING branch — baseFps — and is legitimately invisible here.)
    val offenders = all.filter(n =>
      n.collectFirst { case x if x eq bandJoin.get => x }.isDefined)
      .filter(n => n.expressions.exists(_.collectFirst {
        case e: org.apache.spark.sql.catalyst.expressions.Md5 => e
      }.isDefined))
    assert(offenders.isEmpty,
      s"md5 evaluated at/above the band join (per-band-hit recompute):\n" +
        offenders.map(_.nodeName).mkString(", ") + s"\n$p104")
    // empty/null-text docs keep a null band row through the left join —
    // the generate feeding the band keys must be OUTER
    assert(p104.collect {
      case g: org.apache.spark.sql.execution.GenerateExec if g.outer => g
    }.nonEmpty, s"no outer generate (posexplode_outer) in x104:\n$p104")
    graft.util.OperatorCaches.release(spark)
  }

  test("x118 batch carrier: the composed at-ingest verdict keeps every " +
      "shared seam's contract — ONE first-seen state operator, the base " +
      "bucket cap, no cartesian, no md5 at/above the band join, and the " +
      "gate threshold arriving through a broadcast") {
    val p118 = withoutAqe {
      graft.streaming.CorpusStream.corpusBuildBatch(spark, Sf)
        .queryExecution.executedPlan
    }
    val s = p118.toString
    // exactly one first-seen state machine (x57's seam; batch-mode
    // flatMapGroupsWithState plans as MapGroupsExec) — a second one
    // would mean the composition re-deduped somewhere
    assert(p118.collect {
      case f: org.apache.spark.sql.execution.MapGroupsExec => f
    }.size === 1, s"expected exactly one fMGWS/MapGroups in x118:\n$p118")
    // x104's base bucket cap survives the composition
    assert(s.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"base bucket cap missing from x118's plan:\n$p118")
    assert(!s.contains("CartesianProduct"), s"cartesian in x118:\n$p118")
    // the only NLJ is the 1-row split-boundary aggregate broadcast
    p118.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x118 split join is not aggregate-backed:\n$build")
    }
    // probe fingerprints are 60-bit longs BEFORE the band exchange —
    // x104's sf10 lesson holds through the composition (the s1 hash and
    // gate md5s live below the join, in the pre-explode projection)
    val bandJoin = p118.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.toSet == Set("band", "h") => j
    }
    assert(bandJoin.isDefined, s"no (band, h) equi-join in x118:\n$p118")
    val offenders = p118.collect { case n => n }
      .filter(n => n.collectFirst { case x if x eq bandJoin.get => x }.isDefined)
      .filter(n => n.expressions.exists(_.collectFirst {
        case e: org.apache.spark.sql.catalyst.expressions.Md5 => e
      }.isDefined))
    assert(offenders.isEmpty,
      s"md5 evaluated at/above x118's band join:\n" +
        offenders.map(_.nodeName).mkString(", "))
    // the per-source calibration reaches the stream side as a broadcast
    // hash join on source (a shuffle there would re-key the corpus by a
    // few-valued column)
    assert(p118.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.toSet == Set("source") => j
    }.nonEmpty, s"gate threshold join is not a broadcast on source:\n$p118")
    graft.util.OperatorCaches.release(spark)
  }

  test("x105 IVF-PQ: the ADC scan reaches the codes through a broadcast " +
      "hash join on the CELL key with the bounded query/LUT table as the " +
      "build side (the corpus codes stream), no cartesian, every NLJ " +
      "build aggregate-backed") {
    val p105 = withoutAqe {
      graft.operators.ProductQuantization.ivfPqTopK(spark, Sf)
        .queryExecution.executedPlan
    }
    assert(!p105.toString.contains("CartesianProduct"),
      s"cartesian in x105:\n$p105")
    // the probed-cell restriction: a broadcast hash join keyed on cell
    // alone, with the |queries|·nprobe LUT table built (not the corpus)
    val cellJoins = p105.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.toSet == Set("cell") => j
    }
    assert(cellJoins.nonEmpty, s"no broadcast cell join in x105:\n$p105")
    cellJoins.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      // the build side is the query-bounded LUT assembly (its
      // collect_list aggregate), never the cell-keyed corpus codes
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(
            _.aggregateFunction.prettyName == "collect_list") => a
      }.isDefined, s"x105 cell-join build side is not the LUT table:\n$build")
    }
    // the only NLJ shapes are the bounded one-row-aggregate crossJoins
    // (centroid counts / cell-curve derivations)
    p105.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x105 NLJ build is not aggregate-backed:\n$build")
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("round-11 tail: x107 is a pure map stage, x108 probes through the " +
      "cell-keyed broadcast (no cartesian, NLJs aggregate-backed), x109's " +
      "windows read only bounded aggregates") {
    import graft.operators.{CorpusStats, TextAnalysis}
    // x107: every signal is an in-row fold — no join, no window before
    // the presentation sort (the x87/x88 scan-speed contract)
    val p107 = withoutAqe {
      TextAnalysis.gopherRules(spark, Sf).queryExecution.executedPlan
    }
    assert(p107.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"x107 must be a pure map stage:\n$p107")
    // x108: the candidate restriction is x34's audited shape — a
    // broadcast hash join keyed on the CELL alone (build = the bounded
    // |eval|·nprobe probe slice), never a cartesian; the only NLJs are
    // the 1-row cell-curve aggregates
    val p108 = withoutAqe {
      Similarity.semanticDecontaminate(spark, Sf).queryExecution.executedPlan
    }
    assert(!p108.toString.contains("CartesianProduct"),
      s"cartesian in x108:\n$p108")
    assert(p108.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.leftKeys.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.toSet == Set("cell") => j
    }.nonEmpty, s"no broadcast cell join in x108:\n$p108")
    p108.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x108 NLJ build is not aggregate-backed:\n$build")
    }
    graft.util.OperatorCaches.release(spark)
    // x109: the corpus reduces to count aggregates FIRST — every window
    // (global length CDF, per-source cumsum) must read an aggregate, and
    // every NLJ build (the sources / totals broadcasts) is an aggregate
    val p109 = withoutAqe {
      CorpusStats.lengthDrift(spark, Sf).queryExecution.executedPlan
    }
    val wins109 = p109.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins109.nonEmpty, s"no WindowExec in x109's plan:\n$p109")
    wins109.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x109 window reads raw docs, not an aggregate:\n$p109")
    }
    p109.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x109 NLJ build is not aggregate-backed:\n$build")
    }
  }

  test("round-11b tail: x110 has no window (group stats join back), " +
      "x111's NLJs are aggregate-backed with no cartesian, x112 selects " +
      "through the bounded-heap partial aggregate, never a cluster window") {
    import graft.operators.Curation
    def nljBuildsAggregateBacked(p: org.apache.spark.sql.execution.SparkPlan,
        tag: String): Unit =
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        }
        // a ReusedExchangeExec is a LEAF that references its original
        // exchange as a field — collect() cannot see through it, so
        // resolve the reference before asking for the aggregate
        def hasAgg(pl: org.apache.spark.sql.execution.SparkPlan): Boolean =
          pl.collectFirst {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
                if hasAgg(r.child) => null
          }.isDefined
        assert(hasAgg(build), s"$tag NLJ build is not aggregate-backed:\n$build")
      }
    // x110: x1's shape — a hash-partition window would buffer a
    // billion-copy canonical group in one task; the guard pins the
    // groupBy-join-back formulation (no WindowExec anywhere)
    val p110 = withoutAqe {
      Dedup.normalizedDedup(spark, Sf).queryExecution.executedPlan
    }
    assert(p110.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"x110 must not window the corpus:\n$p110")
    assert(!p110.toString.contains("CartesianProduct"))
    graft.util.OperatorCaches.release(spark)
    // x111: split boundary, cell-curve K, and ppm totals are 1-row
    // aggregate broadcasts — every NLJ build must be aggregate-backed,
    // and nothing may plan a cartesian
    val p111 = withoutAqe {
      Similarity.indexMaintain(spark, Sf).queryExecution.executedPlan
    }
    assert(!p111.toString.contains("CartesianProduct"),
      s"cartesian in x111:\n$p111")
    nljBuildsAggregateBacked(p111, "x111")
    graft.util.OperatorCaches.release(spark)
    // x112: the quota selection must be the ObjectHashAggregate bounded
    // heap (partial-aggregated before the shuffle), NEVER a rank window
    // partitioned by the cluster (which funnels the densest cluster
    // through one task)
    val p112 = withoutAqe {
      Curation.clusterQuotaSample(spark, Sf).queryExecution.executedPlan
    }
    assert(p112.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"x112 must not window by cluster:\n$p112")
    assert(p112.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }.nonEmpty, s"x112 quota selection is not the bounded-heap aggregate:\n$p112")
    assert(!p112.toString.contains("CartesianProduct"))
    graft.util.OperatorCaches.release(spark)
  }

  test("round-11c tail: x113 inherits x100's one-scan/broadcast-weight " +
      "shape; x114 reads the materialized pair table (no LSH re-plan), " +
      "folds join hash-wise, NLJs aggregate-backed") {
    import graft.operators.{Curation, TextAnalysis => TA}
    // x113: the calibration layer must not add a corpus rescan — the
    // whole eval is x100's persisted token-bucket relation plus bounded
    // aggregates; the min/max range rides a 1-row aggregate NLJ
    val p113 = withoutAqe {
      TA.distillCalibration(spark, Sf).queryExecution.executedPlan
    }
    val scans113 = p113.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans113.size <= 1, s"x113 rescans the corpus:\n$p113")
    assert(!p113.toString.contains("CartesianProduct"),
      s"cartesian in x113:\n$p113")
    p113.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x113 NLJ build is not aggregate-backed:\n$build")
    }
    graft.util.OperatorCaches.release(spark)
    // x114: fifth consumer of the pair-table seam — its plan must scan
    // the checkpointed pairs (ExistingRDD), never re-plan the LSH build
    // (no band-bucket cap downstream of the seam), and the fold lookups
    // are equi-joins; the only NLJ is the 1-row pair-total share
    val p114 = withoutAqe {
      Curation.splitLeakage(spark, Sf).queryExecution.executedPlan
    }
    assert(p114.toString.contains("ExistingRDD"),
      s"x114's pair side is not the materialized pair table:\n$p114")
    assert(!p114.toString.contains(s"<= ${Dedup.MaxBandBucket}"),
      s"x114 re-plans the LSH build instead of scanning the pair table:\n$p114")
    assert(!p114.toString.contains("CartesianProduct"),
      s"cartesian in x114:\n$p114")
    p114.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      assert(build.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined, s"x114 NLJ build is not aggregate-backed:\n$build")
    }
    graft.util.OperatorCaches.release(spark)
  }

  test("Tables.parallelized: no-op (no Exchange) on already-parallel input, " +
      "repartitions only a narrow local scan") {
    import graft.queries.Tables
    // already-parallel input (>= defaultParallelism partitions) must pass
    // through IDENTICALLY — reference equality, so no Exchange can exist
    // above the scan at scale where input splits provide parallelism
    val want = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 10000).toDF("id").repartition(want + 8)
    assert(Tables.parallelized(wide) eq wide,
      "parallelized introduced a plan node on already-parallel input")
    // the local single-split corpus scan IS repartitioned (that's the
    // only reason the helper exists) and ends at driver parallelism
    val docs = Tables.documents(spark, Sf)
    assume(docs.rdd.getNumPartitions < want) // local corpus = few splits
    assert(Tables.parallelized(docs).rdd.getNumPartitions === want)
  }
  test("x115 ranks come from bounded value histograms (every rank window " +
      "sits above an aggregate), x116's stitch join is occupancy-capped") {
    import graft.operators.{Curation, Dedup}
    // x115: the textbook RANK() OVER (ORDER BY signal) is an
    // unpartitioned corpus-wide sort in one task; the histogram
    // formulation keeps every WindowExec above a groupBy whose output
    // is bounded by the signal's value range, never corpus-sized
    val qf = withoutAqe {
      Curation.qualityFusion(spark, Sf).queryExecution.executedPlan
    }
    val wins = qf.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, s"expected histogram rank windows in x115:\n$qf")
    wins.foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isDefined,
        s"x115 rank window is not over a histogram aggregate:\n$w")
    }
    assert(!qf.toString.contains("CartesianProduct"),
      s"cartesian in x115:\n$qf")
    // x116: the stitch equi-join must be gated by the MaxBandBucket
    // occupancy cut on both boundary-hash sides, and never a cartesian
    val ps = withoutAqe {
      Dedup.pageStitch(spark, Sf).queryExecution.executedPlan
    }
    // structural, not string-match: FilterExecs must carry BOTH
    // occupancy-cap predicates (pc <= MaxBandBucket, sc <= ...) as
    // literal comparisons on those attributes — any other <= 256 in the
    // plan can't satisfy this. The optimizer splits the conjunction and
    // pushes each side below the kept-key join, so collect over ALL
    // filters.
    val capNames = ps.collect {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.collect {
          case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(
              a: org.apache.spark.sql.catalyst.expressions.Attribute,
              org.apache.spark.sql.catalyst.expressions.Literal(v, _))
              if v == Dedup.MaxBandBucket.toLong => a.name
        }
    }.flatten.toSet
    assert(capNames.contains("pc") && capNames.contains("sc"),
      s"occupancy cap (pc AND sc <= ${Dedup.MaxBandBucket}) missing from " +
        s"x116's plan (found: $capNames):\n$ps")
    assert(!ps.toString.contains("CartesianProduct"),
      s"cartesian in x116:\n$ps")
    graft.util.OperatorCaches.release(spark)
  }

  test("x117 composes through shared seams: the assembled plan reads " +
      "stage BARRIERS — no stage build, LSH signature, gate projection " +
      "or shingle build re-runs inside it — and has no cartesian") {
    // every stage (s1 dedup, s2 keep, s3 gate, s4 decontaminate) is an
    // eager lineage-truncated materialization that ran exactly once, by
    // construction, when corpusBuild assembled the DataFrame (self-joins
    // over shared lineage defeat plan-matched caching — see the operator
    // note). The assertable consequence: the FINAL plan contains none of
    // the stage-build expressions — if a future edit un-barriers a stage,
    // its build expressions (CDC chunker, minhash, shingles) leak back
    // into this plan, once per consumer.
    val top = withoutAqe {
      graft.operators.Curation.corpusBuild(spark, Sf)
        .queryExecution.executedPlan
    }
    def countExpr(f: org.apache.spark.sql.catalyst.expressions.Expression
        => Boolean): Int =
      top.collect { case node =>
        node.expressions.map(_.collect { case e if f(e) => e }.size).sum
      }.sum
    assert(countExpr(_.isInstanceOf[graft.expressions.MinHashSig]) === 0,
      "x117 rebuilds the LSH signature in the assembled plan")
    assert(countExpr(_.isInstanceOf[graft.expressions.CdcChunks]) === 0,
      "x117 gate projection leaked past its stage barrier")
    assert(countExpr(_.isInstanceOf[graft.expressions.WordShingles]) === 0,
      "x117 shingle build leaked past its stage barrier")
    // the assembly is joins over the four barrier scans + documents —
    // any text-column scan means a stage is being recomputed inline
    val textScans = top.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "text") => f
    }
    assert(textScans.isEmpty,
      s"x117 assembly re-scans document text:\n$top")
    assert(!top.toString.contains("CartesianProduct"), "cartesian in x117")
    graft.util.OperatorCaches.release(spark)
  }
}

