package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CorpusStats, Curation, Dedup, EventAnalytics, Frequency, Multimodal, ProductQuantization, Quantization, Similarity, TemporalJoins, TextAnalysis}
import graft.queries.{RefParity, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB oracle in [[oracleSql]] unless the
  * operator is not SQL-expressible (sketches with engine-specific algorithms);
  * those are flagged rows-only. Column names are aliased identically on both
  * sides; every query ends in a total ORDER BY so results are deterministic.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's analytics-MV cascade end to end (ingest → raw →
    * derive, SURVEY.md §3.3). */
  def entry(spark: SparkSession): DataFrame =
    RefParity.analyticsDerive(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference parity (SURVEY §2.3–§2.5) —
    "r1_ingest_raw" -> (RefParity.ingestRaw _),
    "r2_subject_segments" -> (RefParity.subjectSegments _),
    "r3_json_extract" -> (RefParity.jsonExtract _),
    "r4_analytics_derive" -> (RefParity.analyticsDerive _),
    "r5_union_streams" -> (RefParity.unionStreams _),
    "r6_month_partitions" -> (RefParity.monthPartitions _),
    // batch flavor of the streaming windowed aggregation (same plan,
    // exact distinct + honest column name for the DuckDB compare)
    "r7_windowed_counts" -> ((s: SparkSession, dir: String) =>
      graft.streaming.NatsLikeStream.windowedCounts(
          RefParity.envelopes(s, dir))
        .orderBy("hour_start", "stream")),
    // batch flavor of the streaming session windows — gates the
    // session_window merge semantics against a gaps-and-islands oracle
    "r8_session_counts" -> ((s: SparkSession, dir: String) =>
      graft.streaming.NatsLikeStream.sessionCounts(
          RefParity.envelopes(s, dir))
        .orderBy("session_start", "subject")),
    // batch flavor of the stream-stream interval join (watermarks are
    // no-ops in batch; the join predicate is identical either way)
    "r9_interval_join" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val ev = graft.queries.Tables.events(s, dir)
      graft.streaming.NatsLikeStream.viewClickAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"))
        .orderBy("click_id", "view_id")
    }),
    // VariantType mapping of init.sql's `metadata JSON, data JSON`
    "r10_analytics_variant" -> (RefParity.analyticsVariant _),
    // — relational battery (SURVEY §2.6 / §7.2 step 4) —
    "q1_pricing_summary" -> (Relational.pricingSummary _),
    "q2_filter_agg" -> (Relational.filterAgg _),
    "q3_join_topk" -> (Relational.joinTopK _),
    "q4_broadcast_join" -> (Relational.broadcastJoinAgg _),
    "q5_multi_join" -> (Relational.multiJoinAgg _),
    "q6_semi_join" -> (Relational.semiJoin _),
    "q7_anti_join" -> (Relational.antiJoin _),
    "q8_window_rank" -> (Relational.windowRank _),
    "q9_window_running" -> (Relational.windowRunning _),
    "q10_distinct_agg" -> (Relational.distinctAgg _),
    "q11_rollup" -> (Relational.rollupAgg _),
    "q12_set_ops" -> (Relational.setOps _),
    "q13_event_windows" -> (Relational.eventWindows _),
    "q14_sessionize" -> (Relational.sessionize _),
    "q15_moving_avg" -> (Relational.movingAvg _),
    "q16_approx_distinct" -> (Relational.approxDistinct _),
    "q17_pivot" -> (Relational.pivotAgg _),
    "q18_percentiles" -> (Relational.percentiles _),
    "q19_salted_agg" -> (Relational.saltedAgg _),
    "q20_corr_subquery" -> (Relational.corrSubquery _),
    "q21_grouping_sets" -> (Relational.groupingSets _),
    // q22: quantile sketch — engine-specific internals, rows-only gate
    // (accuracy spec vs exact percentiles in OperatorsSpec, like q16)
    "q22_approx_percentiles" -> (Relational.approxPercentiles _),
    // — LLM-pipeline extensions (SURVEY §7.2 step 5 / north star) —
    "x1_dedup_exact" -> (Dedup.exact _),
    "x2_minhash_lsh" -> (Dedup.minhashLsh _),
    "x3_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "x4_simhash" -> (Dedup.simhash _),
    "x5_simhash_pairs" -> (Dedup.simhashPairs _),
    "x6_ann_bruteforce" -> (Similarity.bruteForceTopK _),
    "x7_ann_lsh" -> (Similarity.lshTopK _),
    "x8_embedding_dups" -> (Similarity.embeddingDups _),
    "x9_text_stats" -> (TextAnalysis.textStats _),
    "x10_lang_id" -> (TextAnalysis.langId _),
    "x11_token_regex" -> (TextAnalysis.tokenRegex _),
    "x12_fingerprint" -> (TextAnalysis.fingerprint _),
    "x13_media_meta" -> (Multimodal.mediaMeta _),
    "x14_media_decode" -> (Multimodal.decodeFeatures _),
    "x15_asof_join" -> (TemporalJoins.asofJoin _),
    "x18_frame_sample" -> (Multimodal.frameSample _),
    "x19_ann_ivf" -> (Similarity.ivfTopK _),
    "x16_range_join" -> (TemporalJoins.rangeJoin _),
    "x17_udaf_wavg" -> (Relational.udafWeightedAvg _),
    // — corpus curation (split / filter / mix) —
    "x24_media_resize" -> (Multimodal.resizePlan _),
    "x20_train_split" -> (Curation.trainSplit _),
    "x21_length_filter" -> (Curation.lengthFilter _),
    "x22_mixture_weights" -> (Curation.mixtureWeights _),
    "x23_curated_corpus" -> (Curation.curatedCorpus _),
    "x25_repetition" -> (TextAnalysis.repetition _),
    "x26_pack_sequences" -> (Curation.packSequences _),
    "x27_int8_quant" -> (Quantization.int8Stats _),
    "x28_dup_clusters" -> (Dedup.dupClusters _),
    "x29_decontaminate" -> (Curation.decontaminate _),
    "x30_dedup_apply" -> (Curation.dedupApply _),
    "x31_lang_rebalance" -> (Curation.langRebalance _),
    "x32_pii_scrub" -> (TextAnalysis.piiScrub _),
    "x33_kmeans_train" -> (Similarity.kmeansTrain _),
    "x34_ann_trained" -> (Similarity.ivfTopKTrained _),
    "x35_tfidf_terms" -> (TextAnalysis.tfidfTerms _),
    "x36_chunk_overlap" -> (Curation.chunkOverlap _),
    "x37_vocab_build" -> (TextAnalysis.vocabBuild _),
    "x38_embedding_cov" -> (Quantization.covarianceStats _),
    // the id ARRAY is projected to CSV for the gate: the compare hashes
    // scalar cells; consumers use encodeDocs' real array column
    "x39_encode_docs" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, concat_ws}
      TextAnalysis.encodeDocs(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_rate"), concat_ws(",", col("ids")).as("ids_csv"))
        .orderBy("doc_id")
    }),
    "x40_fim_split" -> (Curation.fimSplit _),
    "x41_boilerplate" -> (TextAnalysis.boilerplate _),
    "x42_dialog_assembly" -> (Curation.dialogAssembly _),
    "x43_unigram_logprob" -> (TextAnalysis.unigramLogProb _),
    "x44_quality_gate" -> (Curation.qualityGate _),
    "x45_standardize" -> (Quantization.standardize _),
    "x46_pq_encode" -> (ProductQuantization.pqEncode _),
    "x47_ann_pq" -> (ProductQuantization.adcTopK _),
    "x48_semdedup" -> (Similarity.semDedup _),
    "x49_dup_spans" -> (Dedup.dupSpans _),
    "x50_quality_classifier" -> (TextAnalysis.qualityClassifier _),
    "x51_source_cap" -> (Curation.sourceCap _),
    "x52_bloom_decontaminate" -> (Curation.bloomDecontaminate _),
    "x53_ppl_buckets" -> (TextAnalysis.pplBuckets _),
    "x54_novelty" -> (TextAnalysis.novelty _),
    "x55_pmi_collocations" -> (TextAnalysis.pmiCollocations _),
    "x56_bpe_merge" -> (TextAnalysis.bpeMergeStep _),
    // batch flavor of the STREAMING first-seen dedup (same code path,
    // single-batch state; StreamingSpec drives the stateful/TTL side)
    "x57_stream_dedup" -> ((s: SparkSession, dir: String) =>
      graft.streaming.CorpusStream.firstSeenDedup(s,
          graft.queries.Tables.documents(s, dir)
            .withColumn("ts",
              org.apache.spark.sql.functions.timestamp_seconds(
                org.apache.spark.sql.functions.col("doc_id"))))
        .toDF().orderBy("doc_id")),
    "x58_ann_recall" -> (Similarity.annRecall _),
    "x59_latest_state" -> (Relational.latestState _),
    "x60_winsorize" -> (Relational.winsorize _),
    "x61_shuffle_shards" -> (Curation.shuffleShards _),
    "x62_retention" -> (EventAnalytics.retentionCohorts _),
    "x63_funnel" -> (EventAnalytics.funnel _),
    "x64_anomaly" -> (EventAnalytics.valueAnomalies _),
    "x65_heavy_hitters" -> (Frequency.heavyHitters _),
    "x66_char_entropy" -> (Frequency.charEntropy _),
    "x67_bm25" -> (Frequency.bm25 _),
    "x68_containment" -> (Dedup.ngramContainment _),
    "x69_source_js" -> (CorpusStats.sourceDivergence _),
    "x70_source_overlap" -> (CorpusStats.sourceOverlap _),
    "x71_skipgram_cooc" -> (CorpusStats.skipgramCooc _),
    // x72: the streaming session operator in BATCH mode (one group
    // invocation per user, no timeouts) — semantically q14, gated by the
    // same oracle; the stateful/timeout path is StreamingSpec-driven.
    "x72_stream_sessions" -> ((s: SparkSession, dir: String) =>
      graft.streaming.SessionStream
        .sessionize(s, graft.queries.Tables.events(s, dir))
        .toDF().orderBy("user_id", "session_seq")),
    "x73_pca_power" -> (Quantization.pcaPower _),
    "x74_pca_project" -> (Quantization.pcaProject _),
    "x75_exact_decontaminate" -> (Curation.exactDecontaminate _),
    "x76_zipf_fit" -> (Frequency.zipfFit _),
    "x77_embedding_outliers" -> (Quantization.embeddingOutliers _),
    "x78_stratified_sample" -> (Curation.stratifiedSample _),
    "x79_quantile_calibrate" -> (TextAnalysis.quantileCalibrate _),
    "x80_passage_dedup" -> (Dedup.passageDedup _),
    "x81_importance_select" -> (TextAnalysis.importanceSelect _),
    "x82_weighted_sample" -> (Curation.weightedSample _),
    "x83_lang_mixture" -> (TextAnalysis.langMixture _),
    "x84_bigram_lm" -> (TextAnalysis.bigramLm _),
    // batch flavor of the STREAMING windowed heavy hitters (same code
    // path, one group invocation per window; StreamingSpec drives the
    // watermark-close/restart side)
    "x85_window_topk" -> ((s: SparkSession, dir: String) =>
      graft.streaming.TopKStream.windowTopK(s,
          graft.queries.Tables.events(s, dir))
        .toDF().orderBy("window_start", "rank")),
    "x86_token_budget" -> (Curation.tokenBudget _),
    "x87_cdc_chunks" -> (Curation.cdcChunkStats _),
    "x88_luhn_pan" -> (TextAnalysis.luhnPan _),
    "x89_vocab_coverage" -> (TextAnalysis.vocabCoverage _),
    "x90_cluster_quality" -> (Similarity.clusterQuality _),
    "x91_event_transitions" -> (EventAnalytics.eventTransitions _),
    "x92_dup_degrees" -> (Dedup.dupDegreeHistogram _),
    "x93_bigram_entropy" -> (CorpusStats.bigramEntropy _),
    "x94_quality_gate2" -> (Curation.qualityGate2 _),
    "x95_media_dups" -> (Multimodal.mediaDups _),
    "x96_video_frame_dups" -> (Multimodal.videoFrameDups _),
    "x97_audio_landmarks" -> (Multimodal.audioLandmarkDups _),
    "x98_source_mixture" -> (Curation.temperatureMixture _),
    "x99_lsh_recall" -> (Dedup.lshRecallEval _),
    "x100_nb_distill" -> (TextAnalysis.nbDistill _),
    "x101_dup_components" -> (Dedup.dupComponents _),
    "x102_canonical_keep" -> (Dedup.canonicalKeep _),
    // one delta-vs-base near-dup: the batch flavor of the STREAMING
    // base-index operator (same composition, watermark eliminated;
    // StreamingSpec drives the online side) serves both keys
    "x103_delta_dedup" -> (graft.streaming.CorpusStream.deltaDedupBatch _),
    "x104_stream_delta_dedup" ->
      (graft.streaming.CorpusStream.deltaDedupBatch _),
    "x105_ivfpq_topk" -> (ProductQuantization.ivfPqTopK _),
    "x106_ivfpq_recall" -> (ProductQuantization.ivfPqRecall _),
    "x107_gopher_rules" -> (TextAnalysis.gopherRules _),
    "x108_semantic_decontaminate" -> (Similarity.semanticDecontaminate _),
    "x109_length_drift" -> (CorpusStats.lengthDrift _),
    "x110_normalized_dedup" -> (Dedup.normalizedDedup _),
    "x111_index_maintain" -> (Similarity.indexMaintain _),
    "x112_cluster_quota" -> (Curation.clusterQuotaSample _),
    "x113_distill_calibration" -> (TextAnalysis.distillCalibration _),
    "x114_split_leakage" -> (Curation.splitLeakage _),
    "x115_quality_fusion" -> (Curation.qualityFusion _),
    "x116_page_stitch" -> (Dedup.pageStitch _),
    "x117_corpus_build" -> (Curation.corpusBuild _),
    // batch flavor of the STREAMING corpus build (x57 first-seen dedup →
    // x104 base-index near-dup → x94 gate with base-corpus calibration;
    // StreamingSpec drives the online side) — oracle composed from
    // x103/x104's near-dup CTEs and x94's gate CTEs
    "x118_corpus_build_stream" ->
      (graft.streaming.CorpusStream.corpusBuildBatch _)
  )

  /** Shared DuckDB CTE: the deterministic NATS-like envelope synthesized
    * from `events` — must mirror [[RefParity.envelopes]] expression for
    * expression. */
  private val envCte: String =
    """WITH env AS (
      |  SELECT
      |    CASE WHEN event_id % 10 = 0 THEN
      |      'globex.' || (CASE WHEN event_type IN ('view','click') THEN 'supprt' ELSE 'crmabc' END) || '.u' || CAST(user_id AS VARCHAR)
      |    WHEN event_id % 10 = 1 THEN
      |      'globex.' || (CASE WHEN event_type IN ('view','click') THEN 'supprt' ELSE 'crmabc' END) || '.u' || CAST(user_id AS VARCHAR) || '.chat' || CAST(event_id % 97 AS VARCHAR)
      |    ELSE
      |      'globex.' || (CASE WHEN event_type IN ('view','click') THEN 'supprt' ELSE 'crmabc' END) || '.u' || CAST(user_id AS VARCHAR) || '.chat' || CAST(event_id % 97 AS VARCHAR) || '.bot.user.' || event_type || '.ctx' || CAST(event_id % 5 AS VARCHAR)
      |    END AS subject,
      |    CASE WHEN event_id % 7 = 0 THEN props ELSE
      |      '{"text":"ev-' || CAST(event_id AS VARCHAR) || '","meta":"' || event_type || '","id":"m' || CAST(event_id AS VARCHAR) || '","timestamp":' || CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS VARCHAR) || '}'
      |    END AS data,
      |    ts AS meta_ts,
      |    event_id AS seq
      |  FROM events
      |), raw AS (
      |  SELECT
      |    date_trunc('second', meta_ts) AS "timestamp",
      |    subject,
      |    coalesce(string_split(subject, '.')[4], '') AS chat_id,
      |    seq AS sequence,
      |    '{"Sequence":{"Consumer":' || CAST(seq AS VARCHAR) || ',"Stream":' || CAST(seq AS VARCHAR) || '},"NumDelivered":1,"NumPending":0,"Timestamp":"' || strftime(meta_ts, '%Y-%m-%dT%H:%M:%SZ') || '"}' AS metadata,
      |    data
      |  FROM env
      |)
      |""".stripMargin

  /** DuckDB fragment: word-3-gram shingle sets per document — mirrors
    * [[graft.functions.TextFunctions.shingles]] (1-based list indexing,
    * distinct, empty for <3-token docs). */
  private val shingleCte: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
      |    ELSE list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS sh
      |  FROM toks)
      |""".stripMargin

  /** x2's full LSH pipeline as a CTE ending in `lsh_pairs` — shared by
    * the x2 oracle and x99's recall eval (the x44 compose pattern). */
  private lazy val lshPairsCte: String = shingleCte +
    s""", all_bands AS (
       |  SELECT doc_id, p.band,
       |    substring(list_min(list_transform(sh,
       |      x -> md5('s' || p.band || ':' || x))), 1, 15) AS h
       |  FROM sh, (SELECT unnest(range(0, ${graft.operators.Dedup.NumMinhashes})) AS band) p
       |  WHERE len(sh) > 0
       |), kept AS (
       |  SELECT band, h
       |  FROM all_bands GROUP BY band, h
       |  HAVING COUNT(*) <= ${graft.operators.Dedup.MaxBandBucket}
       |), bands AS (
       |  SELECT ab.doc_id, ab.band, ab.h
       |  FROM all_bands ab JOIN kept USING (band, h)
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_bands
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), j AS (
       |  SELECT c.doc_a, c.doc_b, c.n_bands,
       |    CAST(len(list_intersect(
       |      list_transform(sa.sh, x -> substring(md5(x), 1, 15)),
       |      list_transform(sb.sh, x -> substring(md5(x), 1, 15))))
       |      AS BIGINT) AS inter,
       |    len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b
       |), lsh_pairs AS (
       |  SELECT doc_a, doc_b, n_bands, inter,
       |    CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
       |  FROM j
       |  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.02)
       |""".stripMargin

  /** x101's component labels as a CTE ending in `lab` (per-doc min
    * reachable doc_id over x2's pair graph) and `sz` (component sizes)
    * — shared by the x101 oracle and x102's keep policy. Recursive, so
    * it must stay the statement's first CTE chain. */
  private lazy val componentLabelsCte: String =
    lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, ed AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        |  UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.src AS node, r.label FROM ed e JOIN reach r ON r.node = e.dst),
        |lab AS (SELECT node AS doc_id, MIN(label) AS component_rep
        |        FROM reach GROUP BY 1),
        |sz AS (SELECT component_rep, COUNT(*) AS component_size
        |       FROM lab GROUP BY 1)
        |""".stripMargin

  /** x94's gate-signal + calibration CTEs (`gd` → `gt`: tokenized
    * signals, CDC max-chunk, Luhn count, per-source P25 token
    * threshold) over an arbitrary (doc_id, source, text) FROM source —
    * shared by the x94 oracle and x117's stage-3 gate (the x44 compose
    * pattern). Emitted WITHOUT a leading WITH so it can extend an
    * existing CTE chain; `from` must be a table name or an aliased
    * subquery. */
  /** x94's gate CTEs (signals `gd`/`gmx`/`gp`, thresholds `gt`) over
    * `from`. `thrFrom` reroutes the per-source P25 calibration to a
    * DIFFERENT relation (x118: signals over the arriving stream,
    * thresholds over the standing base corpus — the
    * Curation.tokenThresholdsFrom seam's mirror). */
  private def qualityGateCtes(from: String,
      thrFrom: Option[String] = None): String = {
    val w = graft.expressions.CdcChunks.Window
    val m = 1L << graft.expressions.CdcChunks.MaskBits
    val pct = graft.operators.TextAnalysis.CalibratePct
    val gdb = thrFrom.map(t =>
      s"""gdb AS (
         |  SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM $t WHERE text IS NOT NULL AND length(text) >= 1),
         |""".stripMargin).getOrElse("")
    val thrSrc = thrFrom.map(_ => "gdb").getOrElse("gd")
    gdb +
    s"""gd AS MATERIALIZED (
       |  SELECT doc_id, source, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(length(text) AS BIGINT) AS n
       |  FROM $from WHERE text IS NOT NULL AND length(text) >= 1),
       |gc AS (
       |  SELECT doc_id, n, j
       |  FROM (SELECT doc_id, n, text,
       |          unnest(range($w, GREATEST(n, $w))) AS j
       |        FROM gd)
       |  WHERE ${polyhashSql(s"substring(text, CAST(j - ${w - 1} AS INTEGER), $w)")} % $m = 0),
       |gl AS (
       |  SELECT doc_id, n,
       |    j - coalesce(lag(j) OVER (PARTITION BY doc_id ORDER BY j), 0)
       |      AS len,
       |    n - j AS tail_len,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY j DESC) AS rd
       |  FROM gc),
       |ga AS (
       |  SELECT doc_id, len FROM gl
       |  UNION ALL SELECT doc_id, tail_len AS len FROM gl WHERE rd = 1),
       |gmx AS (SELECT doc_id, CAST(MAX(len) AS BIGINT) AS max_chunk
       |        FROM ga GROUP BY 1),
       |gp AS (
       |  SELECT doc_id, CAST(len(list_filter(
       |    regexp_extract_all(text, '[0-9]{13,19}', 0), r ->
       |    list_reduce([CAST(0 AS BIGINT)] ||
       |      list_transform(range(1, length(r) + 1), p ->
       |        CASE WHEN p % 2 = 0 THEN
       |          (CASE WHEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) > 9
       |                THEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) - 9
       |                ELSE 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) END)
       |        ELSE ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48 END),
       |      (a, b) -> a + b) % 10 = 0)) AS BIGINT) AS n_luhn_valid
       |  FROM gd),
       |gh AS (SELECT source, n_tokens, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM $thrSrc GROUP BY 1, 2),
       |gw AS (SELECT source, n_tokens,
       |         SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
       |         SUM(c) OVER (PARTITION BY source) AS n_s
       |       FROM gh),
       |gt AS (SELECT source, MIN(n_tokens) AS threshold
       |       FROM gw WHERE cum >= (n_s * $pct + 99) // 100
       |       GROUP BY source)""".stripMargin
  }

  /** x100's full distillation pipeline as a CTE ending in `nbout` (the
    * mirror of [[graft.operators.TextAnalysis.nbDistillFrom]]'s output)
    * — shared by the x100 oracle and x113's calibration table. */
  private lazy val nbDistillCte: String = {
    val b = graft.operators.TextAnalysis.ClassifierBuckets
    val sc = graft.operators.TextAnalysis.IdfScale
    val stopSql = graft.functions.TextFunctions.Stopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |tb AS (
       |  SELECT doc_id, ${polyhashSql("w")} % $b AS bucket,
       |    CASE WHEN w IN ($stopSql) THEN 1 ELSE 0 END AS is_stop
       |  FROM tk),
       |tg AS (
       |  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(SUM(is_stop) AS BIGINT) AS n_stop
       |  FROM tb GROUP BY 1, 2),
       |lab AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    SUM(n_stop) * 10 >= SUM(cnt) AS teacher_good
       |  FROM tg GROUP BY 1),
       |tr AS (
       |  SELECT bucket,
       |    CAST(SUM(CASE WHEN lab.teacher_good THEN cnt ELSE 0 END)
       |      AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN NOT lab.teacher_good THEN cnt ELSE 0 END)
       |      AS BIGINT) AS c0
       |  FROM tg JOIN lab USING (doc_id) GROUP BY 1),
       |tt AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
       |         CAST(SUM(c0) AS BIGINT) AS t0 FROM tr),
       |wt AS (
       |  SELECT bucket,
       |    CAST(FLOOR(LN(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + $b AS DOUBLE))
       |      * $sc.0 + 0.5) AS BIGINT)
       |    - CAST(FLOOR(LN(CAST(c0 + 1 AS DOUBLE) / CAST(t0 + $b AS DOUBLE))
       |      * $sc.0 + 0.5) AS BIGINT) AS w_q
       |  FROM tr, tt),
       |sc2 AS (
       |  SELECT doc_id, CAST(SUM(cnt * w_q) AS BIGINT) AS score_q
       |  FROM tg JOIN wt USING (bucket) GROUP BY 1),
       |nbout AS (
       |  SELECT lab.doc_id, lab.n_tokens, lab.teacher_good,
       |    COALESCE(sc2.score_q, 0) AS score_q,
       |    COALESCE(sc2.score_q, 0) > 0 AS student_keep
       |  FROM lab LEFT JOIN sc2 USING (doc_id))
       |""".stripMargin
  }

  /** x103 / x104 / x118 shared CTE chain: the delta-vs-base near-dup
    * relations on the documents table, ending at `agg` (per-delta match
    * counts) and `best` (best base partner). [[deltaDedupSql]] appends
    * the x103/x104 final select; the x118 oracle composes these with
    * x94's gate CTEs and the first-seen-dedup window. `fp` fingerprints
    * each doc once, not once per candidate pair. */
  private lazy val deltaDedupCtes: String = {
      val nm = graft.operators.Dedup.NumMinhashes
      val cap = graft.operators.Dedup.MaxBandBucket
      shingleCte +
        s""", sp AS (SELECT CAST(FLOOR(CAST(MAX(doc_id) AS DOUBLE) * 4 / 5)
           |    AS BIGINT) AS split_id FROM documents),
           |ab AS (
           |  SELECT doc_id, p.band,
           |    substring(list_min(list_transform(sh,
           |      x -> md5('s' || p.band || ':' || x))), 1, 15) AS h
           |  FROM sh, (SELECT unnest(range(0, $nm)) AS band) p
           |  WHERE len(sh) > 0
           |), bb AS (SELECT ab.* FROM ab, sp WHERE ab.doc_id < sp.split_id),
           |db AS (SELECT ab.* FROM ab, sp WHERE ab.doc_id >= sp.split_id),
           |keptb AS (SELECT band, h FROM bb GROUP BY band, h
           |          HAVING COUNT(*) <= $cap),
           |cand AS (
           |  SELECT d.doc_id AS delta_id, b.doc_id AS base_id
           |  FROM db d JOIN keptb USING (band, h) JOIN bb b USING (band, h)
           |  GROUP BY 1, 2),
           |fp AS MATERIALIZED (
           |  SELECT doc_id, list_transform(sh, x -> substring(md5(x), 1, 15))
           |    AS fp, len(sh) AS n
           |  FROM sh),
           |jv AS (
           |  SELECT c.delta_id, c.base_id,
           |    CAST(len(list_intersect(fd.fp, fb.fp)) AS BIGINT) AS inter,
           |    fd.n AS nd, fb.n AS nb
           |  FROM cand c
           |  JOIN fp fd ON fd.doc_id = c.delta_id
           |  JOIN fp fb ON fb.doc_id = c.base_id),
           |v AS (
           |  SELECT delta_id, base_id,
           |    CAST(inter AS DOUBLE) / CAST(nd + nb - inter AS DOUBLE)
           |      AS jaccard
           |  FROM jv
           |  WHERE CAST(inter AS DOUBLE) / CAST(nd + nb - inter AS DOUBLE)
           |    >= 0.02),
           |agg AS (SELECT delta_id, CAST(COUNT(*) AS BIGINT) AS n_matches
           |        FROM v GROUP BY 1),
           |best AS (
           |  SELECT delta_id, base_id AS best_base, jaccard AS best_jaccard
           |  FROM (SELECT v.*, ROW_NUMBER() OVER (PARTITION BY delta_id
           |          ORDER BY jaccard DESC, base_id ASC) AS rn FROM v)
           |  WHERE rn = 1)""".stripMargin
  }

  /** x103 / x104 shared oracle: [[deltaDedupCtes]] + the per-delta
    * verdict select. */
  private lazy val deltaDedupSql: String = {
      val tau = graft.operators.Dedup.DeltaDupTau
      deltaDedupCtes +
        s"""
           |SELECT d.doc_id, COALESCE(a.n_matches, 0) AS n_matches,
           |  b.best_base, b.best_jaccard,
           |  COALESCE(b.best_jaccard >= $tau, FALSE) AS is_dup
           |FROM documents d CROSS JOIN sp
           |LEFT JOIN agg a ON a.delta_id = d.doc_id
           |LEFT JOIN best b ON b.delta_id = d.doc_id
           |WHERE d.doc_id >= sp.split_id
           |ORDER BY d.doc_id""".stripMargin
  }

  /** q14 / x72 shared oracle: gaps-and-islands sessions (a gap over
    * 1800 s opens a session) per user, in (ts, event_id) order. */
  private lazy val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |            - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged
      |)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  V2D(SUM(DEC6(value))) AS sum_value
      |FROM sessions GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** x3's DF-capped inverted-index Jaccard as a CTE ending in
    * `ngram_pairs` (appends to [[shingleCte]] or [[lshPairsCte]]) —
    * shared by the x3 oracle and x99's truth side. */
  private lazy val ngramPairsCte: String =
    s""", cap AS (SELECT GREATEST(${graft.operators.Dedup.MaxShingleDf},
       |    CAST(CEIL(COUNT(*) / 100.0) AS BIGINT)) AS df_cap,
       |    COUNT(*) * ${graft.operators.Dedup.MaxCandidateVolumePerDoc}
       |      AS vol_budget
       |  FROM sh WHERE len(sh) > 0),
       |ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS s
       |         FROM sh WHERE len(sh) > 0),
       |dft AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY s),
       |hist AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS cnt
       |           FROM dft GROUP BY df),
       |keepmax AS (SELECT COALESCE(MAX(df), 0) AS df_keep FROM (
       |    SELECT df, SUM(cnt * df * df) OVER (ORDER BY df) AS cum
       |    FROM hist), cap
       |  WHERE cum <= cap.vol_budget AND df <= cap.df_cap),
       |cut AS (SELECT doc_id, n, s FROM ex JOIN dft USING (s), keepmax
       |  WHERE dft.df <= keepmax.df_keep),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter,
       |    MAX(a.n) AS n_a, MAX(b.n) AS n_b
       |  FROM cut a JOIN cut b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), ngram_pairs AS (
       |  SELECT doc_a, doc_b, inter, n_a, n_b,
       |    CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) AS jaccard
       |  FROM inter
       |  WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.03)
       |""".stripMargin

  /** DuckDB expression: rolling polynomial char hash — mirrors
    * [[graft.functions.TextFunctions.polyHash]] (left fold from 0, mod 1e9+7). */
  private def polyhashSql(col: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || " +
    s"list_transform(string_split($col, ''), c -> CAST(ascii(c) AS BIGINT)), " +
    "(a, b) -> (a * 31 + b) % 1000000007)"

  /** DuckDB fragment: the media BLOB's byte stream — mirrors
    * [[graft.operators.Multimodal.blobOf]] in the HEX domain (DuckDB has
    * no BLOB indexing/md5): `hx` = the per-type container magic ++
    * `hex(encode(text))` (uppercase on both engines), `n` = the blob's
    * byte length, `vals` = the unsigned byte values parsed from the hex
    * pairs. `where` filters the documents scan ('' = all docs). Emits
    * `bb(doc_id, hx, n, vals)`. */
  private def blobBytesCte(where: String): String = {
    val m = graft.operators.Multimodal.MagicHex
    s"""hx0 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN '${m("image")}'
       |         WHEN doc_id % 3 = 1 THEN '${m("audio")}'
       |         ELSE '${m("video")}' END || hex(encode(text)) AS hx
       |  FROM documents $where),
       |bb AS (
       |  SELECT doc_id, hx, CAST(length(hx) // 2 AS BIGINT) AS n,
       |    list_transform(range(1, length(hx) // 2 + 1), i ->
       |      CAST((strpos('0123456789ABCDEF', hx[2*i-1:2*i-1]) - 1) * 16
       |         + (strpos('0123456789ABCDEF', hx[2*i:2*i]) - 1) AS BIGINT))
       |      AS vals
       |  FROM hx0)""".stripMargin
  }

  /** DuckDB expression: [[graft.expressions.PolyHash]] over a BIGINT
    * byte-value list (the BINARY-input flavor — same fold as
    * [[polyhashSql]] but over parsed blob bytes instead of characters). */
  private def bytePolySql(vals: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || $vals, " +
    "(a, b) -> (a * 31 + b) % 1000000007)"

  /** DuckDB expression: Σ aᵢ·bᵢ as the same sequential double left fold as
    * [[graft.functions.VectorFunctions.dot]] — bit-identical IEEE result. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($a) + 1), " +
    s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** [[dotSql]] over already-double unit vectors (no per-element cast) —
    * mirrors the Spark side's pre-normalized pair dot. */
  /** SQL string literal with single quotes doubled — for embedding the
    * x110 canonical-form alphabets (which contain `'`) in oracle SQL. */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private def dotUnitSql(a: String, b: String): String =
    s"list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len($a) + 1), " +
    s"i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** DuckDB fragment: unit-normalized embeddings — mirrors
    * [[graft.operators.Similarity]]'s normalize-once-then-one-dot-per-pair
    * shape (norm = sqrt of the same sequential fold, then an element-wise
    * divide). */
  private val unitCte: String =
    s"""WITH nrm_t AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |unit_t AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
       |  FROM nrm_t)
       |""".stripMargin

  /** DuckDB fragment: the two-level coarse-quantizer centroid ranking —
    * mirrors [[graft.operators.Similarity.quantizedRanking]] over a
    * (cid, cu) centroid CTE named `cents` (identical dot fold, identical
    * desc/asc-id tiebreaks at every level, so ranks are engine-identical
    * and everything downstream stays hash-exact). Emits
    * `ranked(vec_id, u, cid, crn)`. */
  private def quantizedRankedSql(cents: String): String =
    s"""ns AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS nsup FROM $cents),
       |sups AS (SELECT cid AS sid, cu AS su FROM (
       |    SELECT cid, cu, ROW_NUMBER() OVER (ORDER BY cid) AS srn FROM $cents), ns
       |  WHERE srn <= ns.nsup),
       |cmap AS (SELECT cid, cu, sid FROM (
       |    SELECT c.cid, c.cu, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY c.cid
       |        ORDER BY ${dotUnitSql("c.cu", "s.su")} DESC, s.sid) AS mrn
       |    FROM $cents c, sups s) WHERE mrn = 1),
       |vsup AS (SELECT vec_id, u, sid FROM (
       |    SELECT v.vec_id, v.u, s.sid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${dotUnitSql("v.u", "s.su")} DESC, s.sid) AS srn
       |    FROM unit_t v, sups s) WHERE srn <= ${graft.operators.Similarity.SuperProbes}),
       |ranked AS (
       |  SELECT vsup.vec_id, vsup.u, cmap.cid,
       |    ROW_NUMBER() OVER (PARTITION BY vsup.vec_id
       |      ORDER BY ${dotUnitSql("vsup.u", "cmap.cu")} DESC, cmap.cid) AS crn
       |  FROM vsup JOIN cmap USING (sid))""".stripMargin

  /** DuckDB fragment: product-quantization codebook + encoding — mirrors
    * [[graft.operators.ProductQuantization.encodeFrom]] over `unit_t`:
    * per-subspace stand-in codebook (first [[graft.operators.ProductQuantization.CodebookSize]]
    * vectors' subvectors), squared-L2 distances as the same sequential
    * fold as [[graft.expressions.VecL2Sq]], argmin with the lower-code
    * tiebreak (ROW_NUMBER here = `min(struct(d2, code))` on the Spark
    * side — identical (qerr, code)-lexicographic selection). Emits
    * `enc(vec_id, sub, code, qerr, rn)`; consumers filter `rn = 1`. */
  private val pqCte: String = {
    val m = graft.operators.ProductQuantization.NumSubspaces
    val sd = graft.operators.ProductQuantization.SubDim
    val k = graft.operators.ProductQuantization.CodebookSize
    s""", subs AS (SELECT unnest(range(0, $m)) AS sub),
       |cb AS (SELECT sub, vec_id AS code,
       |    u[(sub*$sd+1):(sub*$sd+$sd)] AS cvec
       |  FROM unit_t, subs WHERE vec_id < $k),
       |sv AS (SELECT vec_id, sub, u[(sub*$sd+1):(sub*$sd+$sd)] AS svec
       |  FROM unit_t, subs),
       |pqd AS (SELECT vec_id, sub, code,
       |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, ${sd + 1}),
       |      i -> (svec[i] - cvec[i]) * (svec[i] - cvec[i])), (x, y) -> x + y) AS qerr
       |  FROM sv JOIN cb USING (sub)),
       |enc AS (SELECT vec_id, sub, code, qerr, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id, sub ORDER BY qerr, code) AS rn FROM pqd)""".stripMargin
  }

  /** DuckDB fragment: 64-bit SimHash per document — mirrors
    * [[graft.operators.Dedup.simhash]] / [[graft.expressions.SimHash64]]:
    * four seeded 16-bit simhashes concatenated. Seed s ∈ 0..3 prepends
    * `chr(48+s)` to the token before the rolling polyhash; bit 16s+k of
    * the signature is the sign of the ±1 sum over bit k of that seeded
    * hash. Bit 63 is the BIGINT sign bit and DuckDB overflow-checks
    * `1 << 63`, so that bit adds the min-long literal instead; the SUM
    * (over distinct bit positions) is then exactly the signature's
    * two's-complement value. */
  private val simhashCte: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |sw AS (SELECT doc_id, s, chr(CAST(48 + s AS INTEGER)) || w AS w
       |       FROM w CROSS JOIN (SELECT unnest(range(0, 4)) AS s) seeds),
       |h AS (SELECT doc_id, s, ${polyhashSql("w")} AS h FROM sw),
       |bits AS (SELECT doc_id, s * 16 + k AS b,
       |         SUM(2 * ((h >> k) & 1) - 1) AS sgn
       |         FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS k) ks
       |         GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN sgn <= 0 THEN 0
       |      WHEN b = 63 THEN -9223372036854775807 - 1
       |      ELSE CAST(1 AS BIGINT) << b END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)
       |""".stripMargin

  /** DuckDB fragment for x28's CLUSTER signature: the seed-'0' 16-bit
    * simhash, which by the seeding construction equals bits 0..15 of
    * [[simhashCte]]'s 64-bit value — mirrors
    * `Dedup.ClusterSigMask`-sliced `simhash64`. Written RECURSIVE so the
    * x28 oracle can append its recursive reachability CTE directly. */
  private val simhash16Cte: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, ${polyhashSql("'0' || w")} AS h FROM w),
       |bits AS (SELECT doc_id, k, SUM(2 * ((h >> k) & 1) - 1) AS sgn
       |         FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS k) ks
       |         GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN sgn > 0 THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)
       |""".stripMargin

  /** DuckDB fragment: [[graft.operators.Similarity.kmeansTrain]]'s Lloyd
    * iterations, unrolled. Each block mirrors one Spark iteration:
    * assignment by rank-1 dot (same sequential fold, same cid
    * tiebreak), then per-(cell, dim) means as exact scaled-integer sums
    * (`floor(v·1e6 + 0.5)` — x27's portable rounding) with ONE double
    * division, then `array_agg(ORDER BY pos)` reassembly. Bit-equal
    * centroids each round keep the next round's assignments
    * engine-identical. */
  /** Lloyd's K rides the same √(N/8) curve as x19 (floor
    * [[graft.operators.Similarity.NumCells]]) — `knc` mirrors
    * [[graft.operators.Similarity.derivedCellsExpr]] so the trained
    * centroid SET is engine-identical at every corpus size. */
  private def kmeansCteOver(tbl: String): String = {
    val k = graft.operators.Similarity.NumCells
    val d = graft.operators.Similarity.Dim
    val iters = graft.operators.Similarity.KmeansIters
    val blocks = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, u, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ${dotUnitSql("u", "cu")} DESC, cid) AS rn
         |  FROM $tbl CROSS JOIN c${i - 1}),
         |m$i AS (SELECT vec_id, u, cid AS cell FROM a$i WHERE rn = 1),
         |s$i AS (
         |  SELECT cell, i - 1 AS pos,
         |    V2D(SUM(CAST(floor(u[i] * 1000000.0 + 0.5) AS BIGINT)))
         |      / (1000000.0 * COUNT(*)) AS cval
         |  FROM m$i CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) ix
         |  GROUP BY 1, 2),
         |c$i AS (SELECT cell AS cid, array_agg(cval ORDER BY pos) AS cu
         |        FROM s$i GROUP BY 1)""".stripMargin
    }
    s""", knc AS (SELECT GREATEST($k, CAST(FLOOR(SQRT(COUNT(*) / 8.0)) AS BIGINT)) AS k FROM $tbl),
       |c0 AS (SELECT vec_id AS cid, u AS cu FROM $tbl, knc WHERE vec_id < knc.k),
       |${blocks.mkString(",\n")}
       |""".stripMargin
  }

  /** The x33-family training CTE over the full corpus — the historical
    * spelling; [[kmeansCteOver]] is the parameterized form x111 uses to
    * train on the base slice only. */
  private val kmeansCte: String = kmeansCteOver("unit_t")

  /** DuckDB fragment shared by x105/x106: the full IVF-PQ (IVFADC)
    * pipeline — mirrors [[graft.operators.ProductQuantization.ivfPqTopK]].
    * Composes [[kmeansCte]] (trained centroids), [[quantizedRankedSql]]
    * (cell routing: crn=1 assignment, crn≤2 probe list for the harness
    * queries), and [[pqCte]] (codes + codebook); per-query LUTs in
    * (sub, code) order, the ADC fold over probed cells' codes only, and
    * the (adc DESC, neighbor_id) rank. Emits
    * `ipq(query_id, neighbor_id, cell, adc, rank)`. Requires
    * [[unitCte]] prefixed. */
  private val ivfPqCte: String = {
    val m = graft.operators.ProductQuantization.NumSubspaces
    val k = graft.operators.ProductQuantization.CodebookSize
    kmeansCte + pqCte +
    s""", cents AS (SELECT cid, cu FROM c${graft.operators.Similarity.KmeansIters}),
       |${quantizedRankedSql("cents")},
       |pqassign AS (SELECT vec_id, cid AS cell FROM ranked WHERE crn = 1),
       |cw AS (SELECT vec_id, array_agg(code ORDER BY sub) AS codes
       |  FROM enc WHERE rn = 1 GROUP BY 1),
       |pqcodes AS (SELECT cw.vec_id, a.cell, cw.codes
       |  FROM cw JOIN pqassign a USING (vec_id)),
       |pqprobes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked
       |  WHERE crn <= 2 AND vec_id < 10),
       |pqqs AS (SELECT vec_id AS query_id, sub, svec AS qsub
       |  FROM sv WHERE vec_id < 10),
       |pqlutr AS (SELECT query_id, sub, code,
       |    ${dotUnitSql("qsub", "cvec")} AS lv
       |  FROM pqqs JOIN cb USING (sub)),
       |pqluta AS (SELECT query_id, array_agg(lv ORDER BY sub, code) AS lut
       |  FROM pqlutr GROUP BY 1),
       |pqp AS (SELECT pr.query_id, c.vec_id AS neighbor_id, c.cell,
       |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(0, $m),
       |      mm -> lut[mm * $k + codes[mm + 1] + 1]), (x, y) -> x + y) AS adc
       |  FROM pqprobes pr JOIN pqcodes c ON c.cell = pr.cell
       |    JOIN pqluta l ON l.query_id = pr.query_id
       |  WHERE pr.query_id <> c.vec_id),
       |ipq AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id) AS rank FROM pqp)
       |""".stripMargin
  }

  /** DuckDB fragment shared by x28/x30: connected components over the
    * Hamming ≤ ClusterHamming graph of 16-bit cluster signatures via
    * recursive reachability ([[simhash16Cte]] supplies `sig`), yielding
    * `lab (doc_id, cluster_rep)` and `sz (cluster_rep, cluster_size)`.
    * Quadratic in component size — fine at the sf0.01 gate;
    * tools/check.py uses a linear union-find for larger SFs. */
  private val clusterCte: String = simhash16Cte +
    s""", edges AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM sig a JOIN sig b ON a.doc_id <> b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${graft.operators.Dedup.ClusterHamming}),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.src AS node, r.label FROM edges e JOIN reach r ON r.node = e.dst),
       |lab AS (SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY 1),
       |sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
       |""".stripMargin

  private val stopList: String =
    graft.functions.TextFunctions.Stopwords.map(w => s"'$w'").mkString(", ")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omit for non-SQL-expressible ops. Written in the
    * [[graft.queries.OracleDialect]] macro dialect (`V2D`/`DEC6`/`DEC0`) so
    * the exact-decimal-sum-to-double bridge is lowered in one place;
    * `expandAll` below is that single lowering point. */
  def oracleSql: Map[String, String] = graft.queries.OracleDialect.expandAll(Map(
    "r1_ingest_raw" -> (envCte +
      """SELECT * FROM raw ORDER BY sequence"""),

    "r2_subject_segments" -> (envCte +
      """SELECT seq AS sequence, subject,
        |  coalesce(string_split(subject,'.')[4], '') AS chat_id_go,
        |  coalesce(string_split(subject,'.')[1], '') AS seg1,
        |  coalesce(string_split(subject,'.')[2], '') AS seg2,
        |  coalesce(string_split(subject,'.')[3], '') AS seg3,
        |  coalesce(string_split(subject,'.')[4], '') AS seg4,
        |  coalesce(string_split(subject,'.')[5], '') AS seg5,
        |  coalesce(string_split(subject,'.')[6], '') AS seg6,
        |  coalesce(string_split(subject,'.')[7], '') AS seg7,
        |  coalesce(string_split(subject,'.')[8], '') AS seg8
        |FROM env ORDER BY sequence""".stripMargin),

    "r3_json_extract" -> (envCte +
      """SELECT seq AS sequence,
        |  coalesce(json_extract_string(data, '$.text'), '') AS x_text,
        |  coalesce(json_extract_string(data, '$.meta'), '') AS x_meta,
        |  coalesce(json_extract_string(data, '$.missing'), '') AS x_missing,
        |  coalesce(TRY_CAST(json_extract_string(data, '$.k') AS BIGINT), 0) AS x_k,
        |  epoch_ms(1000 * coalesce(TRY_CAST(json_extract_string(data, '$.timestamp') AS BIGINT), 0)) AS x_ts
        |FROM env ORDER BY sequence""".stripMargin),

    "r4_analytics_derive" -> (envCte +
      """SELECT "timestamp", subject, chat_id, metadata, data,
        |  coalesce(json_extract_string(data, '$.text'), '') AS message_text,
        |  coalesce(json_extract_string(data, '$.meta'), '') AS message_meta,
        |  coalesce(json_extract_string(data, '$.id'), '') AS message_id,
        |  epoch_ms(1000 * coalesce(TRY_CAST(json_extract_string(data, '$.timestamp') AS BIGINT), 0)) AS message_timestamp,
        |  coalesce(string_split(subject,'.')[1], '') AS client_code,
        |  coalesce(string_split(subject,'.')[2], '') AS project_code,
        |  coalesce(string_split(subject,'.')[3], '') AS user_id,
        |  coalesce(string_split(subject,'.')[4], '') AS session_id,
        |  coalesce(string_split(subject,'.')[5], '') AS message_from,
        |  coalesce(string_split(subject,'.')[6], '') AS message_to,
        |  coalesce(string_split(subject,'.')[7], '') AS message_type,
        |  coalesce(string_split(subject,'.')[8], '') AS message_context
        |FROM raw ORDER BY metadata""".stripMargin),

    // Mirrors RefParity.analyticsVariant: the Spark side extracts from
    // parsed VARIANTs; value-for-value these equal DuckDB's JSON-string
    // extractions over the same raw columns.
    "r10_analytics_variant" -> (envCte +
      """SELECT sequence,
        |  coalesce(json_extract_string(data, '$.text'), '') AS message_text,
        |  coalesce(json_extract_string(data, '$.meta'), '') AS message_meta,
        |  coalesce(json_extract_string(data, '$.id'), '') AS message_id,
        |  epoch_ms(1000 * coalesce(TRY_CAST(json_extract_string(data, '$.timestamp') AS BIGINT), 0)) AS message_timestamp,
        |  coalesce(TRY_CAST(json_extract_string(data, '$.k') AS BIGINT), 0) AS x_k,
        |  TRY_CAST(json_extract_string(metadata, '$.Sequence.Stream') AS BIGINT) AS meta_stream_seq,
        |  coalesce(json_extract_string(metadata, '$.Timestamp'), '') AS meta_ts_str
        |FROM raw ORDER BY sequence""".stripMargin),

    "r5_union_streams" -> (envCte +
      """SELECT coalesce(string_split(subject,'.')[2], '') AS stream,
        |  COUNT(*) AS n_rows, MIN(sequence) AS min_seq, MAX(sequence) AS max_seq,
        |  COUNT(CASE WHEN chat_id <> '' THEN 1 END) AS n_with_chat
        |FROM raw
        |WHERE subject LIKE 'globex.supprt.%' OR subject LIKE 'globex.crmabc.%'
        |GROUP BY 1 ORDER BY stream""".stripMargin),

    "r6_month_partitions" -> (envCte +
      """SELECT strftime("timestamp", '%Y%m') AS month, COUNT(*) AS n_rows,
        |  MIN("timestamp") AS min_ts, MAX("timestamp") AS max_ts
        |FROM raw GROUP BY 1 ORDER BY month""".stripMargin),

    // Mirrors NatsLikeStream.windowedCounts on a batch input: hour
    // tumbling windows are epoch-aligned, so window.start ==
    // date_trunc('hour'); stream = first two dot-segments (every
    // synthesized subject has >= 3).
    "r7_windowed_counts" -> (envCte +
      """SELECT date_trunc('hour', meta_ts) AS hour_start,
        |  string_split(subject, '.')[1] || '.' || string_split(subject, '.')[2]
        |    AS stream,
        |  COUNT(*) AS n_msgs,
        |  COUNT(DISTINCT seq) AS n_seqs
        |FROM env GROUP BY 1, 2 ORDER BY hour_start, stream""".stripMargin),

    // Mirrors NatsLikeStream.sessionCounts as gaps-and-islands: a NEW
    // session starts when the gap from the previous event (same subject)
    // is STRICTLY MORE than 30 min — Spark's session_window merges an
    // event whose time is <= the previous window's end (= prev event +
    // gap), INCLUSIVE at the boundary (pinned by the StreamingSpec
    // boundary test); session_end = last event + gap.
    "r8_session_counts" -> (envCte +
      """, o AS (
        |  SELECT subject, meta_ts,
        |    CASE WHEN LAG(meta_ts) OVER w IS NULL
        |      OR meta_ts - LAG(meta_ts) OVER w > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM env
        |  WINDOW w AS (PARTITION BY subject ORDER BY meta_ts)),
        |g AS (
        |  SELECT subject, meta_ts,
        |    SUM(new_s) OVER (PARTITION BY subject ORDER BY meta_ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT
        |  MIN(meta_ts) AS session_start,
        |  MAX(meta_ts) + INTERVAL 30 MINUTE AS session_end,
        |  subject, COUNT(*) AS n_msgs
        |FROM g GROUP BY subject, sid
        |ORDER BY session_start, subject""".stripMargin),

    // Mirrors NatsLikeStream.viewClickAttribution in batch: same interval
    // predicate, watermarks are streaming-only concerns.
    "r9_interval_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |  v.ts AS view_ts, c.ts AS click_ts
        |FROM events c JOIN events v ON v.user_id = c.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, view_id""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  V2D(SUM(DEC6(l_quantity))) AS sum_qty,
        |  V2D(SUM(DEC6(l_extendedprice))) AS sum_base_price,
        |  V2D(SUM(DEC6(l_extendedprice * (1 - l_discount)))) AS sum_disc_price,
        |  V2D(SUM(DEC6(l_quantity))) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |  V2D(SUM(DEC6(l_discount))) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_agg" ->
      """SELECT
        |  V2D(SUM(DEC6(l_extendedprice * l_discount))) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q3_join_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |  V2D(SUM(DEC6(l_extendedprice * (1 - l_discount)))) AS revenue
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q4_broadcast_join" ->
      """SELECT p_brand, COUNT(*) AS n_items,
        |  V2D(SUM(DEC6(l_extendedprice))) AS sum_price,
        |  V2D(SUM(DEC6(l_quantity))) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q5_multi_join" ->
      """SELECT n_name,
        |  V2D(SUM(DEC6(l_extendedprice * (1 - l_discount)))) AS revenue
        |FROM lineitem, orders, supplier, customer, nation, region
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  V2D(SUM(DEC6(o_totalprice))) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q7_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  V2D(SUM(DEC6(c_acctbal))) AS sum_acctbal,
        |  MIN(c_custkey) AS min_custkey
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |                  AND o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q8_window_rank" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q9_window_running" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |  V2D(SUM(DEC6(l_quantity)) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS running_qty
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q10_distinct_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  COUNT(DISTINCT c_nationkey) AS n_nations,
        |  V2D(SUM(DEC6(c_acctbal))) AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q11_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  V2D(SUM(DEC6(o_totalprice))) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q12_set_ops" ->
      """WITH jan AS (SELECT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |               AND o_orderdate < TIMESTAMP '1996-02-01'),
        |     feb AS (SELECT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-02-01'
        |               AND o_orderdate < TIMESTAMP '1996-03-01')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM jan INTERSECT SELECT o_custkey FROM feb)
        |UNION ALL
        |SELECT 'jan_only' AS tag, o_custkey FROM (SELECT o_custkey FROM jan EXCEPT SELECT o_custkey FROM feb)
        |UNION ALL
        |SELECT 'feb_only' AS tag, o_custkey FROM (SELECT o_custkey FROM feb EXCEPT SELECT o_custkey FROM jan)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q13_event_windows" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  V2D(SUM(DEC6(value))) AS sum_value,
        |  V2D(SUM(DEC6(value))) / CAST(COUNT(value) AS DOUBLE) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q14_sessionize" -> sessionizeSql,

    "q17_pivot" ->
      """SELECT o_orderpriority,
        |  coalesce(V2D(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN DEC6(o_totalprice) END)), 0.0) AS sum_f,
        |  coalesce(V2D(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN DEC6(o_totalprice) END)), 0.0) AS sum_o,
        |  coalesce(V2D(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN DEC6(o_totalprice) END)), 0.0) AS sum_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Each percentile replicates Spark's Percentile semantics (the x60
    // finding): return the KEY untouched when the floor/ceil rank
    // neighbors are equal, else (ceil(p)−p)·v_lo + (p−floor(p))·v_hi —
    // quantile_cont's always-interpolate convex form drifts 1 ulp on
    // the equal-key path.
    "q18_percentiles" ->
      """WITH rq AS (
        |  SELECT l_returnflag, l_quantity AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |rp AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |rd AS (
        |  SELECT l_returnflag, l_discount AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_discount) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |pq AS (
        |  SELECT l_returnflag, CAST(0.5 AS DOUBLE) * (n - 1) AS p,
        |    MIN(CASE WHEN rn = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v1,
        |    MIN(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v2
        |  FROM rq GROUP BY l_returnflag, n),
        |ppr AS (
        |  SELECT l_returnflag, CAST(0.9 AS DOUBLE) * (n - 1) AS p,
        |    MIN(CASE WHEN rn = CAST(floor(CAST(0.9 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v1,
        |    MIN(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v2
        |  FROM rp GROUP BY l_returnflag, n),
        |pd AS (
        |  SELECT l_returnflag, CAST(0.25 AS DOUBLE) * (n - 1) AS p,
        |    MIN(CASE WHEN rn = CAST(floor(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v1,
        |    MIN(CASE WHEN rn = CAST(ceil(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 THEN v END) AS v2
        |  FROM rd GROUP BY l_returnflag, n),
        |cnt AS (SELECT l_returnflag, COUNT(*) AS n_rows
        |        FROM lineitem GROUP BY l_returnflag)
        |SELECT cnt.l_returnflag,
        |  CASE WHEN pq.v2 = pq.v1 THEN pq.v1
        |       ELSE (ceil(pq.p) - pq.p) * pq.v1 + (pq.p - floor(pq.p)) * pq.v2
        |  END AS p50_qty,
        |  CASE WHEN ppr.v2 = ppr.v1 THEN ppr.v1
        |       ELSE (ceil(ppr.p) - ppr.p) * ppr.v1 + (ppr.p - floor(ppr.p)) * ppr.v2
        |  END AS p90_price,
        |  CASE WHEN pd.v2 = pd.v1 THEN pd.v1
        |       ELSE (ceil(pd.p) - pd.p) * pd.v1 + (pd.p - floor(pd.p)) * pd.v2
        |  END AS p25_disc,
        |  n_rows
        |FROM cnt JOIN pq USING (l_returnflag) JOIN ppr USING (l_returnflag)
        |  JOIN pd USING (l_returnflag)
        |ORDER BY cnt.l_returnflag""".stripMargin,

    // Oracle is the UNSALTED group-by: the salt is a physical detail that
    // must not change results (decimal accumulation is associative).
    "q19_salted_agg" ->
      """SELECT l_returnflag,
        |  V2D(SUM(DEC6(l_quantity))) AS sum_qty,
        |  V2D(SUM(DEC6(l_extendedprice))) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x1_dedup_exact" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS text_hash,
        |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')) AS prefix_hash
        |  FROM documents)
        |SELECT doc_id, text_hash,
        |  MIN(doc_id) OVER (PARTITION BY text_hash) AS exact_rep,
        |  COUNT(*) OVER (PARTITION BY text_hash) AS exact_group_size,
        |  prefix_hash,
        |  MIN(doc_id) OVER (PARTITION BY prefix_hash) AS prefix_rep,
        |  COUNT(*) OVER (PARTITION BY prefix_hash) AS prefix_group_size
        |FROM d ORDER BY doc_id""".stripMargin,

    // Mirrors Dedup.minhashLshFrom, including the MaxBandBucket cut
    // (buckets past the cap dropped before the self-join) AND the
    // shingle-fetch ORDER: the shingle lists join back per-doc onto the
    // already-deduped candidate pairs, exactly like the Spark plan's
    // shA/shB joins — carrying `sh` through the band self-join and the
    // pair GROUP BY (the previous formulation) made DuckDB materialize
    // two ~50-element lists per candidate ROW in the aggregate hash
    // table, which OOM-killed the sf1 gate at 130 GB (5.7M candidate
    // pairs on the self-similar corpus). The deferred fetch is the same
    // rewrite that makes the Spark side scale.
    // Band keys and verify fingerprints are the 15-hex-char (60-bit)
    // md5 prefixes on BOTH engines (Spark carries them as longs via the
    // bijective hex→long conv, so intersection/bucket counts are
    // value-identical by construction — see Dedup.minhashLshFrom's
    // fingerprint-verify docstring).
    "x2_minhash_lsh" -> (lshPairsCte +
      """SELECT doc_a, doc_b, n_bands, inter, jaccard FROM lsh_pairs
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Mirrors Dedup.ngramJaccardFrom: n carried through the explode, and
    // the two composed stop-shingle cuts applied before the join — the
    // fractional boilerplate cap (df <= max(MaxShingleDf, ceil(N/100)) —
    // Dedup.dfCapExpr) and the linear candidate-volume budget (keep
    // ascending-df histogram classes while cumulative cnt*df^2 <=
    // MaxCandidateVolumePerDoc*N), both derived with the same
    // scalar-subquery pattern as x8/x19's ncells.
    "x3_ngram_jaccard" -> (shingleCte + ngramPairsCte +
      """SELECT doc_a, doc_b, inter, n_a, n_b, jaccard FROM ngram_pairs
        |ORDER BY doc_a, doc_b""".stripMargin),

    "x4_simhash" -> (simhashCte +
      """SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin),

    // Banded formulation with the chunk-bucket cap, mirroring
    // Dedup.simhashPairs: (x >> 16c) & 65535 extracts bits 16c..16c+15
    // identically in both engines regardless of shift signedness (the
    // mask keeps only the shifted-in-place bits), so buckets and the cap
    // agree exactly. Pigeonhole: hamming <= 3 ⇒ ≥1 chunk matches, so
    // below the cap this equals the all-pairs filter it replaced.
    "x5_simhash_pairs" -> (simhashCte +
      s""", bands AS (
         |  SELECT doc_id, simhash, p.c, (simhash >> (p.c * 16)) & 65535 AS chunk
         |  FROM sig, (SELECT unnest(range(0, 4)) AS c) p
         |), kept AS (
         |  SELECT c, chunk FROM bands GROUP BY c, chunk
         |  HAVING COUNT(*) <= ${graft.operators.Dedup.MaxBandBucket}
         |), cb AS (
         |  SELECT b.doc_id, b.simhash, b.c, b.chunk
         |  FROM bands b JOIN kept USING (c, chunk))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.simhash AS sim_a, b.simhash AS sim_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM cb a JOIN cb b ON a.c = b.c AND a.chunk = b.chunk
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    "x6_ann_bruteforce" -> (unitCte +
      s""", q AS (SELECT vec_id AS query_id, u AS qu FROM unit_t WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, u AS nu, label FROM unit_t),
         |p AS (
         |  SELECT query_id, neighbor_id, label,
         |    ${dotUnitSql("qu", "nu")} AS cos
         |  FROM q, c WHERE query_id <> neighbor_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM p)
         |SELECT query_id, neighbor_id, label, cos, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    "x7_ann_lsh" -> (unitCte +
      s""", dots AS (
         |  SELECT vec_id, embedding, p,
         |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(0, 64), i ->
         |      CAST(embedding[i + 1] AS DOUBLE) *
         |      (CAST((CAST(1103515245 AS BIGINT) * (p * 64 + i) + 12345) % 2147483647 AS DOUBLE)
         |        / 2147483647.0 - 0.5)), (x, y) -> x + y) AS dp
         |  FROM embeddings, (SELECT unnest(range(0, 4)) AS p)
         |), sig AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY vec_id
         |), su AS (
         |  SELECT s.vec_id, s.sig, u.u FROM sig s JOIN unit_t u ON s.vec_id = u.vec_id
         |), pairs AS (
         |  SELECT q.sig, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotUnitSql("q.u", "c.u")} AS cos
         |  FROM su q JOIN su c ON q.sig = c.sig AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM pairs)
         |SELECT sig, query_id, neighbor_id, cos, rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Mirrors Similarity.embeddingDups: multi-probe IVF candidates +
    // exact cosine verify on the deduped pair set.
    // ncells derives LINEARLY from the corpus (max(16, ceil(N/125)) —
    // the dedup curve, cells ∝ N so Σcellsize² ∝ N) in LOCKSTEP with
    // Similarity.standInCentroids(e, dupCellsExpr); the √N query-path
    // curve stays with x19/x34.
    "x8_embedding_dups" -> (unitCte +
      s""", nc AS (SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 125.0) AS BIGINT)) AS k FROM unit_t),
         |cents AS (SELECT vec_id AS cid, u AS cu FROM unit_t, nc WHERE vec_id < k),
         |${quantizedRankedSql("cents")},
         |cells AS (SELECT vec_id, cid AS cell FROM ranked
         |  WHERE crn <= ${graft.operators.Similarity.DupProbes}),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |p AS (
         |  SELECT id_a, id_b, ${dotUnitSql("ua.u", "ub.u")} AS cos
         |  FROM cand JOIN unit_t ua ON ua.vec_id = id_a
         |            JOIN unit_t ub ON ub.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM p WHERE cos > 0.35
         |ORDER BY id_a, id_b""".stripMargin),

    "x9_text_stats" ->
      s"""WITH d AS (SELECT *, string_split(text, ' ') AS t FROM documents)
         |SELECT doc_id, lang, source, n_chars,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq_tokens,
         |  CAST(list_reduce([CAST(0 AS BIGINT)] ||
         |      list_transform(t, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE) AS avg_token_len,
         |  CAST(len(list_filter(t, w -> w IN ($stopList))) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE) AS stopword_ratio,
         |  CAST(len(list_distinct(t)) AS DOUBLE)
         |    / CAST(len(t) AS DOUBLE) AS uniq_ratio
         |FROM d ORDER BY doc_id""".stripMargin,

    "x10_lang_id" ->
      """WITH d AS (SELECT *, string_split(text, ' ') AS t FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(t, w -> w IN ('the', 'is', 'and', 'of'))) AS BIGINT) AS score_en,
        |    CAST(len(list_filter(t, w -> w IN ('der', 'die', 'das', 'und'))) AS BIGINT) AS score_de,
        |    CAST(len(list_filter(t, w -> w IN ('el', 'la', 'los', 'y'))) AS BIGINT) AS score_es,
        |    CAST(len(list_filter(t, w -> w IN ('le', 'les', 'et', 'un'))) AS BIGINT) AS score_fr
        |  FROM d),
        |p AS (
        |  SELECT *,
        |    CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
        |         WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
        |         WHEN score_es >= score_fr THEN 'es'
        |         ELSE 'fr' END AS pred_lang
        |  FROM s)
        |SELECT doc_id, lang, score_en, score_de, score_es, score_fr, pred_lang,
        |  CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS INTEGER) AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,

    "x11_token_regex" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+') AS rt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(rt) AS BIGINT) AS n_regex_tokens,
        |  CAST(len(list_distinct(rt)) AS BIGINT) AS n_uniq_regex,
        |  CAST(len(list_filter(rt, x -> length(x) > 5)) AS BIGINT) AS n_long_tokens,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(rt, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS total_token_chars
        |FROM d ORDER BY doc_id""".stripMargin,

    "x12_fingerprint" -> (shingleCte +
      s""", f AS (
         |  SELECT d.doc_id, ${polyhashSql("d.text")} AS fp,
         |    ${polyhashSql("array_to_string(regexp_split_to_array(d.text, ' +'), ' ')")} AS fp_norm,
         |    list_min(list_transform(sh.sh, x -> md5('s0:' || x))) AS fp_minhash
         |  FROM documents d JOIN sh ON sh.doc_id = d.doc_id)
         |SELECT doc_id, fp, fp_norm, fp_minhash FROM f ORDER BY doc_id""".stripMargin),

    // Mirrors Multimodal.mediaMeta over the BLOB (magic + UTF-8 payload
    // bytes — blobBytesCte); the digest is md5 of the uppercase hex form
    // on both engines (DuckDB's md5 takes no BLOB).
    "x13_media_meta" ->
      (s"WITH ${blobBytesCte("")}" +
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  n AS n_bytes,
        |  (n + 255) // 256 AS n_chunks,
        |  md5(hx) AS content_hash
        |FROM bb ORDER BY doc_id""".stripMargin),

    // Mirrors Multimodal.decodeFeatures: FakeDecoder's checksum IS the
    // byte polyhash of the blob (magic included), so width/height/
    // feat_mean derive from the same fold both sides.
    "x14_media_decode" ->
      (s"WITH ${blobBytesCte("")}," +
      s"""m AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio'
         |         ELSE 'video' END AS media_type,
         |    n AS n_bytes,
         |    ${bytePolySql("vals")} AS checksum
         |  FROM bb)
         |SELECT doc_id, media_type, n_bytes,
         |  CAST(16 + checksum % 624 AS INTEGER) AS width,
         |  CAST(16 + (checksum // 624) % 464 AS INTEGER) AS height,
         |  CAST(CASE WHEN media_type = 'video' THEN 1 + n_bytes % 120 ELSE 1 END AS INTEGER) AS n_frames,
         |  CAST(checksum % 10000 AS DOUBLE) / 10000.0 AS feat_mean
         |FROM m ORDER BY doc_id""".stripMargin),

    "x15_asof_join" ->
      """WITH views AS (
        |  SELECT user_id, ts, max(event_id) AS view_event_id,
        |    V2D(SUM(DEC6(value))) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |clicks AS (SELECT user_id, event_id, ts, value FROM events
        |           WHERE event_type = 'click')
        |SELECT c.user_id, c.event_id, c.ts, c.value,
        |  coalesce(v.ts, epoch_ms(0)) AS asof_view_ts,
        |  coalesce(v.view_event_id, -1) AS asof_view_id,
        |  coalesce(v.view_value, 0.0) AS asof_view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    "x16_range_join" ->
      """WITH views AS (SELECT user_id, ts AS vts, value FROM events
        |               WHERE event_type = 'view'),
        |clicks AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type = 'click')
        |SELECT c.user_id, c.event_id, c.ts,
        |  COUNT(v.vts) AS n_views_1h,
        |  V2D(SUM(CASE WHEN v.vts IS NOT NULL
        |    THEN DEC6(v.value)
        |    ELSE DEC6(0.0) END)) AS sum_view_value_1h
        |FROM clicks c LEFT JOIN views v
        |  ON c.user_id = v.user_id
        |  AND v.vts > c.ts - INTERVAL 1 HOUR AND v.vts <= c.ts
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // Corpus-derived ncells on the √N query curve, in lockstep with
    // Similarity.standInCentroids(e, derivedCellsExpr).
    "x19_ann_ivf" -> (unitCte +
      s""", nc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*) / 8.0)) AS BIGINT)) AS k FROM unit_t),
         |cents AS (SELECT vec_id AS cid, u AS cu FROM unit_t, nc WHERE vec_id < k),
         |${quantizedRankedSql("cents")},
         |assign AS (SELECT vec_id AS neighbor_id, cid AS cell, u AS nu
         |           FROM ranked WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell, u AS qu
         |           FROM ranked WHERE crn <= 2 AND vec_id < 10),
         |pairs AS (
         |  SELECT p.query_id, a.neighbor_id, p.cell,
         |    ${dotUnitSql("p.qu", "a.nu")} AS cos
         |  FROM probes p JOIN assign a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, cell, cos, rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    "x18_frame_sample" ->
      (s"WITH ${blobBytesCte("WHERE doc_id % 3 = 2")}," +
      s"""m AS (
         |  SELECT doc_id, n AS n_bytes,
         |    ${bytePolySql("vals")} AS checksum
         |  FROM bb),
         |f AS (
         |  SELECT doc_id, n_bytes, checksum,
         |    CAST(1 + n_bytes % 120 AS INTEGER) AS n_frames
         |  FROM m)
         |SELECT doc_id, n_bytes, n_frames,
         |  CAST(u.i AS INTEGER) AS frame_idx,
         |  (n_bytes // CAST(n_frames AS BIGINT)) * u.i AS byte_offset,
         |  (checksum + u.i) % 1000000007 AS frame_sig
         |FROM f, unnest(range(0, CAST(n_frames AS BIGINT), ${graft.operators.Multimodal.FrameStride})) AS u(i)
         |ORDER BY doc_id, frame_idx""".stripMargin),

    "x17_udaf_wavg" ->
      """SELECT l_returnflag,
        |  V2D(SUM(DEC6(l_extendedprice * l_quantity)))
        |    / V2D(SUM(DEC6(l_quantity))) AS wavg_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Mirrors Multimodal.resizePlan: integer letterbox fit to ResizeTarget.
    "x24_media_resize" -> {
      val t = graft.operators.Multimodal.ResizeTarget
      s"WITH ${blobBytesCte("WHERE doc_id % 3 <> 1")}," +
      s"""m AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'video' END AS media_type,
         |    ${bytePolySql("vals")} AS checksum
         |  FROM bb),
         |d AS (
         |  SELECT doc_id, media_type,
         |    CAST(16 + checksum % 624 AS INTEGER) AS width,
         |    CAST(16 + (checksum // 624) % 464 AS INTEGER) AS height
         |  FROM m),
         |f AS (
         |  SELECT *, GREATEST(width, height) AS fit,
         |    CAST((width * $t) // GREATEST(width, height) AS INTEGER) AS out_w,
         |    CAST((height * $t) // GREATEST(width, height) AS INTEGER) AS out_h
         |  FROM d)
         |SELECT doc_id, media_type, width, height, out_w, out_h,
         |  $t - out_w AS pad_x, $t - out_h AS pad_y,
         |  CAST(out_w AS BIGINT) * out_h * 3 AS out_bytes
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.trainSplit: content-hash buckets, 80/10/10.
    "x20_train_split" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${polyhashSql("text")} % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM d ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.lengthFilter: corpus-relative [p05, p95] keep flag.
    "x21_length_filter" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT quantile_cont(n_tokens, 0.05) AS p05,
        |         quantile_cont(n_tokens, 0.95) AS p95
        |  FROM d)
        |SELECT doc_id, n_tokens, p05, p95,
        |  (n_tokens >= p05 AND n_tokens <= p95) AS keep
        |FROM d, b ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.mixtureWeights: sqrt-token weights, DECIMAL-summed
    // normalizer, exact-longs stopword rate.
    "x22_mixture_weights" ->
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
         |d AS (
         |  SELECT source, CAST(len(tk) AS BIGINT) AS toks,
         |    CAST(len(list_filter(tk, w -> w IN ($stopList))) AS BIGINT) AS stops
         |  FROM t),
         |s AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS total_tokens,
         |    CAST(SUM(stops) AS BIGINT) AS stop_tokens
         |  FROM d GROUP BY 1),
         |r AS (
         |  SELECT *,
         |    CAST(stop_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS stop_ratio,
         |    sqrt(CAST(total_tokens AS DOUBLE)) AS root_toks
         |  FROM s),
         |n AS (SELECT V2D(SUM(DEC6(root_toks))) AS norm FROM r)
         |SELECT source, n_docs, total_tokens, stop_tokens, stop_ratio,
         |  root_toks / norm AS weight
         |FROM r, n ORDER BY source""".stripMargin,

    // Mirrors Curation.curatedCorpus: dedup winners ∩ length-keep, with fold.
    "x23_curated_corpus" ->
      s"""WITH reps AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
         |    FROM documents) WHERE doc_id = rep),
         |d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT quantile_cont(n_tokens, 0.05) AS p05,
         |         quantile_cont(n_tokens, 0.95) AS p95
         |  FROM d),
         |kept AS (
         |  SELECT doc_id, n_tokens FROM d, b
         |  WHERE n_tokens >= p05 AND n_tokens <= p95),
         |folds AS (
         |  SELECT doc_id,
         |    CASE WHEN ${polyhashSql("text")} % 100 < 80 THEN 'train'
         |         WHEN ${polyhashSql("text")} % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT r.doc_id, k.n_tokens, f.split
         |FROM reps r JOIN kept k ON k.doc_id = r.doc_id
         |            JOIN folds f ON f.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin,

    // Mirrors TextAnalysis.repetition: dup n-gram fractions with
    // MULTIPLICITY (no distinct before counting), top-token share.
    "x25_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(t) < 2 THEN [] ELSE list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1]) END AS g2,
        |    CASE WHEN len(t) < 3 THEN [] ELSE list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS g3
        |  FROM d),
        |top AS (
        |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c FROM (
        |    SELECT doc_id, w, COUNT(*) AS c FROM
        |      (SELECT doc_id, unnest(t) AS w FROM d) q GROUP BY 1, 2) q2
        |  GROUP BY 1),
        |s AS (
        |  SELECT g.doc_id, n_tokens,
        |    CAST(len(g2) AS BIGINT) AS n_2grams,
        |    CAST(len(list_distinct(g2)) AS BIGINT) AS uniq_2grams,
        |    CAST(len(g3) AS BIGINT) AS n_3grams,
        |    CAST(len(list_distinct(g3)) AS BIGINT) AS uniq_3grams,
        |    top_c
        |  FROM g JOIN top ON top.doc_id = g.doc_id),
        |f AS (
        |  SELECT doc_id, n_tokens, n_2grams, uniq_2grams,
        |    CASE WHEN n_2grams = 0 THEN 0.0
        |      ELSE CAST(n_2grams - uniq_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)
        |    END AS dup_2gram_frac,
        |    n_3grams, uniq_3grams,
        |    CASE WHEN n_3grams = 0 THEN 0.0
        |      ELSE CAST(n_3grams - uniq_3grams AS DOUBLE) / CAST(n_3grams AS DOUBLE)
        |    END AS dup_3gram_frac,
        |    top_c AS top_token_count,
        |    CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac
        |  FROM s)
        |SELECT *, (dup_2gram_frac < 0.20 AND dup_3gram_frac < 0.15
        |  AND top_token_frac < 0.20) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.packSequences: sharded running-token packing.
    "x26_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    doc_id % ${graft.operators.Curation.PackShards} AS shard
         |  FROM documents),
         |c AS (
         |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) AS BIGINT) AS cum_before
         |  FROM d)
         |SELECT doc_id, shard, n_tokens,
         |  cum_before // ${graft.operators.Curation.PackBudget} AS seq_in_shard,
         |  cum_before % ${graft.operators.Curation.PackBudget} AS offset_in_seq,
         |  (cum_before % ${graft.operators.Curation.PackBudget}) + n_tokens
         |    > ${graft.operators.Curation.PackBudget} AS crosses_boundary
         |FROM c ORDER BY doc_id""".stripMargin,

    // Mirrors Quantization.int8Stats: max-abs int8, floor(x+0.5) rounding
    // (engine-portable; round() half-convention differs across engines).
    "x27_int8_quant" ->
      s"""WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings),
        |s AS (
        |  SELECT *, CASE WHEN max_abs = 0 THEN 1.0 ELSE max_abs / 127.0 END AS scale
        |  FROM m),
        |qq AS (
        |  SELECT vec_id, max_abs, scale,
        |    list_transform(embedding, x ->
        |      floor(CAST(x AS DOUBLE) / scale + 0.5)) AS q,
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE) -
        |      floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)) AS err
        |  FROM s)
        |SELECT vec_id, max_abs, scale,
        |  list_max(err) AS max_err,
        |  list_reduce([CAST(0 AS DOUBLE)] || err, (a, b) -> a + b)
        |    / ${graft.operators.Quantization.Dim}.0 AS mean_err,
        |  CAST(len(list_filter(q, v -> abs(v) > 127)) AS BIGINT) AS n_clipped
        |FROM qq ORDER BY vec_id""".stripMargin,

    // Mirrors Dedup.dupClusters: min-label connected components over the
    // Hamming<=ClusterHamming graph of 16-bit CLUSTER signatures
    // (simhash16Cte = the seed-'0' slice of the 64-bit simhash, exactly
    // what the Spark side masks out). The recursive CTE computes every
    // reachable label per node; MIN over it is the same unique fixpoint
    // the Spark side's label propagation converges to.
    "x28_dup_clusters" -> (clusterCte +
      """SELECT l.doc_id, l.cluster_rep, s.cluster_size
        |FROM lab l JOIN sz s USING (cluster_rep) ORDER BY doc_id""".stripMargin),

    // Mirrors Curation.dedupApply: x28's clustering plus the keep rule
    // (each cluster keeps exactly its min-doc representative).
    "x30_dedup_apply" -> (clusterCte +
      """SELECT l.doc_id, l.cluster_rep, s.cluster_size,
        |  l.doc_id = l.cluster_rep AS kept
        |FROM lab l JOIN sz s USING (cluster_rep) ORDER BY doc_id""".stripMargin),

    // Mirrors Curation.langRebalance: integer-division thresholds from
    // per-language counts, content-hash bucket sampler.
    "x31_lang_rebalance" ->
      s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |m AS (SELECT MIN(n_docs) AS min_docs FROM counts),
         |th AS (SELECT lang, (min_docs * ${graft.operators.Curation.RebalanceBuckets}) // n_docs AS threshold
         |       FROM counts CROSS JOIN m),
         |b AS (SELECT doc_id, lang,
         |        ${polyhashSql("text")} % ${graft.operators.Curation.RebalanceBuckets} AS bucket
         |      FROM documents)
         |SELECT b.doc_id, b.lang, b.bucket, th.threshold,
         |  COALESCE(b.bucket < th.threshold, FALSE) AS keep
         |FROM b JOIN th USING (lang) ORDER BY doc_id""".stripMargin,

    // Mirrors Similarity.kmeansTrain: unrolled Lloyd iterations (see
    // kmeansCte), final centroids in row form + member counts of the
    // assignment that produced them.
    "x33_kmeans_train" -> (unitCte + kmeansCte +
      s""", sizes AS (SELECT cell, COUNT(*) AS n_members
         |  FROM m${graft.operators.Similarity.KmeansIters} GROUP BY 1)
         |SELECT c.cid, CAST(ix.i - 1 AS BIGINT) AS dim,
         |  c.cu[ix.i] AS centroid, s.n_members
         |FROM c${graft.operators.Similarity.KmeansIters} c
         |CROSS JOIN (SELECT unnest(range(1, ${graft.operators.Similarity.Dim + 1})) AS i) ix
         |JOIN sizes s ON s.cell = c.cid
         |ORDER BY cid, dim""".stripMargin),

    // Mirrors Similarity.ivfTopKTrained: the x19 probe/rank pipeline over
    // the TRAINED centroid relation (kmeansCte's final c<N>) — training
    // and search compose hash-exactly because the centroids are
    // bit-equal.
    "x34_ann_trained" -> (unitCte + kmeansCte +
      s""", cents AS (SELECT cid, cu FROM c${graft.operators.Similarity.KmeansIters}),
         |${quantizedRankedSql("cents")},
         |assign AS (SELECT vec_id AS neighbor_id, cid AS cell, u AS nu
         |           FROM ranked WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell, u AS qu
         |           FROM ranked WHERE crn <= 2 AND vec_id < 10),
         |pairs AS (
         |  SELECT p.query_id, a.neighbor_id, p.cell,
         |    ${dotUnitSql("p.qu", "a.nu")} AS cos
         |  FROM probes p JOIN assign a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, cell, cos, rank FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Mirrors TextAnalysis.piiScrub: identical patterns and replacement
    // ORDER (emails, then IPv4, then digit runs); DuckDB needs the 'g'
    // flag where Spark's regexp_replace is global by default.
    "x32_pii_scrub" -> {
      import graft.operators.TextAnalysis.{DigitRunRe, EmailRe, Ipv4Re}
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '$DigitRunRe')) AS BIGINT) AS n_digit_runs,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
         |      '$Ipv4Re', '<IP>', 'g'),
         |    '$DigitRunRe', '<NUM>', 'g') AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.decontaminate: distinct eval-set shingles joined
    // against train-doc shingle streams, per-doc overlap count + flag.
    "x29_decontaminate" -> (shingleCte +
      s""", ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bench AS (SELECT DISTINCT s FROM ex
         |  WHERE doc_id < ${graft.operators.Curation.BenchmarkDocs}),
         |tr AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM sh
         |  WHERE len(sh) > 0 AND doc_id >= ${graft.operators.Curation.BenchmarkDocs}),
         |ov AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM ex e JOIN bench b ON e.s = b.s
         |  WHERE e.doc_id >= ${graft.operators.Curation.BenchmarkDocs}
         |  GROUP BY 1),
         |f AS (
         |  SELECT t.doc_id, t.n_shingles, COALESCE(ov.n_shared, 0) AS n_shared,
         |    CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE) AS overlap_frac
         |  FROM tr t LEFT JOIN ov ON ov.doc_id = t.doc_id)
         |SELECT *, overlap_frac >= ${graft.operators.Curation.ContaminationFrac}
         |  AS contaminated
         |FROM f ORDER BY doc_id""".stripMargin),

    // Mirrors Relational.corrSubquery (same ANSI text modulo view names).
    "q20_corr_subquery" ->
      """SELECT
        |  V2D(SUM(DEC6(l_extendedprice))) / 7.0
        |    AS avg_yearly,
        |  COUNT(*) AS n_rows
        |FROM lineitem l JOIN part p ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (
        |    SELECT 0.2 * (V2D(SUM(DEC6(l2.l_quantity))
        |       ) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |""".stripMargin,

    // Mirrors Relational.groupingSets (same ANSI text modulo view names).
    "q21_grouping_sets" ->
      """SELECT r_name, n_name,
        |  CAST(GROUPING(r_name) AS INTEGER) AS g_region,
        |  CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
        |  COUNT(*) AS n_cust,
        |  V2D(SUM(DEC6(c_acctbal))) AS sum_bal
        |FROM customer c
        |JOIN nation n ON c_nationkey = n_nationkey
        |JOIN region r ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        |ORDER BY g_region, g_nation,
        |  r_name NULLS FIRST, n_name NULLS FIRST
        |""".stripMargin,

    "q15_moving_avg" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS n_orders,
        |    SUM(DEC6(o_totalprice)) AS dec_price
        |  FROM orders GROUP BY 1
        |)
        |SELECT day, n_orders,
        |  V2D(dec_price) AS sum_price,
        |  V2D(SUM(n_orders) OVER w7) / CAST(COUNT(*) OVER w7 AS DOUBLE) AS ma7_orders,
        |  V2D(SUM(dec_price) OVER w7) / CAST(COUNT(*) OVER w7 AS DOUBLE) AS ma7_price
        |FROM daily
        |WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,

    // Mirrors TextAnalysis.tfidfTerms: (doc, term) tf, vocab df, idf
    // quantized to 1e-6 (the ln's last ulps are engine-specific; the
    // floor(x*1e6 + 0.5) quantization is the same move both engines make
    // in x27/x33), ranking on the SCALED-INTEGER score with term tiebreak.
    "x35_tfidf_terms" -> {
      val k = graft.operators.TextAnalysis.TfidfTopK
      val sc = graft.operators.TextAnalysis.IdfScale
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM ex GROUP BY 1, 2),
         |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
         |      FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
         |    tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE)
         |      / CAST(df AS DOUBLE)) * $sc + 0.5) AS BIGINT) AS tfidf_scaled
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf_scaled DESC, term) AS rnk FROM s)
         |SELECT doc_id, term, tf, df,
         |  CAST(tfidf_scaled AS DOUBLE) / $sc AS tfidf, CAST(rnk AS INTEGER) AS rnk
         |FROM r WHERE rnk <= $k ORDER BY doc_id, rnk""".stripMargin
    },

    // Mirrors Curation.chunkOverlap: generate_series is end-inclusive like
    // Spark's sequence(); list_slice clamps at the list end like slice().
    "x36_chunk_overlap" -> {
      val cs = graft.operators.Curation.ChunkSize
      val st = graft.operators.Curation.ChunkStride
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
         |    unnest(generate_series(1, len(t), $st)) AS start
         |  FROM d),
         |c AS (
         |  SELECT doc_id, CAST((start - 1) // $st AS BIGINT) AS chunk_id,
         |    CAST(start AS BIGINT) AS start, n_tokens,
         |    list_slice(t, start, start + ${cs - 1}) AS chunk
         |  FROM s)
         |SELECT doc_id, chunk_id, start, n_tokens,
         |  CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },

    // Mirrors TextAnalysis.vocabBuild: term stats, min-count cut, dense
    // frequency-ranked ids, integer running coverage sums (the exposed
    // coverage double is one correctly-rounded division of exact longs).
    "x37_vocab_build" -> {
      val mc = graft.operators.TextAnalysis.VocabMinCount
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |stats AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS total_count,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
         |  FROM ex GROUP BY 1),
         |grand AS (SELECT CAST(SUM(total_count) AS BIGINT) AS grand_total
         |          FROM stats),
         |v AS (
         |  SELECT *,
         |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS vocab_id,
         |    CAST(SUM(total_count) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS BIGINT) AS cum_count
         |  FROM stats CROSS JOIN grand
         |  WHERE total_count >= $mc
         |  WINDOW w AS (ORDER BY total_count DESC, term))
         |SELECT term, total_count, doc_freq, vocab_id, cum_count,
         |  CAST(cum_count AS DOUBLE) / CAST(grand_total AS DOUBLE) AS coverage
         |FROM v ORDER BY vocab_id""".stripMargin
    },

    // Mirrors TextAnalysis.boilerplate: shingle document frequencies
    // (the shingle sets are per-doc DISTINCT, so COUNT(*) per shingle IS
    // the doc frequency), join back, per-doc boilerplate counts.
    "x41_boilerplate" -> (shingleCte +
      s""", ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |dfc AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1),
         |pd AS (
         |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
         |  FROM ex e JOIN dfc ON dfc.s = e.s
         |  WHERE dfc.df > ${graft.operators.TextAnalysis.BoilerplateDf}
         |  GROUP BY 1),
         |base AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles
         |         FROM sh WHERE len(sh) > 0),
         |f AS (
         |  SELECT b.doc_id, b.n_shingles,
         |    COALESCE(pd.n_boiler, 0) AS n_boiler,
         |    CAST(COALESCE(pd.n_boiler, 0) AS DOUBLE)
         |      / CAST(b.n_shingles AS DOUBLE) AS boiler_frac
         |  FROM base b LEFT JOIN pd ON pd.doc_id = b.doc_id)
         |SELECT *, boiler_frac < 0.5 AS keep FROM f ORDER BY doc_id""".stripMargin),

    // Mirrors Quantization.covarianceStats: elements quantized to
    // floor(v*1e6 + 0.5) longs, exact DEC0 sums, then the SAME
    // fixed-order correctly-rounded double divisions — bit-identical
    // means/moments/covariances. The oracle pairs via a vec_id self-join
    // where the Spark side re-explodes each row's own array (join-free);
    // both enumerate the identical upper triangle.
    "x38_embedding_cov" -> {
      val sc = graft.operators.Quantization.CovScale
      val d = graft.operators.Quantization.Dim
      s"""WITH s AS (
         |  SELECT vec_id, ix.i - 1 AS i,
         |    CAST(floor(CAST(embedding[ix.i] AS DOUBLE) * $sc + 0.5) AS BIGINT) AS sv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) ix),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
         |ds AS (SELECT i, SUM(DEC0(sv)) AS sum_i
         |       FROM s GROUP BY 1),
         |p AS (SELECT a.i AS i, b.i AS j,
         |        SUM(DEC0(a.sv * b.sv)) AS spp
         |      FROM s a JOIN s b ON a.vec_id = b.vec_id AND a.i <= b.i
         |      GROUP BY 1, 2),
         |f AS (
         |  SELECT p.i, p.j, n.n_vecs,
         |    V2D(di.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE) AS mean_i,
         |    V2D(dj.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE) AS mean_j,
         |    V2D(p.spp) / (CAST($sc AS DOUBLE) * CAST($sc AS DOUBLE))
         |      / CAST(n.n_vecs AS DOUBLE) AS m2
         |  FROM p JOIN ds di ON di.i = p.i JOIN ds dj ON dj.i = p.j
         |  CROSS JOIN n)
         |SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
         |  n_vecs, mean_i, mean_j, m2, m2 - mean_i * mean_j AS cov
         |FROM f ORDER BY dim_i, dim_j""".stripMargin
    },

    // Mirrors TextAnalysis.encodeDocs ∘ vocabBuild: same vocab (min-count
    // cut + frequency-ranked ids), per-token LEFT join (OOV → 0), ids
    // reassembled in token order and joined to CSV for the compare.
    "x39_encode_docs" -> {
      val mc = graft.operators.TextAnalysis.VocabMinCount
      val oov = graft.operators.TextAnalysis.OovId
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |ex0 AS (SELECT doc_id, t,
         |          unnest(range(1, len(t) + 1)) AS pos FROM d),
         |ex AS (SELECT doc_id, pos, t[pos] AS term FROM ex0),
         |stats AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS total_count
         |  FROM ex GROUP BY 1),
         |v AS (
         |  SELECT term, CAST(ROW_NUMBER() OVER (
         |    ORDER BY total_count DESC, term) AS BIGINT) AS vocab_id
         |  FROM stats WHERE total_count >= $mc),
         |enc AS (
         |  SELECT e.doc_id, e.pos, v.vocab_id,
         |    COALESCE(v.vocab_id, $oov) AS id
         |  FROM ex e LEFT JOIN v USING (term))
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN vocab_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  V2D(SUM(CASE WHEN vocab_id IS NULL THEN 1 ELSE 0 END))
         |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate,
         |  array_to_string(list(id ORDER BY pos), ',') AS ids_csv
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.fimSplit: content-hash selection + cut points,
    // all integer arithmetic; span hashes over the identical slices.
    "x40_fim_split" -> {
      val pct = graft.operators.Curation.FimRatePct
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t,
         |    ${polyhashSql("text")} AS h
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (
         |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
         |    h % 100 < $pct AS fim,
         |    h % (len(t) + 1) AS c1,
         |    (h // 7) % (len(t) + 1) AS c2
         |  FROM d),
         |f AS (
         |  SELECT doc_id, t, n_tokens, fim,
         |    LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi
         |  FROM s)
         |SELECT doc_id, n_tokens, fim,
         |  CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
         |  CAST(lo AS BIGINT) AS n_prefix,
         |  CAST(hi - lo AS BIGINT) AS n_middle,
         |  CAST(n_tokens - hi AS BIGINT) AS n_suffix,
         |  md5(COALESCE(array_to_string(list_slice(t, 1, lo), ' '), ''))
         |    AS prefix_hash,
         |  md5(COALESCE(array_to_string(list_slice(t, lo + 1, hi), ' '), ''))
         |    AS middle_hash,
         |  md5(COALESCE(array_to_string(list_slice(t, hi + 1, n_tokens), ' '), ''))
         |    AS suffix_hash
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.dialogAssembly: q14's exact session rule, then
    // turn concatenation in (ts, event_id) order.
    "x42_dialog_assembly" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |            - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts,
        |    event_type || '#' || CAST(event_id AS VARCHAR) AS turn,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, session_seq, COUNT(*) AS n_turns,
        |  MIN(ts) AS session_start,
        |  array_to_string(list(turn ORDER BY ts, event_id), ' | ') AS dialog
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    // Mirrors TextAnalysis.unigramLogProb: per-term quantized log-prob
    // (the ln-once-then-integers x35 move), exact long sums per doc.
    "x43_unigram_logprob" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM ex GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts),
         |lm AS (
         |  SELECT term, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
         |    * $sc + 0.5) AS BIGINT) AS lp_scaled
         |  FROM counts CROSS JOIN tot),
         |s AS (
         |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(lp_scaled) AS BIGINT) AS sum_scaled
         |  FROM ex e JOIN lm USING (term) GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  CAST(sum_scaled AS DOUBLE) / $sc.0 / CAST(n_tokens AS DOUBLE)
         |    AS avg_logprob
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.qualityGate: the x23 base composed with x25's
    // repetition keep and x41's boilerplate keep — each sub-block is the
    // (already verified) per-operator oracle with prefixed CTE names.
    "x44_quality_gate" -> {
      val bdf = graft.operators.TextAnalysis.BoilerplateDf
      s"""WITH c_reps AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
         |    FROM documents) WHERE doc_id = rep),
         |c_d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c_b AS (
         |  SELECT quantile_cont(n_tokens, 0.05) AS p05,
         |         quantile_cont(n_tokens, 0.95) AS p95
         |  FROM c_d),
         |c_kept AS (
         |  SELECT doc_id, n_tokens FROM c_d, c_b
         |  WHERE n_tokens >= p05 AND n_tokens <= p95),
         |c_folds AS (
         |  SELECT doc_id,
         |    CASE WHEN ${polyhashSql("text")} % 100 < 80 THEN 'train'
         |         WHEN ${polyhashSql("text")} % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |base AS (
         |  SELECT r.doc_id, k.n_tokens, f.split
         |  FROM c_reps r JOIN c_kept k ON k.doc_id = r.doc_id
         |                JOIN c_folds f ON f.doc_id = r.doc_id),
         |r_d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |r_g AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
         |    CASE WHEN len(t) < 2 THEN [] ELSE list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1]) END AS g2,
         |    CASE WHEN len(t) < 3 THEN [] ELSE list_transform(range(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS g3
         |  FROM r_d),
         |r_top AS (
         |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c FROM (
         |    SELECT doc_id, w, COUNT(*) AS c FROM
         |      (SELECT doc_id, unnest(t) AS w FROM r_d) q GROUP BY 1, 2) q2
         |  GROUP BY 1),
         |r_keep AS (
         |  SELECT g.doc_id,
         |    (CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |         / CAST(len(g2) AS DOUBLE) END < 0.20
         |     AND CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
         |         / CAST(len(g3) AS DOUBLE) END < 0.15
         |     AND CAST(top_c AS DOUBLE) / CAST(n AS DOUBLE) < 0.20) AS rep_keep
         |  FROM r_g g JOIN r_top ON r_top.doc_id = g.doc_id),
         |b_sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN []
         |    ELSE list_transform(range(1, len(t) - 1),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS sh
         |  FROM r_d),
         |b_ex AS (SELECT doc_id, unnest(sh) AS s FROM b_sh),
         |b_dfc AS (SELECT s, COUNT(*) AS df FROM b_ex GROUP BY 1),
         |b_pd AS (
         |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
         |  FROM b_ex e JOIN b_dfc ON b_dfc.s = e.s
         |  WHERE b_dfc.df > $bdf GROUP BY 1),
         |b_keep AS (
         |  SELECT s.doc_id,
         |    (CAST(COALESCE(pd.n_boiler, 0) AS DOUBLE)
         |      / CAST(len(s.sh) AS DOUBLE) < 0.5) AS boiler_keep
         |  FROM b_sh s LEFT JOIN b_pd pd ON pd.doc_id = s.doc_id
         |  WHERE len(s.sh) > 0)
         |SELECT base.doc_id, base.n_tokens, base.split,
         |  r.rep_keep, b.boiler_keep,
         |  (r.rep_keep AND b.boiler_keep) AS keep
         |FROM base JOIN r_keep r ON r.doc_id = base.doc_id
         |          JOIN b_keep b ON b.doc_id = base.doc_id
         |ORDER BY base.doc_id""".stripMargin
    },

    // Mirrors Quantization.standardize: same scaled-integer moments as
    // x38, z from correctly-rounded double ops (sqrt is IEEE-exact).
    "x45_standardize" -> {
      val sc = graft.operators.Quantization.CovScale
      val d = graft.operators.Quantization.Dim
      s"""WITH s AS (
         |  SELECT vec_id, ix.i - 1 AS i,
         |    CAST(floor(CAST(embedding[ix.i] AS DOUBLE) * $sc + 0.5) AS BIGINT) AS sv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) ix),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
         |st AS (
         |  SELECT i, SUM(DEC0(sv)) AS sum_i,
         |    SUM(DEC0(sv * sv)) AS sumsq_i
         |  FROM s GROUP BY 1),
         |f AS (
         |  SELECT s.vec_id, s.i,
         |    CAST(s.sv AS DOUBLE) / $sc.0 AS v_q,
         |    V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE) AS mean_i,
         |    V2D(st.sumsq_i) / (CAST($sc AS DOUBLE) * CAST($sc AS DOUBLE))
         |      / CAST(n.n_vecs AS DOUBLE)
         |      - (V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE))
         |        * (V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE)) AS var_i
         |  FROM s JOIN st ON st.i = s.i CROSS JOIN n)
         |SELECT vec_id, CAST(i AS BIGINT) AS dim, v_q, mean_i, var_i,
         |  CASE WHEN var_i <= 0.0 THEN 0.0
         |       ELSE (v_q - mean_i) / sqrt(var_i) END AS z
         |FROM f ORDER BY vec_id, dim""".stripMargin
    },

    // Mirrors ProductQuantization.pqEncode: stand-in codebook + argmin
    // encode (pqCte), qerr as the identical sequential L2² fold.
    "x46_pq_encode" -> (unitCte + pqCte +
      """SELECT vec_id, sub, code, qerr FROM enc WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin),

    // Mirrors ProductQuantization.adcTopK: per-query LUT of subvector·
    // codebook dots (same fold as VecDot), ADC as a sequential fold over
    // subspaces in subspace order, rank by (adc DESC, neighbor_id).
    "x47_ann_pq" -> {
      val m = graft.operators.ProductQuantization.NumSubspaces
      val k = graft.operators.ProductQuantization.CodebookSize
      val topk = graft.operators.ProductQuantization.TopK
      unitCte + pqCte +
      s""", codes AS (SELECT vec_id, array_agg(code ORDER BY sub) AS codes
         |  FROM enc WHERE rn = 1 GROUP BY 1),
         |qs AS (SELECT vec_id AS query_id, sub, svec AS qsub
         |  FROM sv WHERE vec_id < 10),
         |lutr AS (SELECT query_id, sub, code,
         |    ${dotUnitSql("qsub", "cvec")} AS lv
         |  FROM qs JOIN cb USING (sub)),
         |luta AS (SELECT query_id, array_agg(lv ORDER BY sub, code) AS lut
         |  FROM lutr GROUP BY 1),
         |p AS (SELECT query_id, c.vec_id AS neighbor_id,
         |    list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(0, $m),
         |      mm -> lut[mm * $k + codes[mm + 1] + 1]), (x, y) -> x + y) AS adc
         |  FROM luta, codes c WHERE query_id <> c.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc DESC, neighbor_id) AS rank FROM p)
         |SELECT query_id, neighbor_id, adc, rank FROM r
         |WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin
    },

    // Mirrors Similarity.semDedup: x8's linear-curve cells + two-level
    // ranking, crn=1 assignment, keep-priority window (cdot ASC, vec_id),
    // greedy drop of later-ranked similar members.
    "x48_semdedup" -> (unitCte +
      s""", nc AS (SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 125.0) AS BIGINT)) AS k FROM unit_t),
         |cents AS (SELECT vec_id AS cid, u AS cu FROM unit_t, nc WHERE vec_id < k),
         |${quantizedRankedSql("cents")},
         |assign AS (SELECT vec_id, u, cid AS cell FROM ranked WHERE crn = 1),
         |wc AS (SELECT a.vec_id, a.u, a.cell,
         |    ${dotUnitSql("a.u", "c.cu")} AS cdot
         |  FROM assign a JOIN cents c ON c.cid = a.cell),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
         |    ORDER BY cdot ASC, vec_id) AS rnk FROM wc),
         |dr AS (SELECT DISTINCT b.vec_id
         |  FROM rk a JOIN rk b ON a.cell = b.cell AND a.rnk < b.rnk
         |  WHERE ${dotUnitSql("a.u", "b.u")} > ${graft.operators.Similarity.SemDedupThreshold})
         |SELECT r.vec_id, r.cell, r.cdot, (d.vec_id IS NULL) AS keep
         |FROM rk r LEFT JOIN dr d ON d.vec_id = r.vec_id
         |ORDER BY r.vec_id""".stripMargin),

    // Mirrors Dedup.dupSpans: per-position 5-gram polyhash inverted
    // index, df>=2 cut before the join-back, covered tokens as the
    // min(K, gap) running-window sum.
    "x49_dup_spans" -> {
      val k = graft.operators.Dedup.DupSpanK
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(t) < $k THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(t) - $k + 2),
         |           i -> array_to_string(t[i:i+${k - 1}], ' ')) END AS grams
         |  FROM d),
         |g0 AS (SELECT doc_id, grams,
         |    unnest(range(1, len(grams) + 1)) AS pos1 FROM base),
         |g AS (SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos,
         |    ${polyhashSql("grams[pos1]")} AS h FROM g0),
         |dh AS (SELECT h FROM (
         |    SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY h)
         |  WHERE ndocs >= 2),
         |ds AS (SELECT doc_id, pos FROM g JOIN dh USING (h)),
         |cov AS (SELECT doc_id,
         |    COUNT(*) AS n_dup_spans,
         |    CAST(SUM(CASE WHEN gap IS NULL THEN $k
         |             ELSE LEAST($k, gap) END) AS BIGINT) AS dup_tokens
         |  FROM (SELECT doc_id, pos,
         |      pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |    FROM ds) GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
         |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |  CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
         |    / CAST(b.n_tokens AS DOUBLE) AS dup_token_frac,
         |  (CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
         |    / CAST(b.n_tokens AS DOUBLE)) < 0.5 AS keep
         |FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.qualityClassifier: polyhash feature buckets,
    // multiplicative-scramble integer weights, doc-keyed exact sum, two
    // fixed-order divisions.
    "x50_quality_classifier" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |ex AS (SELECT doc_id, unnest(t) AS w FROM d),
         |s AS (SELECT doc_id,
         |    (${polyhashSql("w")}) % ${graft.operators.TextAnalysis.ClassifierBuckets} AS bucket
         |  FROM ex),
         |sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM((bucket * ${graft.operators.TextAnalysis.WeightMul})
         |        % ${graft.operators.TextAnalysis.WeightMod}
         |      - ${(graft.operators.TextAnalysis.WeightMod - 1) / 2}) AS BIGINT) AS score_sum
         |  FROM s GROUP BY doc_id)
         |SELECT doc_id, n_tokens, score_sum,
         |  CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000.0 AS score,
         |  (CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000.0) > 0.0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.sourceCap: the oracle's rank window reproduces
    // the bounded-heap top-N exactly because the ordering is total
    // (n_chars DESC, doc_id).
    "x51_source_cap" ->
      s"""WITH r AS (
         |  SELECT doc_id, source, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source, n_chars,
         |  CASE WHEN rn <= ${graft.operators.Curation.SourceCap} THEN rn END AS src_rank,
         |  rn <= ${graft.operators.Curation.SourceCap} AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.bloomDecontaminate: the oracle is the EXACT
    // formulation — the bloom prefilter only cuts intermediate volume
    // and must never change the answer, which is precisely what this
    // comparison proves.
    "x52_bloom_decontaminate" -> (shingleCte +
      s""", ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bench AS (SELECT DISTINCT s FROM ex
         |  WHERE doc_id < ${graft.operators.Curation.BenchmarkDocs}),
         |tr AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM sh
         |  WHERE len(sh) > 0 AND doc_id >= ${graft.operators.Curation.BenchmarkDocs}),
         |ov AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM ex e JOIN bench b ON e.s = b.s
         |  WHERE e.doc_id >= ${graft.operators.Curation.BenchmarkDocs}
         |  GROUP BY 1),
         |f AS (
         |  SELECT t.doc_id, t.n_shingles, COALESCE(ov.n_shared, 0) AS n_shared,
         |    CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE) AS overlap_frac
         |  FROM tr t LEFT JOIN ov ON ov.doc_id = t.doc_id)
         |SELECT doc_id, n_shingles, n_shared, overlap_frac
         |FROM f
         |WHERE overlap_frac < ${graft.operators.Curation.ContaminationFrac}
         |ORDER BY doc_id""".stripMargin),

    // Mirrors TextAnalysis.pplBuckets: x43's scoring plus RANK-based
    // per-language terciles in exact integer arithmetic (3*c_le vs n over
    // per-(lang, score) value groups). No interpolated quantile appears
    // on either side — the first formulation compared the score against
    // percentile/quantile_cont cuts, whose ~1-ulp interpolation
    // difference flipped one boundary doc at sf1. The join keys are
    // x43's bit-exact doubles.
    "x53_ppl_buckets" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
         |           FROM ex GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts),
         |lm AS (
         |  SELECT term, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
         |    * $sc + 0.5) AS BIGINT) AS lp_scaled
         |  FROM counts CROSS JOIN tot),
         |s AS (
         |  SELECT e.doc_id, e.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(lp_scaled) AS BIGINT) AS sum_scaled
         |  FROM ex e JOIN lm USING (term) GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(sum_scaled AS DOUBLE) / $sc.0 / CAST(n_tokens AS DOUBLE)
         |      AS avg_logprob
         |  FROM s),
         |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |vc AS (SELECT lang, avg_logprob, CAST(COUNT(*) AS BIGINT) AS vc
         |       FROM d GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, avg_logprob,
         |    SUM(vc) OVER (PARTITION BY lang ORDER BY avg_logprob) AS c_le
         |  FROM vc),
         |b AS (
         |  SELECT c.lang, c.avg_logprob,
         |    CASE WHEN c_le * 3 <= n.n THEN 'tail'
         |         WHEN c_le * 3 <= n.n * 2 THEN 'middle'
         |         ELSE 'head' END AS bucket
         |  FROM cum c JOIN n USING (lang))
         |SELECT doc_id, d.lang, n_tokens, d.avg_logprob, bucket
         |FROM d JOIN b USING (lang, avg_logprob) ORDER BY doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.pmiCollocations: adjacent bigrams by list
    // index (the unnest(range) lateral — DuckDB's spelling of the
    // zip-with-tail), exact long counts, and PMI through x43's
    // scaled-integer bridge (raw ln doubles diverge by 1 ulp between
    // engines on near-1 arguments), total ORDER BY before the LIMIT.
    "x55_pmi_collocations" -> {
      import graft.operators.TextAnalysis.{IdfScale, MinPairCount, TopCollocations}
      s"""WITH ex AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |bg AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM ex)),
         |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
         |       FROM bg GROUP BY 1, 2),
         |uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |  SELECT unnest(t) AS term FROM ex) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM uni)
         |SELECT w1, w2, c_ab,
         |  CAST(floor(ln(CAST(c_ab AS DOUBLE) * CAST(total AS DOUBLE)
         |      / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)))
         |    * $IdfScale + 0.5) AS BIGINT) / $IdfScale.0 AS pmi
         |FROM cb JOIN uni ua ON ua.term = w1 JOIN uni ub ON ub.term = w2
         |CROSS JOIN tot
         |WHERE c_ab >= $MinPairCount
         |ORDER BY pmi DESC, w1, w2 LIMIT $TopCollocations""".stripMargin
    },

    // Mirrors TextAnalysis.bpeMergeStep: weighted adjacent symbol-pair
    // counts over the vocabulary, argmax with the same total tie-break,
    // and the double-gap replace merge (both engines' replace scan
    // left-to-right non-overlapping — identical by construction).
    "x56_bpe_merge" ->
      s"""WITH w AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS term
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(term) > 0 GROUP BY 1),
         |seq AS (SELECT term, c,
         |  array_to_string(string_split(term, ''), ' ') AS s FROM w),
         |pairs AS (
         |  SELECT t[i] AS p1, t[i + 1] AS p2, CAST(SUM(c) AS BIGINT) AS pc
         |  FROM (SELECT c, string_split(s, ' ') AS t,
         |               unnest(range(1, len(string_split(s, ' ')))) AS i
         |        FROM seq)
         |  GROUP BY 1, 2),
         |best AS (SELECT p1, p2, pc FROM pairs
         |         ORDER BY pc DESC, p1, p2 LIMIT 1)
         |SELECT term, c, s,
         |  trim(replace(replace(
         |    ' ' || replace(s, ' ', '  ') || ' ',
         |    ' ' || p1 || '  ' || p2 || ' ',
         |    ' ' || p1 || p2 || ' '), '  ', ' ')) AS merged,
         |  p1, p2, pc
         |FROM seq CROSS JOIN best ORDER BY term""".stripMargin,

    // Mirrors CorpusStream.firstSeenDedup's batch flavor: first-seen
    // rank per content hash (doc_id order — unique, so the rank is
    // deterministic).
    "x57_stream_dedup" ->
      """WITH h AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS text_hash
        |  FROM documents)
        |SELECT doc_id, text_hash,
        |  MIN(doc_id) OVER (PARTITION BY text_hash) AS first_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id)
        |    AS BIGINT) AS dup_rank,
        |  ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) = 1
        |    AS keep
        |FROM h ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.novelty: min-doc_id-per-shingle join-back.
    "x54_novelty" -> (shingleCte +
      """, ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |fs AS (SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY 1),
        |agg AS (
        |  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |    CAST(SUM(CASE WHEN fs.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM ex e JOIN fs USING (s) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty_frac
        |FROM agg ORDER BY doc_id""".stripMargin),

    // Mirrors Similarity.annRecall: exact top-k (x6's ranking, cut at
    // RecallK) intersected with the IVF top-k (x19's probe/rank pipeline,
    // same stand-in centroids) — counts and ppm in exact integers.
    "x58_ann_recall" -> (unitCte +
      s""", q AS (SELECT vec_id AS query_id, u AS qu FROM unit_t WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, u AS nu FROM unit_t),
         |ep AS (
         |  SELECT query_id, neighbor_id, ${dotUnitSql("qu", "nu")} AS cos
         |  FROM q, c WHERE query_id <> neighbor_id),
         |er AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM ep),
         |exact3 AS (SELECT query_id, neighbor_id FROM er
         |           WHERE rank <= ${graft.operators.Similarity.RecallK}),
         |nc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*) / 8.0)) AS BIGINT)) AS k FROM unit_t),
         |cents AS (SELECT vec_id AS cid, u AS cu FROM unit_t, nc WHERE vec_id < k),
         |${quantizedRankedSql("cents")},
         |assign AS (SELECT vec_id AS neighbor_id, cid AS cell, u AS nu2
         |           FROM ranked WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell, u AS qu2
         |           FROM ranked WHERE crn <= 2 AND vec_id < 10),
         |ip AS (
         |  SELECT p.query_id, a.neighbor_id,
         |    ${dotUnitSql("p.qu2", "a.nu2")} AS cos
         |  FROM probes p JOIN assign a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id),
         |ir AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM ip),
         |ivf3 AS (SELECT query_id, neighbor_id FROM ir
         |         WHERE rank <= ${graft.operators.Similarity.RecallK}),
         |h AS (SELECT e.query_id, COUNT(*) AS n_hits
         |      FROM exact3 e JOIN ivf3 i
         |        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |      GROUP BY 1),
         |ex AS (SELECT query_id, COUNT(*) AS n_exact FROM exact3 GROUP BY 1)
         |SELECT ex.query_id, ex.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
         |  COALESCE(h.n_hits, 0) * 1000000 // ${graft.operators.Similarity.RecallK} AS recall_ppm
         |FROM ex LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin),

    // Mirrors Relational.latestState: the rank-window formulation selects
    // the identical row the Spark side's max(struct(ts, event_id, value))
    // picks (ts DESC, event_id DESC lexicographic max).
    "x59_latest_state" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events
        |  FROM events)
        |SELECT user_id, event_type, ts AS last_ts,
        |  event_id AS last_event_id, value AS last_value, n_events
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // Mirrors Relational.winsorize. The bounds CTE replicates Spark's
    // Percentile semantics exactly instead of calling quantile_cont:
    // Spark RETURNS THE KEY when the floor/ceil rank neighbors are
    // EQUAL (no interpolation at all), else computes
    // (ceil(p)−p)·v_lo + (p−floor(p))·v_hi. DuckDB always interpolates
    // as the convex combination, which drifts 1 ulp on the equal-key
    // path (sf1 'error' p05: 2.52 vs 2.5200000000000005 — the latent
    // gap the round-9 sf1 gate exposed).
    "x60_winsorize" ->
      s"""WITH sv AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM events),
         |pp AS (SELECT event_type,
         |    CAST(${graft.queries.Relational.WinsorLo} AS DOUBLE) * (n - 1) AS plo,
         |    CAST(${graft.queries.Relational.WinsorHi} AS DOUBLE) * (n - 1) AS phi
         |  FROM sv GROUP BY event_type, n),
         |bv AS (
         |  SELECT pp.event_type, pp.plo, pp.phi,
         |    MIN(CASE WHEN sv.rn = CAST(floor(pp.plo) AS BIGINT) + 1 THEN sv.value END) AS lo1,
         |    MIN(CASE WHEN sv.rn = CAST(ceil(pp.plo) AS BIGINT) + 1 THEN sv.value END) AS lo2,
         |    MIN(CASE WHEN sv.rn = CAST(floor(pp.phi) AS BIGINT) + 1 THEN sv.value END) AS hi1,
         |    MIN(CASE WHEN sv.rn = CAST(ceil(pp.phi) AS BIGINT) + 1 THEN sv.value END) AS hi2
         |  FROM pp JOIN sv USING (event_type)
         |  GROUP BY pp.event_type, pp.plo, pp.phi),
         |b AS (
         |  SELECT event_type,
         |    CASE WHEN lo2 = lo1 THEN lo1
         |         ELSE (ceil(plo) - plo) * lo1 + (plo - floor(plo)) * lo2
         |    END AS lo,
         |    CASE WHEN hi2 = hi1 THEN hi1
         |         ELSE (ceil(phi) - phi) * hi1 + (phi - floor(phi)) * hi2
         |    END AS hi
         |  FROM bv)
         |SELECT e.event_type,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
         |  CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
         |  MIN(b.lo) AS lo, MIN(b.hi) AS hi,
         |  V2D(SUM(DEC6(LEAST(GREATEST(e.value, b.lo), b.hi)))) AS sum_winsorized,
         |  V2D(SUM(DEC6(LEAST(GREATEST(e.value, b.lo), b.hi)))) / CAST(COUNT(*) AS DOUBLE) AS avg_winsorized
         |FROM events e JOIN b USING (event_type)
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    // Mirrors Curation.shuffleShards (epoch 1): the same rolling char
    // hash over the salted doc_id strings, shard by mod, in-shard rank
    // by (order_h, doc_id).
    "x61_shuffle_shards" ->
      s"""WITH a AS (
         |  SELECT doc_id,
         |    ${polyhashSql("'e1:' || CAST(doc_id AS VARCHAR)")} % ${graft.operators.Curation.NumShards} AS shard,
         |    ${polyhashSql("'o1:' || CAST(doc_id AS VARCHAR)")} AS order_h
         |  FROM documents)
         |SELECT doc_id, shard, order_h,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |    ORDER BY order_h, doc_id) AS BIGINT) AS pos
         |FROM a ORDER BY shard, pos""".stripMargin,

    // Mirrors EventAnalytics.retentionCohorts: day-truncated first-seen
    // cohorts, per-(cohort, offset) distinct-active counts, broadcast-back
    // cohort sizes. The (user, day) pre-distinct CTE is the SQL analogue
    // of the Spark side's per-user collect_set.
    "x62_retention" ->
      """WITH pu AS (
        |  SELECT user_id, date_trunc('day', ts) AS day
        |  FROM events GROUP BY 1, 2),
        |fu AS (SELECT user_id, MIN(day) AS cohort_day FROM pu GROUP BY 1),
        |sz AS (SELECT cohort_day, COUNT(*) AS cohort_users FROM fu GROUP BY 1),
        |agg AS (
        |  SELECT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, p.day) AS BIGINT) AS day_offset,
        |    COUNT(*) AS n_active
        |  FROM pu p JOIN fu f USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset,
        |  CAST(a.n_active AS BIGINT) AS n_active,
        |  CAST(s.cohort_users AS BIGINT) AS cohort_users,
        |  CAST(a.n_active AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
        |    AS retention
        |FROM agg a JOIN sz s USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    // Mirrors EventAnalytics.funnel: each stage's first-completion time is
    // the conditional MIN over events of that type strictly after the
    // previous stage's time, chained per user.
    "x63_funnel" -> {
      val Seq(st1, st2, st3) = EventAnalytics.FunnelStages
      s"""WITH s1 AS (
         |  SELECT user_id, MIN(ts) AS t_prev FROM events
         |  WHERE event_type = '$st1' GROUP BY 1),
         |s2 AS (
         |  SELECT e.user_id, MIN(e.ts) AS t_prev
         |  FROM events e JOIN s1 USING (user_id)
         |  WHERE e.event_type = '$st2' AND e.ts > s1.t_prev GROUP BY 1),
         |s3 AS (
         |  SELECT e.user_id, MIN(e.ts) AS t_prev
         |  FROM events e JOIN s2 USING (user_id)
         |  WHERE e.event_type = '$st3' AND e.ts > s2.t_prev GROUP BY 1),
         |c AS (
         |  SELECT 1 AS stage_idx, '$st1' AS stage, COUNT(*) AS n_users FROM s1
         |  UNION ALL SELECT 2, '$st2', COUNT(*) FROM s2
         |  UNION ALL SELECT 3, '$st3', COUNT(*) FROM s3),
         |f AS (SELECT n_users AS n_first FROM c WHERE stage_idx = 1)
         |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
         |  CAST(n_users AS BIGINT) AS n_users,
         |  CAST(n_users AS DOUBLE) / CAST(n_first AS DOUBLE) AS frac_of_first
         |FROM c, f ORDER BY stage_idx""".stripMargin
    },

    // Mirrors EventAnalytics.valueAnomalies: exact decimal Σv/Σv² through
    // the V2D bridge, then the identical double expression tree for
    // mean/sd/z (multiplication, division, and sqrt are all correctly
    // rounded IEEE ops, so both engines produce the same bits).
    "x64_anomaly" ->
      s"""WITH st AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    V2D(SUM(DEC6(value))) AS s1,
         |    V2D(SUM(DEC6(value * value))) AS s2
         |  FROM events GROUP BY 1),
         |m AS (
         |  SELECT event_type,
         |    s1 / CAST(n AS DOUBLE) AS mean,
         |    sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE))
         |      / CAST(n - 1 AS DOUBLE)) AS sd
         |  FROM st)
         |SELECT e.event_id, e.event_type, e.value, m.mean, m.sd,
         |  (e.value - m.mean) / m.sd AS z
         |FROM events e JOIN m USING (event_type)
         |WHERE abs((e.value - m.mean) / m.sd) > ${EventAnalytics.AnomalyZ}
         |ORDER BY e.event_type, e.event_id""".stripMargin,

    // Mirrors Frequency.heavyHitters: the Misra–Gries phases are a pure
    // optimization (candidate superset + exact recount), so the oracle is
    // the naive exact formulation with the same 1/(capacity+1) threshold.
    "x65_heavy_hitters" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
         |  WHERE text IS NOT NULL),
         |bg AS (SELECT unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS term
         |  FROM toks WHERE len(t) >= 2),
         |tot AS (SELECT COUNT(*) AS total FROM bg),
         |c AS (SELECT term, COUNT(*) AS cnt FROM bg GROUP BY 1)
         |SELECT term, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(total AS BIGINT) AS total,
         |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS freq
         |FROM c, tot WHERE cnt * ${Frequency.MgCapacity + 1} > total
         |ORDER BY cnt DESC, term""".stripMargin,

    // Mirrors Frequency.charEntropy: per-count ln quantized to scaled
    // integers (the x43 move), H assembled from exact longs with two
    // final correctly-rounded double ops.
    "x66_char_entropy" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, '') AS chars
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
         |c AS (SELECT doc_id, CAST(len(chars) AS BIGINT) AS n,
         |  list_transform(list_distinct(chars),
         |    ch -> CAST(len(list_filter(chars, x -> x = ch)) AS BIGINT)) AS cnts
         |  FROM d),
         |s AS (SELECT doc_id, n, CAST(len(cnts) AS BIGINT) AS n_distinct_chars,
         |  list_reduce([CAST(0 AS BIGINT)] || list_transform(cnts,
         |    c2 -> c2 * CAST(floor(ln(CAST(c2 AS DOUBLE)) * ${TextAnalysis.IdfScale}.0 + 0.5) AS BIGINT)),
         |    (a, b) -> a + b) AS s_scaled,
         |  CAST(floor(ln(CAST(n AS DOUBLE)) * ${TextAnalysis.IdfScale}.0 + 0.5) AS BIGINT) AS lnn_scaled
         |  FROM c)
         |SELECT doc_id, n AS n_chars, n_distinct_chars,
         |  CAST(lnn_scaled * n - s_scaled AS DOUBLE)
         |    / (${TextAnalysis.IdfScale}.0 * CAST(n AS DOUBLE)) AS entropy_nats
         |FROM s ORDER BY doc_id""".stripMargin,

    // Mirrors Frequency.bm25: idf ln-quantized once per term, each
    // (doc, term) contribution re-quantized before the per-doc integer
    // sum; the scaled integer score is also the rank key. The 2.2 / 1.2
    // / 0.25 / 0.75 literals are parse-identical on both sides.
    "x67_bm25" -> {
      val sc = TextAnalysis.IdfScale
      val qList = Frequency.QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |dd AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM d),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dd),
         |m AS (SELECT doc_id, dl, unnest(t) AS term FROM dd),
         |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM m WHERE term IN ($qList) GROUP BY 1, 2, 3),
         |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |idf AS (SELECT term,
         |  CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |      / (CAST(df AS DOUBLE) + 0.5) + 1.0) * $sc.0 + 0.5) AS BIGINT)
         |    AS idf_scaled,
         |  CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         |  FROM dfq, st),
         |ctr AS (SELECT tf.doc_id,
         |  CAST(floor((CAST(idf_scaled AS DOUBLE) / $sc.0) *
         |    (CAST(tf AS DOUBLE) * 2.2) /
         |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |      (CAST(dl AS DOUBLE) / avgdl))) * $sc.0 + 0.5) AS BIGINT) AS cs
         |  FROM tf JOIN idf USING (term)),
         |sc2 AS (SELECT doc_id, SUM(cs) AS score_scaled,
         |  CAST(COUNT(*) AS BIGINT) AS n_terms_hit FROM ctr GROUP BY 1),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
         |    ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank FROM sc2)
         |SELECT doc_id, CAST(score_scaled AS DOUBLE) / $sc.0 AS score,
         |  n_terms_hit, rank
         |FROM r WHERE rank <= ${Frequency.Bm25TopK} ORDER BY rank""".stripMargin
    },

    // Mirrors Dedup.ngramContainment: x3's candidate CTEs verbatim, only
    // the scoring expression differs (inter / min(|A|,|B|)).
    "x68_containment" -> (shingleCte +
      s""", cap AS (SELECT GREATEST(${graft.operators.Dedup.MaxShingleDf},
         |    CAST(CEIL(COUNT(*) / 100.0) AS BIGINT)) AS df_cap,
         |    COUNT(*) * ${graft.operators.Dedup.MaxCandidateVolumePerDoc}
         |      AS vol_budget
         |  FROM sh WHERE len(sh) > 0),
         |ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS s
         |         FROM sh WHERE len(sh) > 0),
         |dft AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY s),
         |hist AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM dft GROUP BY df),
         |keepmax AS (SELECT COALESCE(MAX(df), 0) AS df_keep FROM (
         |    SELECT df, SUM(cnt * df * df) OVER (ORDER BY df) AS cum
         |    FROM hist), cap
         |  WHERE cum <= cap.vol_budget AND df <= cap.df_cap),
         |cut AS (SELECT doc_id, n, s FROM ex JOIN dft USING (s), keepmax
         |  WHERE dft.df <= keepmax.df_keep),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter,
         |    MAX(a.n) AS n_a, MAX(b.n) AS n_b
         |  FROM cut a JOIN cut b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, n_a, n_b,
         |  CAST(inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE) AS containment
         |FROM inter
         |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE)
         |  >= ${graft.operators.Dedup.ContainmentTau}
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Mirrors CorpusStats.sourceDivergence: JS over common support plus
    // the closed-form ln2·(1−mass) remainder; 2p/(p+q) as the exact
    // integer ratio 2·c_a·t_b/(c_a·t_b + c_b·t_a), ln quantized once per
    // (pair, term), per-pair reductions in exact longs.
    "x69_source_js" -> {
      val sc = TextAnalysis.IdfScale
      val l2 = graft.operators.CorpusStats.Ln2Scaled
      s"""WITH ex AS (SELECT source, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |counts AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ex GROUP BY 1, 2),
         |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
         |  FROM counts GROUP BY 1),
         |side AS (SELECT c.source, c.term, c.c, t.t
         |  FROM counts c JOIN totals t USING (source)),
         |j AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    a.c AS c_a, a.t AS t_a, b.c AS c_b, b.t AS t_b,
         |    a.c * b.t AS u, b.c * a.t AS v
         |  FROM side a JOIN side b
         |    ON a.term = b.term AND a.source < b.source),
         |q AS (
         |  SELECT source_a, source_b, c_a, c_b, t_a, t_b,
         |    CAST(floor(ln(2.0 * CAST(u AS DOUBLE) / CAST(u + v AS DOUBLE))
         |      * $sc.0 + 0.5) AS BIGINT) AS l_a,
         |    CAST(floor(ln(2.0 * CAST(v AS DOUBLE) / CAST(u + v AS DOUBLE))
         |      * $sc.0 + 0.5) AS BIGINT) AS l_b
         |  FROM j),
         |g AS (
         |  SELECT source_a, source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common_terms,
         |    CAST(SUM(c_a * l_a) AS BIGINT) AS sa_scaled,
         |    CAST(SUM(c_b * l_b) AS BIGINT) AS sb_scaled,
         |    CAST(SUM(c_a) AS BIGINT) AS ca_common,
         |    CAST(SUM(c_b) AS BIGINT) AS cb_common,
         |    MAX(t_a) AS t_a, MAX(t_b) AS t_b
         |  FROM q GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common_terms,
         |  (0.5 * ((CAST(sa_scaled AS DOUBLE) / ($sc.0 * CAST(t_a AS DOUBLE)))
         |    + (CAST($l2 AS DOUBLE) / $sc)
         |      * (1.0 - CAST(ca_common AS DOUBLE) / CAST(t_a AS DOUBLE)))) +
         |  (0.5 * ((CAST(sb_scaled AS DOUBLE) / ($sc.0 * CAST(t_b AS DOUBLE)))
         |    + (CAST($l2 AS DOUBLE) / $sc)
         |      * (1.0 - CAST(cb_common AS DOUBLE) / CAST(t_b AS DOUBLE))))
         |  AS js_nats
         |FROM g ORDER BY source_a, source_b""".stripMargin
    },

    // Mirrors CorpusStats.sourceOverlap: distinct (source, 8-gram)
    // projection, ngram-keyed self-join (per-key fanout ≤ |sources|),
    // broadcast-back per-source set sizes.
    "x70_source_overlap" -> {
      val w = graft.operators.CorpusStats.OverlapNgram
      s"""WITH d AS (SELECT source, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT DISTINCT source,
         |    unnest(list_transform(range(1, len(t) - ${w - 2}),
         |      i -> array_to_string(list_slice(t, i, i + ${w - 1}), ' '))) AS g
         |  FROM d WHERE len(t) >= $w),
         |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE)
         |    AS jaccard
         |FROM p JOIN s sa ON sa.source = p.source_a
         |       JOIN s sb ON sb.source = p.source_b
         |ORDER BY source_a, source_b""".stripMargin
    },

    // Mirrors CorpusStats.skipgramCooc: ordered (center, context) pairs
    // within the window via a per-row nested range transform.
    "x71_skipgram_cooc" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
         |  WHERE text IS NOT NULL),
         |p AS (SELECT unnest(flatten(list_transform(range(1, len(t)),
         |    i -> list_transform(
         |      range(i + 1, least(i + ${graft.operators.CorpusStats.CoocWindow}, len(t)) + 1),
         |      j -> {'w1': t[i], 'w2': t[j]})))) AS p
         |  FROM d WHERE len(t) >= 2)
         |SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM p GROUP BY 1, 2
         |HAVING COUNT(*) >= ${graft.operators.CorpusStats.MinCooc}
         |ORDER BY cnt DESC, w1, w2""".stripMargin,

    // x72 = q14's semantics through the streaming operator's batch path:
    // the oracle is q14's window formulation itself — the stateful
    // operator must reproduce it exactly (ordering, gap rule, decimal
    // sum) for the hash compare to hold.
    "x72_stream_sessions" -> sessionizeSql,

    // Mirrors Quantization.pcaPower: the x38 exact-integer moment pass
    // (HUGEINT here ≡ DECIMAL(38,0) there), dense-matrix assembly, and
    // the IDENTICAL unrolled power steps — every fold is
    // list_reduce([0.0] || products-in-index-order) ≡ Spark's
    // aggregate-over-zip_with left fold, so the eigenvector is
    // bit-identical, not approximately equal.
    "x73_pca_power" -> {
      val d = graft.operators.Quantization.Dim
      val sc = graft.operators.Quantization.CovScale
      s"""WITH $pcaCtes,
         |fin AS (SELECT n_vecs, u, ${pcaMatvecSql("u")} AS wu FROM un),
         |ev AS (
         |  SELECT n_vecs, u,
         |    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(
         |        range(1, ${d + 1}), k -> u[k] * wu[k]), (acc, x) -> acc + x)
         |      / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE))
         |      / ${sc.toDouble * sc.toDouble} AS eigenvalue
         |  FROM fin)
         |SELECT CAST(kk.k - 1 AS BIGINT) AS dim, u[kk.k] AS u_comp,
         |  eigenvalue, n_vecs
         |FROM ev CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS k) kk
         |ORDER BY dim""".stripMargin
    },

    // Mirrors Quantization.pcaProject: mean-centered dot with the x73
    // eigenvector, per-element (x − μ)·u products folded in index order.
    "x74_pca_project" -> {
      val d = graft.operators.Quantization.Dim
      val sc = graft.operators.Quantization.CovScale
      s"""WITH $pcaCtes,
         |ms AS (SELECT list(mean_i ORDER BY i) AS means
         |       FROM (SELECT ds.i,
         |               V2D(ds.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE) AS mean_i
         |             FROM ds CROSS JOIN n)),
         |proj AS (
         |  SELECT e.vec_id,
         |    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(
         |        range(1, ${d + 1}),
         |        k -> (CAST(e.embedding[k] AS DOUBLE) - ms.means[k]) * un.u[k]),
         |      (acc, x) -> acc + x) AS coord
         |  FROM embeddings e CROSS JOIN un CROSS JOIN ms)
         |SELECT vec_id, coord FROM proj ORDER BY vec_id""".stripMargin
    },

    // Mirrors Curation.exactDecontaminate: distinct 40-char benchmark
    // prefixes, verbatim containment per training doc.
    "x75_exact_decontaminate" -> {
      val b = graft.operators.Curation.BenchmarkDocs
      val pc = graft.operators.Curation.PatternChars
      s"""WITH pats AS (
         |  SELECT DISTINCT substring(text, 1, $pc) AS p
         |  FROM documents
         |  WHERE doc_id < $b AND text IS NOT NULL AND length(text) >= $pc),
         |hits AS (
         |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents d JOIN pats ON contains(d.text, pats.p)
         |  WHERE d.doc_id >= $b AND d.text IS NOT NULL
         |  GROUP BY d.doc_id)
         |SELECT d.doc_id,
         |  coalesce(h.n, CAST(0 AS BIGINT)) AS n_patterns_hit,
         |  coalesce(h.n, CAST(0 AS BIGINT)) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id >= $b AND d.text IS NOT NULL
         |ORDER BY d.doc_id""".stripMargin
    },

    // Mirrors Frequency.zipfFit: per-source top-K term ranks, ln-quantized
    // regression moments as exact decimals, one correctly-rounded division.
    "x76_zipf_fit" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      val k = graft.operators.Frequency.ZipfTopK
      s"""WITH t AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM t GROUP BY 1, 2),
         |r AS (SELECT source, cnt,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY cnt DESC, term) AS rank
         |      FROM c),
         |q AS (SELECT source,
         |        CAST(floor(ln(CAST(rank AS DOUBLE)) * $sc.0 + 0.5) AS BIGINT) AS x,
         |        CAST(floor(ln(CAST(cnt AS DOUBLE)) * $sc.0 + 0.5) AS BIGINT) AS y
         |      FROM r WHERE rank <= $k),
         |m AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_top_terms,
         |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |        SUM(CAST(x AS HUGEINT) * x) AS sxx
         |      FROM q GROUP BY 1)
         |SELECT source, n_top_terms,
         |  -(V2D(n_top_terms * sxy - sx * sy)
         |    / V2D(n_top_terms * sxx - sx * sx)) AS zipf_exponent
         |FROM m ORDER BY source""".stripMargin
    },

    // Mirrors Quantization.embeddingOutliers: x45's quantized moment
    // dance, per-vector fixed-order Σz² fold, top-K by (score DESC, vec_id).
    "x77_embedding_outliers" -> {
      val sc = graft.operators.Quantization.CovScale
      val d = graft.operators.Quantization.Dim
      val k = graft.operators.Quantization.OutlierTopK
      s"""WITH s AS (
         |  SELECT vec_id, ix.i - 1 AS i,
         |    CAST(floor(CAST(embedding[ix.i] AS DOUBLE) * $sc + 0.5) AS BIGINT) AS sv
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) ix),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
         |st AS (
         |  SELECT i, SUM(DEC0(sv)) AS sum_i,
         |    SUM(DEC0(sv * sv)) AS sumsq_i
         |  FROM s GROUP BY 1),
         |mv AS (
         |  SELECT i,
         |    V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE) AS mean_i,
         |    V2D(st.sumsq_i) / (CAST($sc AS DOUBLE) * CAST($sc AS DOUBLE))
         |      / CAST(n.n_vecs AS DOUBLE)
         |      - (V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE))
         |        * (V2D(st.sum_i) / $sc.0 / CAST(n.n_vecs AS DOUBLE)) AS var_i
         |  FROM st CROSS JOIN n),
         |ar AS (SELECT list(mean_i ORDER BY i) AS means,
         |              list(var_i ORDER BY i) AS vars FROM mv),
         |sv AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * $sc + 0.5) AS BIGINT)) AS sarr
         |  FROM embeddings),
         |sc2 AS (
         |  SELECT vec_id,
         |    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(
         |      range(1, ${d + 1}),
         |      kk -> CASE WHEN ar.vars[kk] <= 0.0 THEN 0.0
         |            ELSE (CAST(sv.sarr[kk] AS DOUBLE) / $sc.0 - ar.means[kk])
         |               * (CAST(sv.sarr[kk] AS DOUBLE) / $sc.0 - ar.means[kk])
         |               / ar.vars[kk] END),
         |      (acc, x) -> acc + x) AS score
         |  FROM sv CROSS JOIN ar),
         |top AS (SELECT vec_id, score FROM sc2
         |        ORDER BY score DESC, vec_id LIMIT $k)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
         |    AS rank, vec_id, score
         |FROM top ORDER BY rank""".stripMargin
    },

    // Mirrors Curation.stratifiedSample: all-integer micro-rate threshold
    // on the content polyhash, balanced to the smallest stratum.
    "x78_stratified_sample" ->
      s"""WITH d AS (SELECT doc_id, source, text FROM documents
         |           WHERE text IS NOT NULL),
         |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
         |mn AS (SELECT MIN(n_s) AS min_count FROM c),
         |t AS (SELECT source, min_count * 1000000 // n_s AS thr
         |      FROM c CROSS JOIN mn)
         |SELECT d.doc_id, d.source,
         |  ${polyhashSql("d.text")} % 1000000 AS bucket, t.thr
         |FROM d JOIN t USING (source)
         |WHERE ${polyhashSql("d.text")} % 1000000 < t.thr
         |ORDER BY d.doc_id""".stripMargin,

    // Mirrors TextAnalysis.quantileCalibrate: histogram-cumsum exact
    // per-source P25 threshold, integer ceiling, keep verdict per doc.
    "x79_quantile_calibrate" -> {
      val pct = graft.operators.TextAnalysis.CalibratePct
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT source, n_tokens, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM d GROUP BY 1, 2),
         |w AS (SELECT source, n_tokens,
         |        SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
         |        SUM(c) OVER (PARTITION BY source) AS n_s
         |      FROM h),
         |t AS (SELECT source, MIN(n_tokens) AS threshold
         |      FROM w WHERE cum >= (n_s * $pct + 99) // 100
         |      GROUP BY source)
         |SELECT d.doc_id, d.source, d.n_tokens, t.threshold,
         |  d.n_tokens >= t.threshold AS keep
         |FROM d JOIN t USING (source)
         |ORDER BY d.doc_id""".stripMargin
    },

    // Mirrors Dedup.passageDedup: 16-token non-overlapping passages,
    // first-occurrence winner per passage hash, per-doc survival stats.
    "x80_passage_dedup" -> {
      val pt = graft.operators.Dedup.PassageTokens
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |p AS (
         |  SELECT doc_id, start, CAST((start - 1) // $pt AS BIGINT) AS pid,
         |    ${polyhashSql(s"array_to_string(toks[start : start + ${pt - 1}], ' ')")} AS h
         |  FROM (SELECT doc_id, toks,
         |          unnest(range(1, len(toks) + 1, $pt)) AS start
         |        FROM t)),
         |w AS (SELECT doc_id, h,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pid) AS rn
         |      FROM p),
         |k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
         |      FROM w WHERE rn = 1 GROUP BY 1),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages
         |        FROM p GROUP BY 1)
         |SELECT tot.doc_id, tot.n_passages,
         |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |  CAST(tot.n_passages - coalesce(k.n_kept, 0) AS DOUBLE)
         |    / CAST(tot.n_passages AS DOUBLE) AS removed_frac
         |FROM tot LEFT JOIN k USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.importanceSelect: target-vs-background add-1
    // unigram LMs out of one conditional aggregate, per-term ratio as an
    // integer difference of separately-quantized lns.
    "x81_importance_select" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      val tl = graft.operators.TextAnalysis.ImportanceTargetLang
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cb,
         |        CAST(COUNT(*) FILTER (lang = '$tl') AS BIGINT) AS ct
         |      FROM ex GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS tb,
         |          CAST(SUM(ct) AS BIGINT) AS tt,
         |          CAST(COUNT(*) AS BIGINT) AS v FROM c),
         |lm AS (
         |  SELECT term,
         |    CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))
         |      * $sc + 0.5) AS BIGINT)
         |    - CAST(floor(ln(CAST(cb + 1 AS DOUBLE) / CAST(tb + v AS DOUBLE))
         |      * $sc + 0.5) AS BIGINT) AS lw_scaled
         |  FROM c CROSS JOIN tot),
         |s AS (
         |  SELECT e.doc_id, e.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(lw_scaled) AS BIGINT) AS s
         |  FROM ex e JOIN lm USING (term) GROUP BY 1, 2)
         |SELECT doc_id, lang, n_tokens,
         |  CAST(s AS DOUBLE) / $sc.0 / CAST(n_tokens AS DOUBLE) AS importance,
         |  CAST(s AS DOUBLE) / $sc.0 / CAST(n_tokens AS DOUBLE) > 0.0
         |    AS selected
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.weightedSample: content-hash uniform draw,
    // Efraimidis-Spirakis key ln(u)/w as one division of exact integers.
    "x82_weighted_sample" -> {
      val us = graft.operators.Curation.SampleUScale
      val k = graft.operators.Curation.SampleK
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
         |    (${polyhashSql("text")} % $us) + 1 AS u_scaled
         |  FROM documents WHERE text IS NOT NULL),
         |ky AS (
         |  SELECT doc_id, source, weight,
         |    CAST(floor(ln(CAST(u_scaled AS DOUBLE) / $us.0) * $us + 0.5)
         |      AS BIGINT) AS lnu
         |  FROM d),
         |top AS (
         |  SELECT doc_id, source, weight,
         |    CAST(lnu AS DOUBLE) / CAST(weight AS DOUBLE) AS es_key
         |  FROM ky ORDER BY es_key DESC, doc_id LIMIT $k)
         |SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, source, weight, es_key
         |FROM top ORDER BY rank""".stripMargin
    },

    // Mirrors TextAnalysis.langMixture: x10's marker CASE per 8-token
    // window, per-doc fold with (count DESC, lang ASC) dominant tie-break.
    "x83_lang_mixture" -> {
      val mw = graft.operators.TextAnalysis.MixWindow
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id, toks,
         |        unnest(range(1, len(toks) + 1, $mw)) AS start
         |      FROM t),
         |sc AS (
         |  SELECT doc_id,
         |    len(list_filter(toks[start : start + ${mw - 1}],
         |      x -> x IN ('the', 'is', 'and', 'of'))) AS s_en,
         |    len(list_filter(toks[start : start + ${mw - 1}],
         |      x -> x IN ('der', 'die', 'das', 'und'))) AS s_de,
         |    len(list_filter(toks[start : start + ${mw - 1}],
         |      x -> x IN ('el', 'la', 'los', 'y'))) AS s_es,
         |    len(list_filter(toks[start : start + ${mw - 1}],
         |      x -> x IN ('le', 'les', 'et', 'un'))) AS s_fr
         |  FROM w),
         |wl AS (
         |  SELECT doc_id,
         |    CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
         |         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END AS wlang
         |  FROM sc),
         |c AS (SELECT doc_id, wlang, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM wl GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_windows,
         |          CAST(COUNT(*) FILTER (wlang <> 'und') AS BIGINT) AS n_langs
         |        FROM c GROUP BY 1),
         |dom AS (SELECT doc_id, wlang,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY cnt DESC, wlang) AS rn
         |        FROM c WHERE wlang <> 'und')
         |SELECT agg.doc_id, agg.n_windows, agg.n_langs,
         |  coalesce(d1.wlang, 'und') AS dominant_lang,
         |  agg.n_langs >= 2 AS mixed
         |FROM agg LEFT JOIN (SELECT doc_id, wlang FROM dom WHERE rn = 1) d1
         |  USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.bigramLm: budgeted top-count bigram table with
    // (count DESC, w1, w2) cut, stupid backoff through the unigram LM.
    "x84_bigram_lm" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      val bb = graft.operators.TextAnalysis.BigramBudget
      val bo = graft.operators.TextAnalysis.BackoffLnScaled
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
         |bg AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |        FROM t)),
         |uni AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
         |    SELECT w1 AS term FROM bg
         |    UNION ALL SELECT toks[len(toks)] AS term FROM t)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS tt FROM uni),
         |lm1 AS (
         |  SELECT term, CAST(floor(ln(CAST(c1 AS DOUBLE) / CAST(tt AS DOUBLE))
         |    * $sc + 0.5) AS BIGINT) AS lp1
         |  FROM uni CROSS JOIN tot),
         |bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         |        FROM bg GROUP BY 1, 2
         |        ORDER BY c12 DESC, w1, w2 LIMIT $bb),
         |lm2 AS (
         |  SELECT bgc.w1, bgc.w2,
         |    CAST(floor(ln(CAST(c12 AS DOUBLE) / CAST(uni.c1 AS DOUBLE))
         |      * $sc + 0.5) AS BIGINT) AS lp2
         |  FROM bgc JOIN uni ON bgc.w1 = uni.term),
         |s AS (
         |  SELECT bg.doc_id, coalesce(lm2.lp2, $bo + lm1.lp1) AS lp
         |  FROM bg LEFT JOIN lm2 ON bg.w1 = lm2.w1 AND bg.w2 = lm2.w2
         |  JOIN lm1 ON bg.w2 = lm1.term)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(lp) AS DOUBLE) / $sc.0 / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_logprob
         |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    // Mirrors TopKStream.windowTopK (batch flavor): exact per-hour
    // top-8 event types, ties (count DESC, type ASC) — the MG summary is
    // exact below its 64-key capacity (see MgK scaladoc).
    "x85_window_topk" -> {
      val k = graft.streaming.TopKStream.TopK
      s"""WITH c AS (
         |  SELECT date_trunc('hour', ts) AS window_start, event_type,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events WHERE event_type IS NOT NULL
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT window_start, event_type, n_events,
         |    CAST(row_number() OVER (PARTITION BY window_start
         |      ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
         |  FROM c)
         |SELECT window_start, rank, event_type, n_events
         |FROM r WHERE rank <= $k
         |ORDER BY window_start, rank""".stripMargin
    },

    // Mirrors Curation.tokenBudget: sorted-prefix water-filling level,
    // all integer arithmetic over the source-bounded aggregate.
    "x86_token_budget" -> {
      val pct = graft.operators.Curation.BudgetPct
      s"""WITH d AS (
         |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens
         |      FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         |        CAST(COUNT(*) AS BIGINT) AS s FROM c),
         |r AS (
         |  SELECT c.n_tokens,
         |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT)
         |      AS rn,
         |    coalesce(SUM(n_tokens) OVER (ORDER BY n_tokens, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_prev,
         |    lag(n_tokens) OVER (ORDER BY n_tokens, source) AS prev_n,
         |    t.total, t.s
         |  FROM c CROSS JOIN t),
         |l AS (
         |  SELECT MIN(((total * $pct) // 100 - cum_prev) // (s - rn + 1))
         |      AS lambda
         |  FROM r
         |  WHERE (rn = 1 OR
         |      ((total * $pct) // 100 - cum_prev) // (s - rn + 1) >= prev_n)
         |    AND ((total * $pct) // 100 - cum_prev) // (s - rn + 1) < n_tokens)
         |SELECT c.source, c.n_tokens,
         |  CAST(least(c.n_tokens, coalesce(l.lambda, c.n_tokens)) AS BIGINT)
         |    AS quota,
         |  least(c.n_tokens, coalesce(l.lambda, c.n_tokens)) < c.n_tokens
         |    AS capped
         |FROM c CROSS JOIN l ORDER BY c.source""".stripMargin
    },

    // Mirrors Curation.cdcChunkStats: per-position trailing-window
    // polyhash cut predicate, chunk stats from cut diffs + the tail.
    "x87_cdc_chunks" -> {
      val w = graft.expressions.CdcChunks.Window
      val m = 1L << graft.expressions.CdcChunks.MaskBits
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1),
         |c AS (
         |  SELECT doc_id, n, j
         |  FROM (SELECT doc_id, n, text,
         |          unnest(range($w, GREATEST(n, $w))) AS j
         |        FROM d)
         |  WHERE ${polyhashSql(s"substring(text, CAST(j - ${w - 1} AS INTEGER), $w)")} % $m = 0),
         |l AS (
         |  SELECT doc_id, n,
         |    j - coalesce(lag(j) OVER (PARTITION BY doc_id ORDER BY j), 0)
         |      AS len,
         |    n - j AS tail_len,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY j DESC) AS rd
         |  FROM c),
         |alllens AS (
         |  SELECT doc_id, len FROM l
         |  UNION ALL SELECT doc_id, tail_len AS len FROM l WHERE rd = 1),
         |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |         CAST(MAX(len) AS BIGINT) AS max_chunk
         |       FROM alllens GROUP BY 1)
         |SELECT d.doc_id, d.n AS n_chars,
         |  coalesce(st.n_chunks, CAST(1 AS BIGINT)) AS n_chunks,
         |  coalesce(st.max_chunk, d.n) AS max_chunk,
         |  CAST(d.n AS DOUBLE)
         |    / CAST(coalesce(st.n_chunks, CAST(1 AS BIGINT)) AS DOUBLE)
         |    AS avg_chunk_chars
         |FROM d LEFT JOIN st USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.luhnPan: RE2 digit-run extraction + the same
    // right-indexed Luhn fold as a DuckDB list_reduce.
    "x88_luhn_pan" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '[0-9]{13,19}', 0) AS runs
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  CAST(len(runs) AS BIGINT) AS n_digit_runs,
        |  CAST(len(list_filter(runs, r ->
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, length(r) + 1), p ->
        |        CASE WHEN p % 2 = 0 THEN
        |          (CASE WHEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) > 9
        |                THEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) - 9
        |                ELSE 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) END)
        |        ELSE ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48 END),
        |      (a, b) -> a + b) % 10 = 0)) AS BIGINT) AS n_luhn_valid,
        |  CAST(len(list_filter(runs, r ->
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, length(r) + 1), p ->
        |        CASE WHEN p % 2 = 0 THEN
        |          (CASE WHEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) > 9
        |                THEN 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) - 9
        |                ELSE 2 * (ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48) END)
        |        ELSE ascii(substring(r, CAST(length(r) - p + 1 AS INTEGER), 1)) - 48 END),
        |      (a, b) -> a + b) % 10 = 0)) AS BIGINT) > 0 AS has_pan
        |FROM d ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.vocabCoverage: rank over the vocab aggregate,
    // 4-point coverage curve from conditional exact sums.
    "x89_vocab_coverage" -> {
      val ks = graft.operators.TextAnalysis.CoverageSizes.mkString(", ")
      s"""WITH t AS (
         |  SELECT unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
         |r AS (SELECT cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
         |          AS rank
         |      FROM c),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM c),
         |ks AS (SELECT CAST(unnest([$ks]) AS BIGINT) AS vocab_size)
         |SELECT ks.vocab_size,
         |  CAST(SUM(CASE WHEN r.rank <= ks.vocab_size THEN r.cnt ELSE 0 END)
         |    AS BIGINT) AS covered_tokens,
         |  tot.total_tokens,
         |  CAST(SUM(CASE WHEN r.rank <= ks.vocab_size THEN r.cnt ELSE 0 END)
         |    AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE) AS coverage
         |FROM ks CROSS JOIN r CROSS JOIN tot
         |GROUP BY ks.vocab_size, tot.total_tokens
         |ORDER BY ks.vocab_size""".stripMargin
    },

    // Mirrors Similarity.clusterQuality: kmeansCte's final-round
    // membership (m<N>) scored against the FINAL centroids (c<N>) via
    // the decimal-bridge mean; separation = max cosine over the K×K
    // centroid pairs.
    "x90_cluster_quality" -> (unitCte + kmeansCte + {
      val it = graft.operators.Similarity.KmeansIters
      s""", q AS (
         |  SELECT m.cell, ${dotUnitSql("m.u", "c.cu")} AS cos_own
         |  FROM m$it m JOIN c$it c ON m.cell = c.cid),
         |own AS (
         |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
         |    V2D(SUM(DEC6(cos_own))) / CAST(COUNT(*) AS DOUBLE) AS mean_cos
         |  FROM q GROUP BY 1),
         |sep AS (
         |  SELECT a.cid AS cell, MAX(${dotUnitSql("a.cu", "b.cu")})
         |      AS nearest_other_cos
         |  FROM c$it a JOIN c$it b ON a.cid <> b.cid GROUP BY 1)
         |SELECT cell AS cid, n_members, mean_cos, nearest_other_cos
         |FROM own JOIN sep USING (cell)
         |ORDER BY cid""".stripMargin
    }),

    // Mirrors EventAnalytics.eventTransitions: per-user lead() in q14's
    // (ts, event_id) total order, |types|²-bounded counts, exact-long
    // conditional probabilities.
    "x91_event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT)
        |        AS n_transitions
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT)
        |        AS from_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n_transitions, t.from_total,
        |  CAST(c.n_transitions AS DOUBLE) / CAST(t.from_total AS DOUBLE)
        |    AS p_transition
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // Mirrors Dedup.dupDegreeHistogram: x5's banded pair relation
    // (identical CTEs), endpoint degree fold, degree-0 fill from the
    // corpus id column.
    "x92_dup_degrees" -> (simhashCte +
      s""", bands AS (
         |  SELECT doc_id, simhash, p.c, (simhash >> (p.c * 16)) & 65535 AS chunk
         |  FROM sig, (SELECT unnest(range(0, 4)) AS c) p
         |), kept AS (
         |  SELECT c, chunk FROM bands GROUP BY c, chunk
         |  HAVING COUNT(*) <= ${graft.operators.Dedup.MaxBandBucket}
         |), cb AS (
         |  SELECT b.doc_id, b.simhash, b.c, b.chunk
         |  FROM bands b JOIN kept USING (c, chunk)
         |), pr AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cb a JOIN cb b ON a.c = b.c AND a.chunk = b.chunk
         |    AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), dg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT doc_a AS doc_id FROM pr
         |        UNION ALL SELECT doc_b AS doc_id FROM pr)
         |  GROUP BY 1)
         |SELECT coalesce(dg.degree, CAST(0 AS BIGINT)) AS degree,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM documents d LEFT JOIN dg USING (doc_id)
         |GROUP BY 1 ORDER BY degree""".stripMargin),

    // Mirrors CorpusStats.bigramEntropy: per-source bigram counts, the
    // w1-marginal from the same aggregate, exact decimal entropy sum of
    // c12·lnq products.
    "x93_bigram_entropy" -> {
      val sc = graft.operators.TextAnalysis.IdfScale
      s"""WITH t AS (
         |  SELECT source, string_split(text, ' ') AS toks
         |  FROM documents
         |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
         |bg AS (
         |  SELECT source, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
         |        FROM t)),
         |c12 AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         |        FROM bg GROUP BY 1, 2, 3),
         |c1 AS (SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1, 2),
         |q AS (
         |  SELECT c12.source, c12.c12,
         |    CAST(floor(ln(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
         |      * $sc + 0.5) AS BIGINT) AS lnq
         |  FROM c12 JOIN c1 USING (source, w1))
         |SELECT source, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
         |  -(V2D(SUM(DEC0(c12 * lnq))) / $sc.0
         |    / CAST(SUM(c12) AS DOUBLE)) AS cond_entropy
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    },

    // Mirrors Curation.qualityGate2: the x79/x87/x88 sub-oracles with
    // g-prefixed CTEs, conjunction verdict (the x44 composition pattern).
    "x94_quality_gate2" -> {
      val mc = graft.operators.Curation.MaxChunkGate
      s"""WITH ${qualityGateCtes("documents")}
         |SELECT gd.doc_id, gd.source, gd.n_tokens,
         |  coalesce(gmx.max_chunk, gd.n) AS max_chunk,
         |  gp.n_luhn_valid,
         |  gd.n_tokens >= gt.threshold AND gp.n_luhn_valid = 0
         |    AND coalesce(gmx.max_chunk, gd.n) <= $mc AS keep
         |FROM gd LEFT JOIN gmx USING (doc_id) JOIN gp USING (doc_id)
         |  JOIN gt USING (source)
         |ORDER BY gd.doc_id""".stripMargin
    },

    // Mirrors Multimodal.mediaDups: per-blob 64-bit aHash (64 index
    // buckets thresholded against the global mean, exact integer
    // comparison — graft.expressions.AHash64), then x5's banded Hamming
    // pairing within media_type folded to a per-blob partner degree.
    // Bit 63 is the BIGINT sign bit and DuckDB overflow-checks
    // `1 << 63`, so it adds the min-long literal instead (the
    // simhashCte device).
    "x95_media_dups" -> {
      val cap = graft.operators.Dedup.MaxBandBucket
      s"""WITH ${blobBytesCte("WHERE text IS NOT NULL")},
         |md AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio'
         |         ELSE 'video' END AS media_type,
         |    vals, n
         |  FROM bb),
         |ch AS (
         |  SELECT doc_id, n, vals[u.i] AS v, ((u.i - 1) * 64) // n AS b
         |  FROM md, unnest(range(1, n + 1)) AS u(i)),
         |tot AS (SELECT doc_id, SUM(v) AS total FROM ch GROUP BY 1),
         |bu AS (SELECT doc_id, b, SUM(v) AS s, COUNT(*) AS c
         |       FROM ch GROUP BY 1, 2),
         |hot AS (
         |  SELECT bu.doc_id, bu.b
         |  FROM bu JOIN tot USING (doc_id)
         |    JOIN md USING (doc_id)
         |  WHERE bu.s * md.n > tot.total * bu.c),
         |asig AS (
         |  SELECT md.doc_id, md.media_type,
         |    CAST(COALESCE(SUM(CASE WHEN hot.b IS NULL THEN 0
         |      WHEN hot.b = 63 THEN -9223372036854775807 - 1
         |      ELSE CAST(1 AS BIGINT) << hot.b END), 0) AS BIGINT) AS ahash
         |  FROM md LEFT JOIN hot USING (doc_id)
         |  GROUP BY 1, 2),
         |bands AS (
         |  SELECT doc_id, media_type, ahash, p.c,
         |    (ahash >> (p.c * 16)) & 65535 AS chunk
         |  FROM asig, (SELECT unnest(range(0, 4)) AS c) p),
         |kept AS (
         |  SELECT c, chunk, media_type FROM bands
         |  GROUP BY c, chunk, media_type HAVING COUNT(*) <= $cap),
         |cb AS (
         |  SELECT b.doc_id, b.media_type, b.ahash, b.c, b.chunk
         |  FROM bands b JOIN kept USING (c, chunk, media_type)),
         |prs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cb a JOIN cb b ON a.c = b.c AND a.chunk = b.chunk
         |    AND a.media_type = b.media_type AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
         |deg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners FROM (
         |    SELECT doc_a AS doc_id FROM prs
         |    UNION ALL SELECT doc_b AS doc_id FROM prs)
         |  GROUP BY 1)
         |SELECT asig.doc_id, asig.media_type, asig.ahash,
         |  COALESCE(deg.n_partners, 0) AS n_partners
         |FROM asig LEFT JOIN deg USING (doc_id)
         |ORDER BY asig.doc_id""".stripMargin
    },

    // Mirrors Multimodal.videoFrameDups: fixed 32-BYTE frame slices of
    // video blobs, per-frame aHash (the x95 bucketing per SLICE — frame
    // length L ≤ 32 keeps every bucket index ≤ 62, so no sign-bit
    // device is needed), DF-capped exact-hash pairing, integer
    // containment test 2m ≥ min(nd_a, nd_b).
    "x96_video_frame_dups" -> {
      val cap = graft.operators.Dedup.MaxBandBucket
      val fs = graft.operators.Multimodal.FrameSliceBytes
      val mm = graft.operators.Multimodal.MinFrameMatches
      s"""WITH ${blobBytesCte("WHERE text IS NOT NULL AND doc_id % 3 = 2")},
         |v AS (SELECT doc_id, vals, n FROM bb),
         |ch AS (
         |  SELECT doc_id, (u.i - 1) // $fs AS f,
         |    LEAST($fs, n - ((u.i - 1) // $fs) * $fs) AS L,
         |    (((u.i - 1) % $fs) * 64) // LEAST($fs, n - ((u.i - 1) // $fs) * $fs) AS b,
         |    vals[u.i] AS val
         |  FROM v, unnest(range(1, n + 1)) AS u(i)),
         |ft AS (SELECT doc_id, f, MAX(L) AS L, SUM(val) AS total
         |       FROM ch GROUP BY 1, 2),
         |bu AS (SELECT doc_id, f, b, SUM(val) AS s, COUNT(*) AS c
         |       FROM ch GROUP BY 1, 2, 3),
         |fh AS (
         |  SELECT bu.doc_id, bu.f,
         |    SUM(CASE WHEN bu.s * ft.L > ft.total * bu.c
         |        THEN (CAST(1 AS BIGINT) << bu.b) ELSE 0 END) AS fh
         |  FROM bu JOIN ft USING (doc_id, f) GROUP BY 1, 2),
         |st AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
         |    CAST(COUNT(DISTINCT fh) AS BIGINT) AS n_distinct_frames,
         |    CAST(BIT_XOR(DISTINCT fh) AS BIGINT) AS frame_digest
         |  FROM fh GROUP BY 1),
         |sg AS (SELECT DISTINCT doc_id, fh FROM fh),
         |kp AS (SELECT fh FROM sg GROUP BY 1 HAVING COUNT(*) <= $cap),
         |ct AS (SELECT sg.doc_id, sg.fh FROM sg JOIN kp USING (fh)),
         |nd AS (SELECT doc_id, COUNT(*) AS nd FROM sg GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS m
         |  FROM ct a JOIN ct b ON a.fh = b.fh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |mt AS (
         |  SELECT pr.doc_a, pr.doc_b
         |  FROM pr JOIN nd na ON na.doc_id = pr.doc_a
         |    JOIN nd nb ON nb.doc_id = pr.doc_b
         |  WHERE pr.m >= $mm AND pr.m * 2 >= LEAST(na.nd, nb.nd)),
         |dg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners FROM (
         |    SELECT doc_a AS doc_id FROM mt
         |    UNION ALL SELECT doc_b AS doc_id FROM mt)
         |  GROUP BY 1)
         |SELECT st.doc_id, st.n_frames, st.n_distinct_frames,
         |  st.frame_digest, COALESCE(dg.n_partners, 0) AS n_partners
         |FROM st LEFT JOIN dg USING (doc_id)
         |ORDER BY st.doc_id""".stripMargin
    },

    // Mirrors Multimodal.audioLandmarkDups: x87's CDC boundary rule →
    // chunk (start, len) relation, per-chunk polyhash landmarks
    // (len ≥ MinLandmarkBytes), DF-capped (lhash, len) bucket join with
    // an offset-delta vote histogram; pairs need >= LandmarkVotes votes
    // at ONE delta.
    "x97_audio_landmarks" -> {
      val w = graft.expressions.CdcChunks.Window
      val m = 1L << graft.expressions.CdcChunks.MaskBits
      val minL = graft.operators.Multimodal.MinLandmarkBytes
      val votes = graft.operators.Multimodal.LandmarkVotes
      val cap = graft.operators.Dedup.MaxBandBucket
      s"""WITH ${blobBytesCte("WHERE text IS NOT NULL AND doc_id % 3 = 1")},
         |a AS (SELECT doc_id, vals, n FROM bb),
         |bd AS (
         |  SELECT doc_id, j
         |  FROM (SELECT doc_id, vals, n,
         |          unnest(range($w, GREATEST(n, $w))) AS j
         |        FROM a)
         |  WHERE ${bytePolySql(s"vals[CAST(j - ${w - 1} AS INTEGER):CAST(j AS INTEGER)]")} % $m = 0),
         |l AS (
         |  SELECT bd.doc_id, a.n, bd.j,
         |    COALESCE(lag(bd.j) OVER (PARTITION BY bd.doc_id ORDER BY bd.j), 0)
         |      AS start,
         |    bd.j - COALESCE(lag(bd.j) OVER (PARTITION BY bd.doc_id ORDER BY bd.j), 0)
         |      AS len,
         |    row_number() OVER (PARTITION BY bd.doc_id ORDER BY bd.j DESC) AS rd
         |  FROM bd JOIN a USING (doc_id)),
         |ck AS (
         |  SELECT doc_id, start, len FROM l
         |  UNION ALL SELECT doc_id, j AS start, n - j AS len FROM l WHERE rd = 1
         |  UNION ALL SELECT a.doc_id, 0 AS start, a.n AS len
         |    FROM a LEFT JOIN (SELECT DISTINCT doc_id FROM bd) h USING (doc_id)
         |    WHERE h.doc_id IS NULL),
         |lh AS (
         |  SELECT ck.doc_id, CAST(ck.start AS BIGINT) AS start,
         |    CAST(ck.len AS BIGINT) AS len,
         |    ${bytePolySql("a.vals[CAST(ck.start + 1 AS INTEGER):CAST(ck.start + ck.len AS INTEGER)]")} AS lhash
         |  FROM ck JOIN a USING (doc_id)),
         |st AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |    CAST(COUNT(CASE WHEN len >= $minL THEN 1 END) AS BIGINT)
         |      AS n_landmarks,
         |    CAST(COALESCE(SUM(CASE WHEN len >= $minL THEN lhash END), 0)
         |      AS BIGINT) AS lm_digest
         |  FROM lh GROUP BY 1),
         |mk AS (SELECT doc_id, start, len, lhash FROM lh WHERE len >= $minL),
         |kp AS (SELECT lhash, len FROM mk GROUP BY 1, 2
         |       HAVING COUNT(*) <= $cap),
         |ct AS (SELECT mk.doc_id, mk.start, mk.len, mk.lhash
         |       FROM mk JOIN kp USING (lhash, len)),
         |vt AS (
         |  SELECT a1.doc_id AS doc_a, b1.doc_id AS doc_b,
         |    a1.start - b1.start AS delta, COUNT(*) AS votes
         |  FROM ct a1 JOIN ct b1 ON a1.lhash = b1.lhash
         |    AND a1.len = b1.len AND a1.doc_id < b1.doc_id
         |  GROUP BY 1, 2, 3),
         |pr AS (SELECT DISTINCT doc_a, doc_b FROM vt WHERE votes >= $votes),
         |dg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners FROM (
         |    SELECT doc_a AS doc_id FROM pr
         |    UNION ALL SELECT doc_b AS doc_id FROM pr)
         |  GROUP BY 1)
         |SELECT st.doc_id, st.n_chunks, st.n_landmarks, st.lm_digest,
         |  COALESCE(dg.n_partners, 0) AS n_partners
         |FROM st LEFT JOIN dg USING (doc_id)
         |ORDER BY st.doc_id""".stripMargin
    },

    // Mirrors Curation.temperatureMixture: per-source counts, quantized
    // sqrt-scores (floor(sqrt(n)*1e6) — every step correctly rounded on
    // both engines), exact long totals, correctly-rounded double ratios
    // in the same association order.
    "x98_source_mixture" -> {
      val q = graft.operators.Curation.MixtureQScale
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |q AS (
         |  SELECT source, n_docs,
         |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * $q.0) AS BIGINT)
         |      AS q_score
         |  FROM per),
         |t AS (SELECT CAST(SUM(q_score) AS BIGINT) AS q_total,
         |        CAST(SUM(n_docs) AS BIGINT) AS n_total FROM q)
         |SELECT q.source, q.n_docs,
         |  CAST(q.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS raw_share,
         |  q.q_score,
         |  CAST(q.q_score AS DOUBLE) / CAST(t.q_total AS DOUBLE) AS weight,
         |  CAST(q.q_score AS DOUBLE) / CAST(t.q_total AS DOUBLE)
         |    * CAST(t.n_total AS DOUBLE) / CAST(q.n_docs AS DOUBLE)
         |    AS oversample
         |FROM q, t ORDER BY q.source""".stripMargin
    },

    // Mirrors Dedup.lshRecallEval: truth = x3's pairs at jaccard >= tau,
    // predicted = x2's verified pairs, banded by true-Jaccard decile —
    // composes the two already-oracled pair CTEs verbatim.
    "x99_lsh_recall" -> {
      val tau = graft.operators.Dedup.RecallTau
      lshPairsCte + ngramPairsCte +
        s""", truth AS (
           |  SELECT doc_a, doc_b, jaccard FROM ngram_pairs
           |  WHERE jaccard >= $tau),
           |ev AS (
           |  SELECT LEAST(CAST(FLOOR(t.jaccard * 10) AS BIGINT), 9) AS band,
           |    CASE WHEN lp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
           |  FROM truth t LEFT JOIN lsh_pairs lp USING (doc_a, doc_b))
           |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_true,
           |  CAST(SUM(hit) AS BIGINT) AS n_found,
           |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
           |FROM ev GROUP BY 1 ORDER BY band""".stripMargin
    },

    // Mirrors TextAnalysis.nbDistill: one token pass into (doc, bucket)
    // counts, stopword-ratio teacher labels, add-one NB log-odds per
    // bucket through the IdfScale fixed-point ln, broadcast-applied.
    "x100_nb_distill" -> (nbDistillCte +
      """SELECT doc_id, n_tokens, teacher_good, score_q, student_keep
        |FROM nbout ORDER BY doc_id""".stripMargin),

    // Mirrors TextAnalysis.distillCalibration: x100's student binned
    // into 10 equal-width score bands (edges from the corpus's own
    // min/max — integer `div`, numerator non-negative on both engines).
    "x113_distill_calibration" -> {
      val bins = graft.operators.TextAnalysis.CalibrationBins
      nbDistillCte +
        s""", rng AS (SELECT MIN(score_q) AS mn, MAX(score_q) AS mx
           |           FROM nbout)
           |SELECT ((score_q - mn) * $bins) // (mx - mn + 1) AS bin,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN teacher_good THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_good,
           |  CAST(SUM(CASE WHEN student_keep THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_keep,
           |  MIN(score_q) AS score_lo, MAX(score_q) AS score_hi,
           |  CAST(SUM(CASE WHEN teacher_good THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS good_rate
           |FROM nbout, rng GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Mirrors Curation.splitLeakage: x2's verified pair relation
    // cross-tabulated against x20's content-hash folds.
    "x114_split_leakage" -> (lshPairsCte +
      s""", fold AS (
         |  SELECT doc_id,
         |    CASE WHEN ${polyhashSql("text")} % 100 < 80 THEN 'train'
         |         WHEN ${polyhashSql("text")} % 100 < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |cells AS (
         |  SELECT LEAST(fa.split, fb.split) AS fold_a,
         |    GREATEST(fa.split, fb.split) AS fold_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM lsh_pairs p
         |  JOIN fold fa ON fa.doc_id = p.doc_a
         |  JOIN fold fb ON fb.doc_id = p.doc_b
         |  GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM cells)
         |SELECT fold_a, fold_b, n_pairs, fold_a <> fold_b AS leaked,
         |  CAST(n_pairs AS DOUBLE) / CAST(n_total AS DOUBLE) AS pair_share
         |FROM cells, tot ORDER BY fold_a, fold_b""".stripMargin),

    // Mirrors Curation.qualityFusion. The oracle keeps the TEXTBOOK
    // unpartitioned RANK() windows — competition rank is a pure
    // function of the signal value, so it equals the Spark side's
    // histogram-derived rank (1 + count of strictly better values) on
    // every tie pattern; the engines differ only in plan shape.
    "x115_quality_fusion" -> {
      val stops = graft.functions.TextFunctions.Stopwords
        .map(s => s"'$s'").mkString(", ")
      val k = graft.operators.Curation.RrfK
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
         |sig AS (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS s_len,
         |  CAST(len(list_filter(t, x -> x IN ($stops))) AS BIGINT) AS s_stop,
         |  CAST(len(list_distinct(t)) AS BIGINT)
         |    * ${graft.operators.Curation.TtrScale}
         |    // CAST(len(t) AS BIGINT) AS s_ttr
         |  FROM d),
         |r AS (SELECT doc_id,
         |  CAST(RANK() OVER (ORDER BY s_len DESC) AS BIGINT) AS r_len,
         |  CAST(RANK() OVER (ORDER BY s_stop DESC) AS BIGINT) AS r_stop,
         |  CAST(RANK() OVER (ORDER BY s_ttr DESC) AS BIGINT) AS r_ttr
         |  FROM sig)
         |SELECT doc_id, r_len, r_stop, r_ttr,
         |  CAST(1 AS DOUBLE) / CAST($k + r_len AS DOUBLE)
         |    + CAST(1 AS DOUBLE) / CAST($k + r_stop AS DOUBLE)
         |    + CAST(1 AS DOUBLE) / CAST($k + r_ttr AS DOUBLE) AS rrf
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // Mirrors Dedup.pageStitch: boundary md5s, the MaxBandBucket
    // occupancy cut on both sides, self-stitch excluded, min successor.
    "x116_page_stitch" -> {
      val k = graft.operators.Dedup.StitchTokens
      val cap = graft.operators.Dedup.MaxBandBucket
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |e AS (SELECT doc_id,
         |  CASE WHEN len(t) >= $k THEN
         |    md5(array_to_string(list_slice(t, 1, $k), ' ')) END AS prefix_hash,
         |  CASE WHEN len(t) >= $k THEN
         |    md5(array_to_string(list_slice(t, len(t) - ${k - 1}, len(t)), ' '))
         |  END AS suffix_hash
         |  FROM d),
         |pc AS (SELECT prefix_hash AS h, COUNT(*) AS pc FROM e
         |  WHERE prefix_hash IS NOT NULL GROUP BY 1),
         |sc AS (SELECT suffix_hash AS h, COUNT(*) AS sc FROM e
         |  WHERE suffix_hash IS NOT NULL GROUP BY 1),
         |kept AS (SELECT h FROM pc JOIN sc USING (h)
         |  WHERE pc <= $cap AND sc <= $cap),
         |links AS (
         |  SELECT a.doc_id AS doc_a, CAST(COUNT(*) AS BIGINT) AS n_continues,
         |    MIN(b.doc_id) AS next_doc
         |  FROM e a JOIN kept kk ON a.suffix_hash = kk.h
         |  JOIN e b ON b.prefix_hash = kk.h AND b.doc_id <> a.doc_id
         |  GROUP BY 1)
         |SELECT e.doc_id, e.prefix_hash, e.suffix_hash,
         |  CAST(COALESCE(l.n_continues, 0) AS BIGINT) AS n_continues,
         |  l.next_doc
         |FROM e LEFT JOIN links l ON l.doc_a = e.doc_id
         |ORDER BY e.doc_id""".stripMargin
    },

    // Mirrors Curation.corpusBuild: the composed production pipeline.
    // Stage CTEs compose the already-verified sub-oracles — x110's
    // canonical-form groups over the train population, x102's keep
    // policy over componentLabelsCte's `lab` restricted to s1
    // survivors, x94's gate CTEs (qualityGateCtes) calibrated over s2
    // survivors, x52's eval-overlap cut over the SAME `sh` CTE the LSH
    // chain uses, x98's mixture and x26's packing over the final kept
    // set — then one left-join assembly over all documents.
    "x117_corpus_build" -> {
      val bd = graft.operators.Curation.BenchmarkDocs
      val cf = graft.operators.Curation.ContaminationFrac
      val mc = graft.operators.Curation.MaxChunkGate
      val q = graft.operators.Curation.MixtureQScale
      val shards = graft.operators.Curation.PackShards
      val budget = graft.operators.Curation.PackBudget
      val up = sqlStr(graft.operators.Dedup.AsciiUpper)
      val lo = sqlStr(graft.operators.Dedup.AsciiLower)
      val pu = graft.operators.Dedup.AsciiPunct
      val spaces = sqlStr(
        " " * (graft.operators.Dedup.CanonWs.length + pu.length))
      val from0 = s"chr(9) || chr(10) || chr(13) || ${sqlStr(pu)}"
      componentLabelsCte +
        s""", pop AS MATERIALIZED (SELECT doc_id, source, text, n_chars FROM documents
           |  WHERE doc_id >= $bd),
           |ncanon AS (SELECT doc_id,
           |  trim(regexp_replace(translate(translate(text, $up, $lo),
           |    $from0, $spaces), ' +', ' ', 'g')) AS ctext FROM pop),
           |nh AS (SELECT doc_id, md5(ctext) AS norm_hash FROM ncanon),
           |ng AS (SELECT norm_hash AS k_norm, MIN(doc_id) AS norm_rep
           |  FROM nh GROUP BY 1),
           |s1 AS MATERIALIZED (SELECT nh.doc_id, nh.doc_id = ng.norm_rep AS s1_norm_kept
           |  FROM nh JOIN ng ON nh.norm_hash IS NOT DISTINCT FROM ng.k_norm),
           |s1k AS (SELECT doc_id FROM s1 WHERE s1_norm_kept),
           |c2 AS MATERIALIZED (SELECT l.doc_id, l.component_rep
           |  FROM lab l JOIN s1k USING (doc_id)),
           |cbest AS (SELECT component_rep, doc_id AS keep_doc FROM (
           |    SELECT c2.component_rep, c2.doc_id,
           |      ROW_NUMBER() OVER (PARTITION BY c2.component_rep
           |        ORDER BY d.n_chars DESC, c2.doc_id ASC) AS rn
           |    FROM c2 JOIN documents d USING (doc_id)) WHERE rn = 1),
           |s2 AS MATERIALIZED (SELECT c2.doc_id, c2.doc_id = cbest.keep_doc AS s2_dedup_kept
           |  FROM c2 JOIN cbest USING (component_rep)),
           |s2k AS MATERIALIZED (SELECT doc_id FROM s2 WHERE s2_dedup_kept),
           |${qualityGateCtes(
                "(SELECT p.doc_id, p.source, p.text FROM pop p " +
                  "JOIN s2k USING (doc_id)) src94")},
           |g3 AS (SELECT gd.doc_id, gd.n_tokens,
           |    gd.n_tokens >= gt.threshold AND gp.n_luhn_valid = 0
           |      AND coalesce(gmx.max_chunk, gd.n) <= $mc AS q_keep
           |  FROM gd LEFT JOIN gmx USING (doc_id) JOIN gp USING (doc_id)
           |    JOIN gt USING (source)),
           |s3 AS MATERIALIZED (SELECT s2k.doc_id,
           |    COALESCE(g3.q_keep, FALSE) AS s3_quality_kept, g3.n_tokens
           |  FROM s2k LEFT JOIN g3 USING (doc_id)),
           |s3k AS MATERIALIZED (SELECT doc_id, n_tokens FROM s3 WHERE s3_quality_kept),
           |ex4 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
           |bench4 AS (SELECT DISTINCT s FROM ex4 WHERE doc_id < $bd),
           |nsh AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles
           |  FROM sh WHERE len(sh) > 0),
           |ov4 AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |  FROM ex4 e JOIN s3k USING (doc_id) JOIN bench4 b ON e.s = b.s
           |  GROUP BY 1),
           |s4 AS MATERIALIZED (SELECT s3k.doc_id, s3k.n_tokens,
           |    COALESCE(nsh.n_shingles, 0) > 0 AND
           |      CAST(COALESCE(ov4.n_shared, 0) AS DOUBLE)
           |        / CAST(nsh.n_shingles AS DOUBLE) < $cf AS s4_clean
           |  FROM s3k LEFT JOIN nsh USING (doc_id)
           |    LEFT JOIN ov4 USING (doc_id)),
           |fk AS MATERIALIZED (SELECT doc_id, n_tokens FROM s4 WHERE s4_clean),
           |mper AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM documents d JOIN fk USING (doc_id) GROUP BY 1),
           |mq AS (SELECT source, n_docs,
           |  CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * $q.0) AS BIGINT)
           |    AS q_score FROM mper),
           |mt AS (SELECT CAST(SUM(q_score) AS BIGINT) AS q_total,
           |  CAST(SUM(n_docs) AS BIGINT) AS n_total FROM mq),
           |mix AS (SELECT source, n_docs AS src_kept_docs,
           |  CAST(q_score AS DOUBLE) / CAST(t.q_total AS DOUBLE) AS src_weight,
           |  CAST(q_score AS DOUBLE) / CAST(t.q_total AS DOUBLE)
           |    * CAST(t.n_total AS DOUBLE) / CAST(n_docs AS DOUBLE)
           |    AS src_oversample
           |  FROM mq, mt t),
           |pk AS (SELECT doc_id, n_tokens, doc_id % $shards AS shard FROM fk),
           |pc2 AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
           |    PARTITION BY shard ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |    0) AS BIGINT) AS cum_before FROM pk),
           |pack AS (SELECT doc_id, shard,
           |    cum_before // $budget AS seq_in_shard,
           |    cum_before % $budget AS offset_in_seq,
           |    (cum_before % $budget) + n_tokens > $budget
           |      AS crosses_boundary
           |  FROM pc2)
           |SELECT d.doc_id, d.source, d.doc_id < $bd AS is_eval,
           |  s1.s1_norm_kept, s2.s2_dedup_kept, s3.s3_quality_kept,
           |  s4.s4_clean,
           |  COALESCE(s4.s4_clean, FALSE) AS final_kept,
           |  pack.shard, pack.seq_in_shard, pack.offset_in_seq,
           |  pack.crosses_boundary,
           |  mix.src_kept_docs, mix.src_weight, mix.src_oversample
           |FROM documents d
           |LEFT JOIN s1 USING (doc_id) LEFT JOIN s2 USING (doc_id)
           |LEFT JOIN s3 USING (doc_id) LEFT JOIN s4 USING (doc_id)
           |LEFT JOIN pack USING (doc_id)
           |LEFT JOIN mix ON d.source = mix.source
           |ORDER BY d.doc_id""".stripMargin
    },

    // Mirrors Dedup.dupComponents: reachability closure over x2's pair
    // graph (the oracle can afford transitive closure at gate SF; the
    // Spark side's large-star/small-star fixpoint — min doc_id per
    // component — is the same unique labeling). tools/check.py
    // substitutes a linear union-find for this recursive CTE at larger
    // SFs, exactly as it does for x28.
    "x101_dup_components" -> (componentLabelsCte +
      """SELECT l.doc_id, l.component_rep, s.component_size
        |FROM lab l JOIN sz s USING (component_rep)
        |ORDER BY doc_id""".stripMargin),

    // Mirrors Dedup.canonicalKeep: x101's labels + the longest-member
    // keep policy (ties to the smallest doc_id) as one deterministic
    // window argmax. check.py substitutes the union-find at larger SFs.
    "x102_canonical_keep" -> (componentLabelsCte +
      """, best AS (
        |  SELECT component_rep, doc_id AS keep_doc FROM (
        |    SELECT l.component_rep, l.doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY l.component_rep
        |        ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
        |    FROM lab l JOIN documents d USING (doc_id))
        |  WHERE rn = 1)
        |SELECT l.doc_id, l.component_rep, s.component_size, b.keep_doc,
        |  l.doc_id = b.keep_doc AS kept
        |FROM lab l JOIN sz s USING (component_rep)
        |  JOIN best b USING (component_rep)
        |ORDER BY l.doc_id""".stripMargin),

    // Mirrors CorpusStream.deltaDedupBatch (the batch carrier of the
    // streaming operator, behind both keys): base = doc_id below the
    // in-plan 80th percentile of the id space, per-doc band keys (same
    // md5-min scheme as x2's all_bands), buckets over MaxBandBucket
    // BASE members cut, delta probes only, fingerprint verify from the
    // 0.02 floor, best match by (jaccard desc, base_id asc).
    "x103_delta_dedup" -> deltaDedupSql,
    "x104_stream_delta_dedup" -> deltaDedupSql,

    // Mirrors CorpusStream.corpusBuildBatch (the batch carrier of the
    // x118 streaming corpus build): x57's first-seen exact dedup over
    // the delta (s1), x103/x104's near-dup verdict vs the base (s2,
    // masked to s1 survivors), x94's gate with signals over the delta
    // and the P25 calibration over the BASE corpus (s3, masked to
    // s1∧s2 survivors; no-text / no-calibration docs fail closed);
    // stage verdicts NULL when unreached, one row per delta doc.
    "x118_corpus_build_stream" -> {
      val tau = graft.operators.Dedup.DeltaDupTau
      val mc = graft.operators.Curation.MaxChunkGate
      deltaDedupCtes +
        s""", s1x AS MATERIALIZED (
           |  SELECT d.doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY md5(coalesce(d.text, ''))
           |      ORDER BY d.doc_id) = 1 AS s1_exact_kept
           |  FROM documents d, sp WHERE d.doc_id >= sp.split_id),
           |${qualityGateCtes(
                "(SELECT d2.doc_id, d2.source, d2.text FROM documents d2, " +
                  "sp WHERE d2.doc_id >= sp.split_id) srcd",
                Some("(SELECT d3.source, d3.text FROM documents d3, sp " +
                  "WHERE d3.doc_id < sp.split_id) srcb"))},
           |g118 AS (
           |  SELECT gd.doc_id,
           |    gd.n_tokens >= gt.threshold AND gp.n_luhn_valid = 0
           |      AND coalesce(gmx.max_chunk, gd.n) <= $mc AS gate_keep
           |  FROM gd LEFT JOIN gmx USING (doc_id) JOIN gp USING (doc_id)
           |    JOIN gt USING (source))
           |SELECT d.doc_id, s1x.s1_exact_kept,
           |  CASE WHEN s1x.s1_exact_kept
           |    THEN NOT COALESCE(b.best_jaccard >= $tau, FALSE) END
           |    AS s2_neardup_kept,
           |  CASE WHEN s1x.s1_exact_kept
           |      AND NOT COALESCE(b.best_jaccard >= $tau, FALSE)
           |    THEN COALESCE(g118.gate_keep, FALSE) END AS s3_quality_kept,
           |  COALESCE(s1x.s1_exact_kept
           |    AND NOT COALESCE(b.best_jaccard >= $tau, FALSE)
           |    AND COALESCE(g118.gate_keep, FALSE), FALSE) AS final_kept,
           |  CASE WHEN s1x.s1_exact_kept
           |    THEN COALESCE(a.n_matches, 0) END AS n_base_matches
           |FROM documents d CROSS JOIN sp
           |LEFT JOIN s1x ON s1x.doc_id = d.doc_id
           |LEFT JOIN agg a ON a.delta_id = d.doc_id
           |LEFT JOIN best b ON b.delta_id = d.doc_id
           |LEFT JOIN g118 ON g118.doc_id = d.doc_id
           |WHERE d.doc_id >= sp.split_id
           |ORDER BY d.doc_id""".stripMargin
    },

    // Mirrors ProductQuantization.ivfPqTopK: Lloyd-trained √(N/8) cells
    // (kmeansCte) routed by the two-level quantized ranking, PQ codes
    // (pqCte) joined with the crn=1 cell assignment, probe list crn<=2
    // for the harness queries, per-query (sub, code)-ordered LUTs, ADC
    // restricted to probed cells, rank by (adc DESC, neighbor_id).
    "x105_ivfpq_topk" -> (unitCte + ivfPqCte +
      s"""SELECT query_id, neighbor_id, cell, adc, rank FROM ipq
         |WHERE rank <= ${graft.operators.ProductQuantization.TopK}
         |ORDER BY query_id, rank""".stripMargin),

    // Mirrors ProductQuantization.ivfPqRecall: x58's recall@k shape with
    // the IVF-PQ ranking as the approximate side — exact integers only.
    "x106_ivfpq_recall" -> (unitCte + ivfPqCte + {
      val k = graft.operators.Similarity.RecallK
      s""", bq AS (SELECT vec_id AS query_id, u AS qu FROM unit_t WHERE vec_id < 10),
         |bc AS (SELECT vec_id AS neighbor_id, u AS nu FROM unit_t),
         |bep AS (
         |  SELECT query_id, neighbor_id, ${dotUnitSql("qu", "nu")} AS cos
         |  FROM bq, bc WHERE query_id <> neighbor_id),
         |ber AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM bep),
         |exactk AS (SELECT query_id, neighbor_id FROM ber WHERE rank <= $k),
         |pqk AS (SELECT query_id, neighbor_id FROM ipq WHERE rank <= $k),
         |h AS (SELECT e.query_id, COUNT(*) AS n_hits
         |      FROM exactk e JOIN pqk i
         |        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |      GROUP BY 1),
         |ex AS (SELECT query_id, COUNT(*) AS n_exact FROM exactk GROUP BY 1)
         |SELECT ex.query_id, ex.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
         |  COALESCE(h.n_hits, 0) * 1000000 // $k AS recall_ppm
         |FROM ex LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin
    }),

    // Mirrors TextAnalysis.gopherRules: identical token/line splits,
    // code-point length counts, literal (non-regex) replace for the
    // symbol counts, and integer-exact cross-multiplied rule compares;
    // the two ratio columns are single divisions (x9's pattern).
    "x107_gopher_rules" -> {
      val stops = graft.operators.TextAnalysis.GopherStops
        .map(w => s"'$w'").mkString(", ")
      s"""WITH d AS (SELECT *, string_split(text, ' ') AS t,
         |            string_split(text, chr(10)) AS ls FROM documents),
         |s AS (SELECT doc_id, lang, source,
         |  CAST(len(t) AS BIGINT) AS n_words,
         |  list_reduce([CAST(0 AS BIGINT)] ||
         |    list_transform(t, w -> CAST(length(w) AS BIGINT)),
         |    (a, b) -> a + b) AS n_word_chars,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
         |    AS n_hash,
         |  CAST((length(text) - length(replace(text, '...', ''))) // 3
         |    AS BIGINT) AS n_ellipsis,
         |  CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
         |    AS BIGINT) AS n_alpha_words,
         |  CAST(len(list_filter(t, w -> w IN ($stops))) AS BIGINT)
         |    AS n_stop_hits,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(ls, l -> starts_with(l, '- ') OR
         |    starts_with(l, '* '))) AS BIGINT) AS n_bullet_lines,
         |  CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT)
         |    AS n_ellipsis_lines
         |  FROM d)
         |SELECT *,
         |  CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS mean_word_len,
         |  CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS alpha_frac,
         |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
         |  3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
         |    AS r_word_len,
         |  10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words
         |    AS r_symbol,
         |  10 * n_bullet_lines <= n_lines AS r_bullet,
         |  10 * n_ellipsis_lines <= 3 * n_lines AS r_ellipsis_lines,
         |  5 * n_alpha_words >= 4 * n_words AS r_alpha,
         |  n_stop_hits >= 2 AS r_stop,
         |  (n_words >= 50 AND n_words <= 100000) AND
         |  (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words) AND
         |  (10 * n_hash <= n_words AND 10 * n_ellipsis <= n_words) AND
         |  (10 * n_bullet_lines <= n_lines) AND
         |  (10 * n_ellipsis_lines <= 3 * n_lines) AND
         |  (5 * n_alpha_words >= 4 * n_words) AND
         |  (n_stop_hits >= 2) AS gopher_keep
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // Mirrors Similarity.semanticDecontaminate: x34's trained probe
    // pipeline (identical kmeans + two-level ranking CTEs), the τ
    // threshold on the bit-identical dot, COUNT + (cos DESC, id DESC)
    // argmax per query, zero-hit queries kept via the left joins.
    "x108_semantic_decontaminate" -> (unitCte + kmeansCte +
      s""", cents AS (SELECT cid, cu FROM c${graft.operators.Similarity.KmeansIters}),
         |${quantizedRankedSql("cents")},
         |assign AS (SELECT vec_id AS neighbor_id, cid AS cell, u AS nu
         |           FROM ranked WHERE crn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS cell, u AS qu
         |           FROM ranked WHERE crn <= 2 AND vec_id < 10),
         |hits AS (
         |  SELECT p.query_id, a.neighbor_id,
         |    ${dotUnitSql("p.qu", "a.nu")} AS cos
         |  FROM probes p JOIN assign a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id
         |  WHERE ${dotUnitSql("p.qu", "a.nu")} >=
         |    ${graft.operators.Similarity.DecontamTau}),
         |cnt AS (SELECT query_id, COUNT(*) AS n_flagged FROM hits GROUP BY 1),
         |best AS (SELECT query_id, neighbor_id, cos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id DESC) AS rn FROM hits)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id FROM unit_t WHERE vec_id < 10)
         |SELECT q.query_id,
         |  COALESCE(cnt.n_flagged, CAST(0 AS BIGINT)) AS n_flagged,
         |  COALESCE(best.neighbor_id, CAST(-1 AS BIGINT)) AS best_id,
         |  COALESCE(best.cos, -1.0) AS best_cos
         |FROM q LEFT JOIN cnt USING (query_id) LEFT JOIN best USING (query_id)
         |ORDER BY query_id""".stripMargin),

    // Mirrors CorpusStats.lengthDrift: same bounded histograms, the same
    // per-source cumulative windows over the global length grid, the
    // exact integer gap |cum_src·N − cum_all·n_src| maxed with the
    // (gap, length) lexicographic argmax, one double division at the end.
    "x109_length_drift" ->
      """WITH pl AS (SELECT n_chars, COUNT(*) AS c_all FROM documents GROUP BY 1),
        |psl AS (SELECT source, n_chars, COUNT(*) AS c_src
        |        FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_all FROM documents),
        |ca AS (SELECT n_chars, c_all,
        |         SUM(c_all) OVER (ORDER BY n_chars
        |           ROWS UNBOUNDED PRECEDING) AS cum_all FROM pl),
        |grid AS (
        |  SELECT ca.n_chars, ca.cum_all, st.source, st.n_src,
        |    COALESCE(psl.c_src, 0) AS c_src
        |  FROM ca CROSS JOIN st
        |  LEFT JOIN psl ON psl.source = st.source
        |    AND psl.n_chars = ca.n_chars),
        |cum AS (
        |  SELECT *, SUM(c_src) OVER (PARTITION BY source ORDER BY n_chars
        |    ROWS UNBOUNDED PRECEDING) AS cum_src FROM grid),
        |gap AS (
        |  SELECT source, n_src, n_chars,
        |    abs(cum_src * tot.n_all - cum_all * n_src) AS gap_scaled,
        |    tot.n_all AS n_all
        |  FROM cum CROSS JOIN tot),
        |mx AS (
        |  SELECT source, n_src, n_all, gap_scaled, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY gap_scaled DESC, n_chars DESC) AS rn FROM gap)
        |SELECT source, CAST(n_src AS BIGINT) AS n_src,
        |  CAST(gap_scaled AS BIGINT) AS ks_scaled,
        |  n_chars AS ks_at_len,
        |  CAST(gap_scaled AS DOUBLE) /
        |    CAST(n_src * n_all AS DOUBLE) AS ks_stat
        |FROM mx WHERE rn = 1 ORDER BY source""".stripMargin,

    // Mirrors Dedup.normalizedDedup: identical canonical form (same
    // translate alphabets built from the same Scala constants, portable
    // ' +' regex with the 'g' flag DuckDB needs for replace-all), md5
    // group stats joined back null-safely.
    "x110_normalized_dedup" -> {
      val up = sqlStr(graft.operators.Dedup.AsciiUpper)
      val lo = sqlStr(graft.operators.Dedup.AsciiLower)
      val pu = graft.operators.Dedup.AsciiPunct
      val spaces = sqlStr(" " * (graft.operators.Dedup.CanonWs.length + pu.length))
      val from = s"chr(9) || chr(10) || chr(13) || ${sqlStr(pu)}"
      s"""WITH canon AS (SELECT doc_id,
         |  trim(regexp_replace(translate(translate(text, $up, $lo),
         |    $from, $spaces), ' +', ' ', 'g')) AS ctext FROM documents),
         |h AS (SELECT doc_id, md5(ctext) AS norm_hash,
         |  CAST(length(ctext) AS BIGINT) AS n_norm_chars FROM canon),
         |g AS (SELECT norm_hash AS k_norm, MIN(doc_id) AS norm_rep,
         |  CAST(COUNT(*) AS BIGINT) AS norm_group_size FROM h GROUP BY 1)
         |SELECT h.doc_id, h.norm_hash, h.n_norm_chars, g.norm_rep,
         |  g.norm_group_size, h.doc_id = g.norm_rep AS is_canonical
         |FROM h JOIN g ON h.norm_hash IS NOT DISTINCT FROM g.k_norm
         |ORDER BY h.doc_id""".stripMargin
    },

    // Mirrors Similarity.indexMaintain: the same in-plan 80th-percentile
    // id split, kmeans trained over base_t ONLY (kmeansCteOver — K from
    // the base count), the identical two-level quantized assignment of
    // the FULL corpus, then exact integer ppm shares and the cross-ppm
    // drift compare.
    "x111_index_maintain" -> (unitCte +
      s""", sp AS (SELECT CAST(FLOOR(MAX(vec_id) * 4.0 / 5.0) AS BIGINT)
         |  AS split_id FROM unit_t),
         |base_t AS (SELECT vec_id, u FROM unit_t, sp
         |  WHERE vec_id < sp.split_id)""".stripMargin +
      kmeansCteOver("base_t") +
      s""", cents AS (SELECT cid, cu FROM c${graft.operators.Similarity.KmeansIters}),
         |${quantizedRankedSql("cents")},
         |asg AS (SELECT vec_id, cid FROM ranked WHERE crn = 1),
         |cc AS (SELECT cid,
         |  CAST(SUM(CASE WHEN a.vec_id < sp.split_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_base,
         |  CAST(SUM(CASE WHEN a.vec_id >= sp.split_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_delta
         |  FROM asg a CROSS JOIN sp GROUP BY 1),
         |tt AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tot_base,
         |  CAST(SUM(n_delta) AS BIGINT) AS tot_delta FROM cc)
         |SELECT cid, n_base, n_delta,
         |  CAST(n_base * 1000000 // tot_base AS BIGINT) AS base_share_ppm,
         |  CAST(n_delta * 1000000 // tot_delta AS BIGINT) AS delta_share_ppm,
         |  (n_delta * 1000000 // tot_delta) >
         |    ${graft.operators.Similarity.IndexDriftTau} *
         |    (n_base * 1000000 // tot_base) AS drift_flag
         |FROM cc CROSS JOIN tt ORDER BY cid""".stripMargin),

    // Mirrors Curation.clusterQuotaSample: the x28 16-bit cluster
    // signature (simhash16Cte), quota rank over (13-hex md5 prefix,
    // doc_id) — fixed-width lowercase hex orders identically to the
    // Spark side's 52-bit numeric — null-cluster docs kept as
    // singletons.
    "x112_cluster_quota" -> (simhash16Cte +
      s""", d AS (
         |  SELECT doc.doc_id, sig.simhash AS cluster,
         |    substring(md5(doc.text), 1, 13) AS h13
         |  FROM documents doc LEFT JOIN sig ON doc.doc_id = sig.doc_id),
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM d WHERE cluster IS NOT NULL GROUP BY 1),
         |rk AS (SELECT doc_id, cluster,
         |  ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY h13, doc_id) AS rn
         |  FROM d WHERE cluster IS NOT NULL)
         |SELECT d.doc_id, d.cluster,
         |  COALESCE(sz.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
         |  CASE WHEN rk.rn <= ${graft.operators.Curation.ClusterQuota}
         |    THEN CAST(rk.rn AS BIGINT) END AS q_rank,
         |  (d.cluster IS NULL OR
         |    rk.rn <= ${graft.operators.Curation.ClusterQuota}) AS kept
         |FROM d LEFT JOIN sz ON d.cluster = sz.cluster
         |LEFT JOIN rk ON d.doc_id = rk.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // q16/q22: the sketches are engine-specific, so the gated rows carry
    // exact values + booleans asserting the sketch landed within its
    // documented bound; the oracle's side of each boolean is literal TRUE
    // (a FALSE from Spark = sketch out of contract = hash mismatch).
    "q16_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(*) AS n_rows,
        |  TRUE AS orders_ok,
        |  TRUE AS parts_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q22_approx_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
        |  quantile_cont(l_discount, 0.25) AS p25_disc,
        |  COUNT(*) AS n_rows,
        |  TRUE AS qty_ok,
        |  TRUE AS price_ok,
        |  TRUE AS disc_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ))

  /** One matvec over the x73 dense matrix column `M`, as the oracle's
    * fixed-order fold (≡ `Quantization.eigenRelation`'s matvec). */
  private def pcaMatvecSql(v: String): String = {
    val d = graft.operators.Quantization.Dim
    s"list_transform(M, row -> list_reduce([CAST(0.0 AS DOUBLE)] || " +
      s"list_transform(range(1, ${d + 1}), k -> row[k] * $v[k]), " +
      "(acc, x) -> acc + x))"
  }

  /** Shared CTE chain for the x73/x74 oracles: scaled elements, exact
    * integer moments, the dense `A = n·Spp − Sᵢ·Sⱼ` matrix, and
    * [[graft.operators.Quantization.PcaIters]] unrolled max-abs power
    * steps ending in the unit eigenvector relation `un(M, n_vecs, u)`. */
  private def pcaCtes: String = {
    val d = graft.operators.Quantization.Dim
    val sc = graft.operators.Quantization.CovScale
    val iters = (1 to graft.operators.Quantization.PcaIters).map { k =>
      s"""it$k AS (
         |  SELECT M, n_vecs,
         |    list_transform(w, x -> CASE WHEN mx = 0 THEN CAST(0.0 AS DOUBLE)
         |                                ELSE x / mx END) AS v
         |  FROM (SELECT M, n_vecs, w,
         |          list_max(list_transform(w, x -> abs(x))) AS mx
         |        FROM (SELECT M, n_vecs, ${pcaMatvecSql("v")} AS w
         |              FROM it${k - 1})))""".stripMargin
    }.mkString(",\n")
    s"""s AS (
       |  SELECT vec_id, ix.i - 1 AS i,
       |    CAST(floor(CAST(embedding[ix.i] AS DOUBLE) * $sc + 0.5) AS BIGINT) AS sv
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, ${d + 1})) AS i) ix),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
       |ds AS (SELECT i, SUM(DEC0(sv)) AS sum_i FROM s GROUP BY 1),
       |p AS (SELECT a.i AS i, b.i AS j, SUM(DEC0(a.sv * b.sv)) AS spp
       |      FROM s a JOIN s b ON a.vec_id = b.vec_id AND a.i <= b.i
       |      GROUP BY 1, 2),
       |au AS (SELECT p.i, p.j, n.n_vecs,
       |    V2D(CAST(p.spp AS HUGEINT) * n.n_vecs
       |        - CAST(di.sum_i AS HUGEINT) * CAST(dj.sum_i AS HUGEINT)) AS a
       |  FROM p JOIN ds di ON di.i = p.i JOIN ds dj ON dj.i = p.j
       |  CROSS JOIN n),
       |af AS (SELECT i, j, n_vecs, a FROM au
       |       UNION ALL
       |       SELECT j AS i, i AS j, n_vecs, a FROM au WHERE i < j),
       |mrows AS (SELECT i, n_vecs, list(a ORDER BY j) AS rowv
       |          FROM af GROUP BY 1, 2),
       |mat AS (SELECT n_vecs, list(rowv ORDER BY i) AS M
       |        FROM mrows GROUP BY n_vecs),
       |it0 AS (SELECT M, n_vecs,
       |          list_transform(range(1, ${d + 1}), x -> CAST(1.0 AS DOUBLE)) AS v
       |        FROM mat),
       |$iters,
       |un AS (
       |  SELECT M, n_vecs,
       |    list_transform(v, x -> CASE WHEN nrm = 0 THEN CAST(0.0 AS DOUBLE)
       |                                ELSE x / nrm END) AS u
       |  FROM (SELECT M, n_vecs, v,
       |          sqrt(list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(
       |            range(1, ${d + 1}), k -> v[k] * v[k]),
       |            (acc, x) -> acc + x)) AS nrm
       |        FROM it${graft.operators.Quantization.PcaIters}))""".stripMargin
  }
}
