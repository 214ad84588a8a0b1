package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions.dsum
import graft.functions.SketchFunctions
import graft.functions.TextFunctions._
import graft.functions.TopKByScore
import graft.queries.Tables
import graft.util.OperatorCaches

/** Corpus-curation operators — the steps between "raw documents" and "a
  * training mix" that every large-scale data pipeline runs after dedup:
  *
  *  - deterministic content-hash train/valid/test split (reproducible
  *    regardless of row order, partitioning, or cluster size — the split
  *    is a pure function of the text);
  *  - percentile-based length filtering (the classic Gopher-style rule:
  *    drop the tails of the token-length distribution);
  *  - per-source mixture weights (how much of each domain a sampler
  *    should draw, here ∝ √tokens — sublinear so small domains are not
  *    drowned out).
  *
  * All three are either narrow projections or one aggregation; nothing
  * shuffles more than one row per document. Double reductions go through
  * the DECIMAL(25,6) accumulator ([[dsum]]) so results are independent of
  * partition merge order — required both for the DuckDB oracle and for
  * run-to-run reproducibility on a cluster.
  */
object Curation {

  /** Bucket count for the hash split; 80/10/10 by bucket range. */
  val SplitBuckets = 100
  val TrainUpper = 80
  val ValidUpper = 90

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsParallel(spark, sfDir)

  /** x20: reproducible train/valid/test assignment from the CONTENT hash
    * (polyHash mod 100 → 80/10/10). Content-keyed (not id-keyed) splits
    * survive re-ingestion with different ids and keep exact duplicates in
    * the same fold — no train/test leakage through duplicated text. */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        pmod(polyHash(col("text")), lit(SplitBuckets.toLong)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainUpper, "train")
          .when(col("bucket") < ValidUpper, "valid")
          .otherwise("test"))
      .orderBy("doc_id")

  /** x21: length filter against the corpus's own token-length
    * distribution: keep docs inside [p05, p95]. The two quantiles are ONE
    * tiny aggregate broadcast back over the scan (a 1-row build side —
    * the legitimate broadcast), so the whole operator is two passes over
    * the corpus and no wide shuffle. */
  def lengthFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val bounds = d.agg(
      expr("percentile(n_tokens, 0.05)").as("p05"),
      expr("percentile(n_tokens, 0.95)").as("p95"))
    d.join(broadcast(bounds))
      .select(col("doc_id"), col("n_tokens"), col("p05"), col("p95"),
        (col("n_tokens") >= col("p05") && col("n_tokens") <= col("p95"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** x22: per-source mixture weights: token mass, stopword rate (an exact
    * longs ratio — no float accumulation), and a √tokens sampling weight
    * normalized over sources. The normalizer sums DECIMAL-cast √tokens so
    * the weight is bit-identical however the 1-row-per-source aggregate
    * merged. */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = docs(spark, sfDir).select(
      col("source"),
      size(tokens(col("text"))).cast("long").as("toks"),
      size(filter(tokens(col("text")),
        w => w.isInCollection(Stopwords))).cast("long").as("stops"))
    val perSource = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks")).as("total_tokens"),
      sum(col("stops")).as("stop_tokens"))
      .withColumn("stop_ratio",
        col("stop_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("root_toks",
        sqrt(col("total_tokens").cast("double")))
    val norm = perSource.agg(dsum(col("root_toks")).as("norm"))
    perSource.join(broadcast(norm))
      .withColumn("weight", col("root_toks") / col("norm"))
      .select("source", "n_docs", "total_tokens", "stop_tokens",
        "stop_ratio", "weight")
      .orderBy("source")
  }

  /** Token budget of one packed training sequence ([[packSequences]]). */
  val PackBudget = 2048L

  /** Shard count for parallel packing ([[packSequences]]); production
    * sets this ∝ cluster size. */
  val PackShards = 8L

  /** x26: sequence-packing planner — assigns every document a position
    * in a fixed-token-budget training sequence (the step that turns a
    * curated corpus into equal-length training rows). Documents pack
    * contiguously in doc_id order via a running token count; a doc whose
    * span crosses a budget boundary is flagged (the trainer's
    * split-or-pad decision).
    *
    * Packing is SHARDED, not global: a single corpus-wide running sum
    * would serialize into one task (the classic global-window scale
    * bug). Each of [[PackShards]] hash shards packs independently —
    * the window partitions by shard, so 100 TB packs with shard-level
    * parallelism and the plan has exactly one shuffle (by shard). A
    * sequence is globally identified by (shard, seq_in_shard). */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(PackShards)))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_in_shard", expr(s"cum_before div $PackBudget"))
      .withColumn("offset_in_seq", pmod(col("cum_before"), lit(PackBudget)))
      .withColumn("crosses_boundary",
        col("offset_in_seq") + col("n_tokens") > lit(PackBudget))
      .select("doc_id", "shard", "n_tokens", "seq_in_shard",
        "offset_in_seq", "crosses_boundary")
      .orderBy("doc_id")
  }

  /** Eval-set boundary for [[decontaminate]]: docs below this id stand
    * in for the benchmark/eval corpus (in production this is the actual
    * benchmark suite — a corpus ORDERS of magnitude smaller than train). */
  val BenchmarkDocs = 25L

  /** Contamination threshold: fraction of a doc's shingles that appear
    * anywhere in the eval set. */
  val ContaminationFrac = 0.10

  /** x29: train/eval DECONTAMINATION — the overlap check every serious
    * training pipeline runs so benchmark text doesn't leak into the
    * training mix: for each candidate doc, how many of its word 3-gram
    * shingles occur anywhere in the eval set, and a contaminated flag at
    * [[ContaminationFrac]] overlap.
    *
    * Scale shape: the eval side collapses to its DISTINCT shingle set —
    * bounded by benchmark size, not corpus size — so the join runs as a
    * broadcast against the train-side shingle stream (unhinted; AQE
    * picks broadcast from the measured size). One pass over the corpus,
    * no wide shuffle: the only exchange is the per-doc count. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleTableFrom(docs(spark, sfDir))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val benchShingles = ex.filter(col("doc_id") < BenchmarkDocs)
      .select("s").distinct()
    val train = sh.filter(col("doc_id") >= BenchmarkDocs)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
    val shared = ex.filter(col("doc_id") >= BenchmarkDocs)
      .join(benchShingles, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("overlap_frac") >= ContaminationFrac)
      .select("doc_id", "n_shingles", "n_shared", "overlap_frac",
        "contaminated")
      .orderBy("doc_id")
  }

  /** Sizing hint for [[bloomDecontaminate]]'s sketch: expected DISTINCT
    * eval-set shingles. A real benchmark suite is ~1e6-1e8 n-grams —
    * still a fixed-size sketch (MBs) however big the training corpus. */
  val BloomExpectedItems = 100000L

  /** x52: decontamination via a BLOOM-PREFILTERED membership join — the
    * same train/eval overlap semantics as [[decontaminate]] (x29), but
    * the scale pattern a 100 TB corpus actually wants when the eval set
    * is too big to broadcast as exact rows yet tiny next to the corpus:
    *
    *  1. the eval side collapses to a constant-size bloom sketch
    *     (Spark's own `BloomFilterAggregate` — a 1-row binary embedded
    *     as a scalar subquery, the wiring `InjectRuntimeFilter` itself
    *     emits and the subquery flavor of x3's one-row-broadcast
    *     df_cap);
    *  2. the corpus shingle stream is cut MAP-SIDE by
    *     `BloomFilterMightContain` before anything shuffles — only
    *     true hits plus the sketch's false positives survive;
    *  3. survivors are CONFIRMED against the exact eval shingle set, so
    *     the output is exact (the bloom affects intermediate volume,
    *     never answers) and the DuckDB oracle is plain SQL.
    *
    * Output: TRAINING docs that pass the contamination gate (overlap
    * fraction < [[ContaminationFrac]]) — the kept corpus, vs x29's
    * all-docs flag report.
    *
    * Where the exchanges are: the sketch is one global aggregate (1-row
    * broadcast); the confirm join's build side is the exact eval
    * shingle set (eval-bounded, unhinted — AQE broadcasts it when it
    * fits); the per-doc count is one partial-aggregated groupBy over
    * the POST-cut stream. The corpus-sized stream crosses zero
    * exchanges before the cut.
    */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleTableFrom(docs(spark, sfDir))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val benchShingles = OperatorCaches.persist(
      ex.filter(col("doc_id") < BenchmarkDocs).select("s").distinct())
    val bloom = benchShingles
      .agg(SketchFunctions.bloomAgg(col("s"), BloomExpectedItems).as("bf"))
    val train = sh.filter(col("doc_id") >= BenchmarkDocs)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
    val candidateHits = ex.filter(col("doc_id") >= BenchmarkDocs)
      .filter(SketchFunctions.bloomMightContain(bloom, col("s")))
      .select("doc_id", "s")
    val shared = candidateHits
      .join(benchShingles, "s") // exact confirm: kills false positives
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .filter(col("overlap_frac") < ContaminationFrac)
      .select("doc_id", "n_shingles", "n_shared", "overlap_frac")
      .orderBy("doc_id")
  }

  /** Tokens per chunk for [[chunkOverlap]]. */
  val ChunkSize = 32
  /** Stride between chunk starts ([[ChunkSize]] − stride = 8 tokens of
    * overlap between consecutive chunks). */
  val ChunkStride = 24

  /** x36: sliding-window CHUNKING with overlap — the step that turns
    * variable-length documents into bounded training/embedding inputs
    * (context windows for an embedder, passages for retrieval):
    * [[ChunkSize]]-token chunks every [[ChunkStride]] tokens, tail chunks
    * truncated, 8-token overlap so no token span falls on a hard cut.
    * Each chunk carries its provenance (doc, ordinal, start offset) and a
    * content hash for downstream chunk-level dedup.
    *
    * A narrow projection + explode — per-row fan-out is ⌈len/stride⌉,
    * bounded by document length, with NO shuffle (the output sort is the
    * gate's determinism requirement, not part of the operator): at 100 TB
    * this runs at scan speed like x32. */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    chunkOverlapFrom(docs(spark, sfDir))

  /** [[chunkOverlap]] over an arbitrary (doc_id, text) relation. */
  private[graft] def chunkOverlapFrom(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("start",
        explode(sequence(lit(1L), col("n_tokens"), lit(ChunkStride.toLong))))
      .withColumn("chunk_id", expr(s"(start - 1) div $ChunkStride"))
      .withColumn("chunk", slice(col("toks"), col("start"), lit(ChunkSize)))
      .select(col("doc_id"), col("chunk_id"), col("start"), col("n_tokens"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  /** Percentage of documents FIM-transformed by [[fimSplit]] (the
    * standard ~50% FIM rate). */
  val FimRatePct = 50L

  /** x40: fill-in-the-middle SPLIT — the restructuring pass that teaches
    * infilling: each selected document's token sequence partitions into
    * (prefix, middle, suffix) for PSM-style reordering. Selection AND
    * split points derive from the CONTENT hash, so the transformation is
    * a pure function of the text — reproducible across runs, partition
    * layouts, and re-ingestions, with exact duplicates transformed
    * identically (the same property as [[trainSplit]]).
    *
    * Cut points: c1 = h mod (n+1), c2 = (h div 7) mod (n+1), spans
    * [0, lo) / [lo, hi) / [hi, n). All integer arithmetic — the oracle
    * compare is drift-free. A narrow per-row projection: no shuffle, no
    * UDF — scan speed at 100 TB like x32/x36. Spans are emitted as
    * md5 content hashes (span TEXT would just duplicate the corpus
    * through the gate; consumers slice the token array themselves). */
  def fimSplit(spark: SparkSession, sfDir: String): DataFrame =
    fimSplitFrom(docs(spark, sfDir))

  /** [[fimSplit]] over an arbitrary (doc_id, text) relation. */
  private[graft] def fimSplitFrom(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        polyHash(col("text")).as("h"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("fim", pmod(col("h"), lit(100L)) < FimRatePct)
      .withColumn("c1", pmod(col("h"), col("n_tokens") + 1))
      .withColumn("c2", pmod(expr("h div 7"), col("n_tokens") + 1))
      .withColumn("lo", least(col("c1"), col("c2")))
      .withColumn("hi", greatest(col("c1"), col("c2")))
      .select(
        col("doc_id"), col("n_tokens"), col("fim"), col("lo"), col("hi"),
        col("lo").as("n_prefix"),
        (col("hi") - col("lo")).as("n_middle"),
        (col("n_tokens") - col("hi")).as("n_suffix"),
        md5(concat_ws(" ", slice(col("toks"), lit(1), col("lo"))))
          .as("prefix_hash"),
        md5(concat_ws(" ", expr("slice(toks, lo + 1, hi - lo)")))
          .as("middle_hash"),
        md5(concat_ws(" ", expr("slice(toks, hi + 1, n_tokens - hi)")))
          .as("suffix_hash"))
      .orderBy("doc_id")

  /** x42: DIALOG assembly — turn an event stream into per-session
    * training documents, the assembly pass of a conversation-data
    * pipeline: sessionize each user's events (30-min gap, q14's exact
    * rule), then concatenate the session's turns in event-time order
    * into one dialog string.
    *
    * Scale shape: the lag/running-sum windows partition BY USER (q14's
    * judgment — per-user history is bounded; a global window would
    * serialize the stream), and the assembly groupBy's per-group state
    * is one session's (ts, id, turn) array, sorted IN-ROW by
    * `array_sort` — like x39's reassembly, order is deterministic under
    * any partitioning and no task buffers more than one session. */
  def dialogAssembly(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val turns = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          date_trunc("second", col("ts")).cast("long") -
            date_trunc("second", col("prev_ts")).cast("long") > 1800, 1L)
        .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .withColumn("turn",
        concat(col("event_type"), lit("#"), col("event_id").cast("string")))
    turns.groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("ts")).as("session_start"),
        array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("turn")))).as("tt"))
      .select(col("user_id"), col("session_seq"), col("n_turns"),
        col("session_start"),
        concat_ws(" | ", expr("transform(tt, x -> x.turn)")).as("dialog"))
      .orderBy("user_id", "session_seq")
  }

  /** x23: the end-to-end curated corpus — the composition a real pipeline
    * ships: exact-dedup winners ([[Dedup.exact]] group representatives)
    * ∩ length-filter survivors ([[lengthFilter]]), each carrying its fold
    * from [[trainSplit]]. Three doc_id-keyed relations, two equi-joins
    * (AQE broadcasts the small post-filter sides at this scale; shuffles
    * co-partition on doc_id at 100 TB). Demonstrates that the curation
    * operators compose without materializing intermediates. */
  def curatedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val winners = Dedup.exact(spark, sfDir)
      .filter(col("doc_id") === col("exact_rep"))
      .select("doc_id")
    val kept = lengthFilter(spark, sfDir)
      .filter(col("keep"))
      .select("doc_id", "n_tokens")
    val folds = trainSplit(spark, sfDir).select("doc_id", "split")
    winners.join(kept, "doc_id").join(folds, "doc_id")
      .select("doc_id", "n_tokens", "split")
      .orderBy("doc_id")
  }

  /** x44: the full QUALITY GATE — the composed keep decision a pipeline
    * actually ships: [[curatedCorpus]]'s base (exact-dedup winners ∩
    * length survivors, with folds) refined by the repetition keep
    * ([[TextAnalysis.repetition]]) and the boilerplate keep
    * ([[TextAnalysis.boilerplate]]). Three doc_id-keyed relations,
    * two equi-joins — co-partitioned at 100 TB, AQE-sized here; each
    * input keeps its own operator's scale shape unchanged. The point
    * (and what the oracle gates) is that the operators COMPOSE without
    * re-deriving any intermediate. */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val base = curatedCorpus(spark, sfDir)
    val rep = TextAnalysis.repetition(spark, sfDir)
      .select(col("doc_id"), col("keep").as("rep_keep"))
    val boiler = TextAnalysis.boilerplate(spark, sfDir)
      .select(col("doc_id"), col("keep").as("boiler_keep"))
    base.join(rep, "doc_id").join(boiler, "doc_id")
      .withColumn("keep", col("rep_keep") && col("boiler_keep"))
      .select("doc_id", "n_tokens", "split", "rep_keep", "boiler_keep",
        "keep")
      .orderBy("doc_id")
  }

  /** x30: APPLY the near-dup clustering — the keep/drop decision a dedup
    * pipeline actually ships. [[Dedup.dupClusters]] labels every doc;
    * here each cluster keeps exactly its representative (the min doc_id)
    * and drops the rest. A pure projection over the clustering (the
    * keep rule is `doc_id == cluster_rep`, no extra join or shuffle) —
    * downstream consumers filter on `kept` and inherit x28's scale
    * shape unchanged. */
  def dedupApply(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.dupClusters(spark, sfDir)
      .withColumn("kept", col("doc_id") === col("cluster_rep"))
      .select("doc_id", "cluster_rep", "cluster_size", "kept")
      .orderBy("doc_id")

  /** Bucket count for [[langRebalance]]'s deterministic sampler. */
  val RebalanceBuckets = 10000L

  /** x31: language rebalancing — deterministically downsample every
    * language to (approximately) the minority language's document count,
    * the standard move when a web crawl is 40% English and the target
    * mix isn't. Keep rule: `polyHash(text) mod 10000 < threshold(lang)`
    * where `threshold = min_count * 10000 div count(lang)` — INTEGER
    * division end to end, so the oracle comparison is exact (no
    * float-rounding drift between engines) and the kept set is a pure
    * function of content (reproducible across runs, partitionings, and
    * re-ingestions; exact duplicates land in the same decision).
    *
    * Scale shape: one partial-aggregated groupBy builds the per-language
    * counts (|langs| rows), the global min and the thresholds join back
    * BROADCAST (bounded dims — the legitimate hint), and the keep
    * decision is a narrow projection. The exact-count alternative (rank
    * docs per language, keep the first min_count) needs a per-language
    * sort that funnels the largest language through one task — the
    * threshold sampler trades exactness-in-count (binomial noise around
    * the target) for a shuffle-free plan that holds at 100 TB. */
  /** Per-source keep budget for [[sourceCap]] — 20 bites at every test
    * SF (25 docs/source); a production crawl sets it per-policy
    * (RefinedWeb-style domain caps run 1e2-1e5). */
  val SourceCap = 20

  /** x51: per-SOURCE document caps — the domain-cap rule web-crawl
    * curation applies so no single site dominates the mix (RefinedWeb,
    * C4's per-domain limits): keep at most [[SourceCap]] documents per
    * source, preferring the longest (n_chars DESC, doc_id tiebreak),
    * and report every document's in-source rank and keep decision.
    *
    * This is the EXACT-count per-key top-N that [[langRebalance]]'s
    * scaladoc rules out as a rank window (`PARTITION BY source` funnels
    * the hottest domain's every document through one task): the
    * scale-correct formulation is the bounded-heap
    * [[graft.functions.TopKByScore]] aggregator — partial-aggregated,
    * so each map partition reduces to ≤ cap rows per source BEFORE the
    * shuffle, and the hot source costs O(partitions·cap), not its
    * document count. The kept set (|sources|·cap rows) joins back to
    * the corpus UNHINTED: source cardinality grows with a real crawl
    * (1e8 domains × cap is nothing to broadcast), so only AQE may
    * choose the build side. Ordering is total (length, then id), so
    * the kept set is deterministic and the oracle's rank window —
    * fine at oracle scale — reproduces it exactly. */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val kept = TopKByScore.ranked(d, Seq("source"), SourceCap,
        col("n_chars").cast("double"), col("doc_id"), lit(0))
      .select(col("source"), col("neighbor_id").as("doc_id"),
        col("rank").as("src_rank"))
    d.select(col("doc_id"), col("source"), col("n_chars"))
      .join(kept, Seq("source", "doc_id"), "left")
      .withColumn("keep", col("src_rank").isNotNull)
      .select("doc_id", "source", "n_chars", "src_rank", "keep")
      .orderBy("doc_id")
  }

  def langRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val minc = counts.agg(min("n_docs").as("min_docs"))
    val th = counts.join(broadcast(minc))
      .withColumn("threshold",
        expr(s"min_docs * $RebalanceBuckets div n_docs"))
      .select(col("lang"), col("threshold"))
    d.select(col("doc_id"), col("lang"),
        pmod(polyHash(col("text")), lit(RebalanceBuckets)).as("bucket"))
      .join(broadcast(th), "lang")
      // null text hashes to a null bucket: never kept (there is nothing
      // to train on), matching the oracle's COALESCE
      .withColumn("keep", coalesce(col("bucket") < col("threshold"), lit(false)))
      .select("doc_id", "lang", "bucket", "threshold", "keep")
      .orderBy("doc_id")
  }

  /** Shard count for [[shuffleShards]]. In production this is
    * corpus_size / target_shard_docs (WebDataset-style shards of ~10k
    * docs); fixed here so the per-shard positions are comparable across
    * SFs in specs. */
  val NumShards = 8

  /** x61: deterministic epoch shuffle — the global random-order shard
    * assignment a training run needs before writing sequence shards.
    * Each doc gets shard = H(epoch, doc_id) mod S and an in-shard
    * position by a second independent hash, so the full corpus is a
    * reproducible permutation keyed ONLY by (epoch, doc_id) — re-running
    * the pipeline, or re-sharding after a failure, yields byte-identical
    * shards, and changing `epoch` reshuffles everything.
    *
    * Scale shape: the assignment is a pure map over the scan (no state,
    * no sampling pass); the in-shard ordering is a per-shard window,
    * which at 100 TB is exactly the `repartition(shard)` +
    * `sortWithinPartitions(order_h)` write path — S grows with the
    * corpus (docs/10k), so a shard stays one task's worth of data by
    * construction and no global sort ever happens. */
  def shuffleShards(spark: SparkSession, sfDir: String): DataFrame =
    shuffleShardsFrom(docs(spark, sfDir), 1)

  /** [[shuffleShards]] over an arbitrary (doc_id) relation and epoch
    * (specs check epoch-1 vs epoch-2 orders are decorrelated and each is
    * a permutation). */
  private[graft] def shuffleShardsFrom(d: DataFrame, epoch: Int): DataFrame = {
    val assigned = d.select(
      col("doc_id"),
      pmod(polyHash(concat(lit(s"e$epoch:"), col("doc_id").cast("string"))),
        lit(NumShards)).as("shard"),
      polyHash(concat(lit(s"o$epoch:"), col("doc_id").cast("string")))
        .as("order_h"))
    assigned
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard")
          .orderBy(col("order_h"), col("doc_id"))).cast("long"))
      .select("doc_id", "shard", "order_h", "pos")
      .orderBy("shard", "pos")
  }

  /** Pattern length for [[exactDecontaminate]] — the leading span of a
    * benchmark document that must not appear verbatim in training text
    * (the exact-substring flavor of decontamination: catches quoted
    * benchmark prompts that shingle-overlap scoring dilutes away on
    * long documents). */
  val PatternChars = 40

  /** x75: EXACT-SUBSTRING decontamination — flags training documents
    * containing the first [[PatternChars]] characters of any benchmark
    * document verbatim. Complements x29/x52 (shingle-overlap fraction):
    * a single quoted benchmark prompt inside a long document keeps a
    * near-zero overlap FRACTION but is still leakage; the exact
    * substring test is the standard second gate (e.g. contamination =
    * verbatim span of length ≥ N).
    *
    * Scale shape: the benchmark pattern set is bounded (eval-suite
    * sized), collapsed to a ONE-ROW sorted array (the df_cap 1-row
    * broadcast pattern) and cross-joined broadcast into a pure map
    * stage — `size(filter(patterns, contains))` evaluates P substring
    * probes per document with ZERO join fan-out rows and zero
    * shuffles before the presentation sort. At 100 TB this is the
    * honest O(P·corpus-chars) multi-pattern scan; the corpus crosses
    * no exchange. */
  def exactDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    exactDecontaminateFrom(docs(spark, sfDir))

  /** [[exactDecontaminate]] over an arbitrary (doc_id, text) relation —
    * the testable core (fixtures plant a verbatim benchmark prefix in a
    * training doc). */
  private[graft] def exactDecontaminateFrom(d: DataFrame): DataFrame = {
    val patterns = d
      .filter(col("doc_id") < BenchmarkDocs && col("text").isNotNull
        && length(col("text")) >= PatternChars)
      .select(substring(col("text"), 1, PatternChars).as("p"))
      .agg(sort_array(collect_set(col("p"))).as("patterns"))
    d.filter(col("doc_id") >= BenchmarkDocs && col("text").isNotNull)
      .crossJoin(broadcast(patterns))
      .select(col("doc_id"),
        size(expr("filter(patterns, p -> contains(text, p))"))
          .cast("long").as("n_patterns_hit"))
      .withColumn("contaminated", col("n_patterns_hit") > 0L)
      .select("doc_id", "n_patterns_hit", "contaminated")
      .orderBy("doc_id")
  }

  /** x78: BALANCED STRATIFIED SAMPLE — deterministic content-keyed
    * downsampling to the smallest stratum's size: every source keeps
    * `min_count/n_s` of its documents via an integer micro-rate
    * threshold on the content hash, so the expected per-source yield
    * is equal (the class-balancing draw before training on skewed
    * source mixes). Content-keyed like x20: the decision survives
    * re-ingestion with different doc_ids and keeps exact duplicates
    * together (they sample identically).
    *
    * All-integer: `thr_s = ⌊min_count·10⁶ / n_s⌋` and the keep test is
    * `polyHash(text) mod 10⁶ < thr_s` — no float anywhere, so the gate
    * is hash-exact by construction. Scale shape: per-source counts are
    * a source-bounded partial aggregate broadcast back over a pure map
    * stage; the corpus crosses zero exchanges. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedSampleFrom(docs(spark, sfDir))

  /** [[stratifiedSample]] over an arbitrary (doc_id, source, text)
    * relation — the testable core. */
  private[graft] def stratifiedSampleFrom(docsDf: DataFrame): DataFrame = {
    val d = docsDf.filter(col("text").isNotNull)
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val minc = counts.agg(min(col("n_s")).as("min_count"))
    val thr = counts.join(broadcast(minc))
      .select(col("source"),
        expr("min_count * 1000000 DIV n_s").as("thr")) // integer division
    d.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"),
        pmod(polyHash(col("text")), lit(1000000L)).as("bucket"), col("thr"))
      .filter(col("bucket") < col("thr"))
      .orderBy("doc_id")
  }

  /** x87: CONTENT-DEFINED CHUNKING stats — per-document chunk counts
    * under the stateless gear-style cut rule
    * ([[graft.expressions.CdcChunks]]: boundary where the trailing
    * 8-char window hash has its low 5 bits zero, expected chunk ≈ 32
    * chars). Unlike x36's FIXED windows, CDC boundaries move WITH the
    * content: an insertion near the front of a document shifts every
    * fixed-window frame but leaves all content-defined chunks after the
    * edit identical — the property that makes chunk-hash dedup robust
    * to prepended boilerplate (the storage-dedup trick applied to
    * corpus text).
    *
    * Scale shape: one codegen'd pass per document (a narrow projection,
    * scan speed at 100 TB like x32/x36); the stats are per-row folds
    * over the in-row length array — zero shuffles before the
    * presentation sort. */
  def cdcChunkStats(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunkStatsFrom(docs(spark, sfDir))

  /** [[cdcChunkStats]] over an arbitrary (doc_id, text) relation — the
    * testable core (the expression itself is model-pinned in
    * GraftProperties; fixtures here check the stats algebra). */
  private[graft] def cdcChunkStatsFrom(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        cdcChunks(col("text")).as("lens"))
      .select(col("doc_id"), col("n_chars"),
        size(col("lens")).cast("long").as("n_chunks"),
        array_max(col("lens")).cast("long").as("max_chunk"),
        (col("n_chars").cast("double") / size(col("lens")).cast("double"))
          .as("avg_chunk_chars"))
      .orderBy("doc_id")

  /** Max CDC chunk length admitted by [[qualityGate2]] — a chunk far
    * past the expected 2^MaskBits = 32 chars means a long stretch where
    * the content-defined cut never fired: low-entropy/repetitive text
    * (the CDC-side analogue of x25's repetition fractions). */
  val MaxChunkGate = 128L

  /** x94: the round-9 COMPOSED QUALITY GATE — the shippable keep
    * decision assembled from this round's new signals, the x44 pattern
    * applied one generation later: keep a document iff (a) its token
    * count clears its OWN source's exact P25 calibration (x79), (b) it
    * carries no Luhn-valid card-shaped PII (x88), and (c) its largest
    * content-defined chunk stays under [[MaxChunkGate]] chars (x87's
    * cut discipline as a low-entropy detector).
    *
    * Scale shape: inherits each input's shape — x88/x87 are pure map
    * stages computed in the SAME projection pass here (no join at
    * all for those two signals), and x79 contributes one
    * source-bounded threshold broadcast; the verdict is a narrow
    * conjunction. The oracle composes the three verified sub-oracles. */
  def qualityGate2(spark: SparkSession, sfDir: String): DataFrame =
    qualityGate2From(docs(spark, sfDir))

  /** [[qualityGate2]] over an arbitrary (doc_id, source, text) relation
    * — the testable core. */
  private[graft] def qualityGate2From(docsDf: DataFrame): DataFrame =
    qualityGate2Core(docsDf).orderBy("doc_id")

  /** Per-source P25 token-count thresholds (x79's calibration) over an
    * arbitrary (source, text) relation — the CALIBRATION seam: x94
    * computes it over the same relation it gates (calibrate on what
    * enters the stage), while x118's streaming corpus build computes it
    * over the STANDING base corpus and broadcasts the tiny (source,
    * threshold) table to the arriving stream — the only streaming-legal
    * stance (a per-micro-batch percentile would be neither
    * deterministic nor what an at-ingest gate means). The percentile
    * runs over the bounded (source, n_tokens) histogram, never corpus
    * rows, so the broadcast is a few rows regardless of corpus size. */
  private[graft] def tokenThresholdsFrom(docsDf: DataFrame): DataFrame = {
    val hist = docsDf
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("source"), size(tokens(col("text"))).cast("long")
        .as("n_tokens"))
      .groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
    hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("source").orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_s", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("k",
        expr(s"(n_s * ${TextAnalysis.CalibratePct} + 99) DIV 100"))
      .filter(col("cum") >= col("k"))
      .groupBy("source").agg(min(col("n_tokens")).as("threshold"))
  }

  /** [[qualityGate2From]] WITHOUT the final determinism sort — the
    * composition seam (x117 persists this; caching the sorted form
    * would materialize a corpus sort no consumer needs). */
  private[graft] def qualityGate2Core(docsDf: DataFrame): DataFrame = {
    val d = docsDf.filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(Seq(col("doc_id"), col("source")) ++
        gateSignals.map { case (name, c) => c.as(name) }: _*)
    d.join(broadcast(tokenThresholdsFrom(docsDf)), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("max_chunk"), col("n_luhn_valid"),
        gateKeep(col("n_tokens") >= col("threshold")).as("keep"))
  }

  /** x94's per-doc gate signals over `text`, by output name (x88's Luhn
    * rule for the card count); x118's streaming build projects them too. */
  private[graft] def gateSignals: Seq[(String, Column)] = Seq(
    "n_tokens" -> size(tokens(col("text"))).cast("long"),
    "max_chunk" -> array_max(cdcChunks(col("text"))).cast("long"),
    "n_luhn_valid" -> size(expr(
      "filter(regexp_extract_all(text, '[0-9]{13,19}', 0), " +
        s"r -> ${TextAnalysis.luhnOk("r")})")).cast("long"))

  /** x94's keep predicate over [[gateSignals]]: `tokensOk` (the caller's
    * threshold test), no Luhn-valid run, largest chunk ≤ [[MaxChunkGate]]. */
  private[graft] def gateKeep(tokensOk: Column): Column =
    tokensOk && col("n_luhn_valid") === 0L && col("max_chunk") <= MaxChunkGate

  /** Sample size for [[weightedSample]]. */
  val SampleK = 100
  /** Resolution of the uniform draw derived from the content hash. */
  val SampleUScale = 1000000L

  /** x82: WEIGHTED sampling WITHOUT replacement (Efraimidis–Spirakis) —
    * draw [[SampleK]] documents with inclusion probability proportional
    * to token count, deterministically: each doc's uniform u ∈ (0, 1]
    * comes from its CONTENT hash (so the draw is reproducible across
    * runs, partitionings, and re-ingestions — the x20 property), and
    * the ES key u^(1/w) reduces to ordering by ln(u)/w, which the
    * operator evaluates as ONE double division of an exact quantized
    * ln(u) by the exact token count (no float accumulation anywhere).
    * The draw every mixture sampler (x22's weights) actually needs to
    * EXECUTE its allocation.
    *
    * Scale shape: a narrow map stage (hash, ln-quantize, divide) into
    * `orderBy(key).limit(k)` → TakeOrderedAndProject per-partition
    * heaps — the x77 top-k shape; the rank window runs over the
    * already-limited k rows. No corpus exchange at all. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    weightedSampleFrom(docs(spark, sfDir))

  /** Share of the corpus's tokens the [[tokenBudget]] allocation may
    * spend (percent). */
  val BudgetPct = 50L

  /** x86: WATER-FILLING token-budget allocation — split a training
    * budget of [[BudgetPct]]% of the corpus's tokens across sources so
    * that every source gets `min(n_s, λ)` tokens, with the level λ
    * chosen so the quotas exactly exhaust the budget (up to the <|capped
    * sources| integer remainder, which stays unallocated). The fair-cap
    * mixture rule: small sources keep everything, the largest sources
    * are capped at a COMMON level instead of pro-rata (which would let
    * one giant crawl dominate the mix — the x22/x51 judgment applied to
    * the budget itself).
    *
    * Scale shape: the corpus collapses to per-source token counts in
    * one partial aggregate; λ comes from the classic sorted-prefix
    * closed form — for each split point k, λ_k = (B − cum_k) ÷ (S − k),
    * valid iff n_k ≤ λ_k < n_{k+1} (exactly one k qualifies; all
    * integer arithmetic) — evaluated with windows over the
    * SOURCE-bounded aggregate (never corpus rows), and the quota pass
    * is a map over that same tiny table. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    tokenBudgetFrom(docs(spark, sfDir))

  /** [[tokenBudget]] over an arbitrary (doc_id, source, text) relation —
    * the testable core (fixtures pin λ against a hand-solved
    * allocation, plus the degenerate budget ≥ corpus case). */
  private[graft] def tokenBudgetFrom(docsDf: DataFrame): DataFrame = {
    val counts = OperatorCaches.persist(
      docsDf.filter(col("text").isNotNull)
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n_tokens")))
    val tot = counts.agg(
      sum(col("n_tokens")).as("total"), count(lit(1)).as("s"))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = counts.join(broadcast(tot))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_prev", coalesce(
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_n", lag(col("n_tokens"), 1).over(w))
      .withColumn("lam",
        expr(s"((total * $BudgetPct) DIV 100 - cum_prev) DIV (s - rn + 1)"))
      .filter((col("rn") === 1L || col("lam") >= col("prev_n")) &&
        col("lam") < col("n_tokens"))
    val lamRow = ranked.agg(min(col("lam")).as("lambda"))
    counts.crossJoin(broadcast(lamRow))
      .select(col("source"), col("n_tokens"),
        least(col("n_tokens"),
          coalesce(col("lambda"), col("n_tokens"))).as("quota"))
      .withColumn("capped", col("quota") < col("n_tokens"))
      .orderBy("source")
  }

  /** [[weightedSample]] over an arbitrary (doc_id, source, text)
    * relation — the testable core (fixtures check determinism and that
    * the key formula matches a driver-side recomputation). */
  private[graft] def weightedSampleFrom(docsDf: DataFrame): DataFrame = {
    val top = docsDf.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("weight"),
        (pmod(polyHash(col("text")), lit(SampleUScale)) + 1L).as("u_scaled"))
      .withColumn("lnu_scaled",
        floor(log(col("u_scaled").cast("double") / SampleUScale.toDouble)
          * SampleUScale + lit(0.5)).cast("long"))
      .withColumn("es_key",
        col("lnu_scaled").cast("double") / col("weight").cast("double"))
      .select("doc_id", "source", "weight", "es_key")
      .orderBy(desc("es_key"), col("doc_id")).limit(SampleK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("es_key"), col("doc_id"))).cast("long"))
      .select("rank", "doc_id", "source", "weight", "es_key")
      .orderBy("rank")
  }

  /** Fixed-point scale for [[temperatureMixture]]'s quantized √n source
    * scores (6 decimal digits — the floor makes the cross-engine value
    * bit-deterministic; see the operator scaladoc). */
  val MixtureQScale = 1000000L

  /** x98: TEMPERATURE-BASED SOURCE MIXTURE — the data-mixing step that
    * decides how much of each source a training run samples. Raw
    * proportional sampling lets one huge source (Common-Crawl-scale)
    * drown every small one; the standard fix samples source s with
    * probability ∝ n_s^α for a temperature α < 1 (multinomial mixture
    * smoothing). α is pinned to 1/2 here because √ is the one power both
    * engines compute CORRECTLY ROUNDED per IEEE-754 (an arbitrary
    * `pow(x, 0.7)` is not so guaranteed and may differ in the last ulp
    * across engines): the per-source score is ⌊√n_s · 10⁶⌋ (every step —
    * sqrt, multiply, floor — deterministic), scores sum EXACTLY as
    * longs, and the final weights/epoch factors are single correctly-
    * rounded double divisions of exact integers. Emits per source: doc
    * count, raw share, quantized score, mixture weight, and the
    * oversampling factor weight·N/n_s (how many epochs of the source one
    * corpus-sized sample consumes — >1 for small sources, <1 for large).
    *
    * Scale shape: one map-side-combined count per source (|S| rows — 20
    * here, thousands at worst), then driver-free composition with the
    * 1-row total via a broadcast cross join. The whole operator is a
    * single corpus scan of one column. */
  def temperatureMixture(spark: SparkSession, sfDir: String): DataFrame =
    temperatureMixtureFrom(docs(spark, sfDir))

  /** [[temperatureMixture]] over an arbitrary (doc_id, source) relation —
    * the testable core (fixtures check the α=1/2 smoothing: a 100×
    * larger source gets only 10× the weight). */
  private[graft] def temperatureMixtureFrom(docsDf: DataFrame): DataFrame = {
    val per = docsDf.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("q_score",
        floor(sqrt(col("n_docs").cast("double")) * MixtureQScale.toDouble)
          .cast("long"))
    val tot = per.agg(sum(col("q_score")).as("q_total"),
      sum(col("n_docs")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("raw_share"),
        col("q_score"),
        (col("q_score").cast("double") / col("q_total").cast("double"))
          .as("weight"),
        (col("q_score").cast("double") / col("q_total").cast("double")
          * col("n_total").cast("double") / col("n_docs").cast("double"))
          .as("oversample"))
      .orderBy("source")
  }

  /** x112: per-cluster keep quota — at most this many documents survive
    * from each near-dup signature cluster. A production run tunes it
    * per corpus (D4-style diversity pruning keeps single digits per
    * dense cluster). */
  val ClusterQuota = 8

  /** x112: DIVERSITY-QUOTA SAMPLING — the cluster-then-cap step between
    * dedup and mixing (the D4 recipe, Tirumala et al. 2023,
    * arXiv:2308.12284: dedup, cluster, then prune dense regions):
    * every document is assigned to its 16-bit SimHash cluster (x28's
    * CLUSTER signature — one codegen'd pass, no training), and each
    * cluster keeps at most [[ClusterQuota]] members, chosen by content
    * hash so the survivor set is a deterministic pure function of the
    * corpus — reproducible across runs, partitionings, and engines.
    * Dense boilerplate regions (one template crawled a million times
    * lands in one cluster) are cut to a constant, while sparse clusters
    * pass through whole — exactly the diversity-per-region contract a
    * training mix wants after near-dedup.
    *
    * Scale shape is x77's (sourceCap): the per-cluster selection is the
    * bounded-heap [[graft.functions.TopKByScore]] partial aggregate —
    * each map partition reduces to ≤ quota rows per cluster BEFORE the
    * shuffle, so the million-member cluster costs O(partitions·quota),
    * never a `PARTITION BY cluster` rank window (which funnels the
    * hottest cluster through one task). The 52-bit md5-prefix orders
    * identically as a long (Spark, exact in the aggregator's double)
    * and as a fixed-width lowercase hex string (oracle) — ties broken
    * by doc_id on both sides. Null-text docs carry a null cluster and
    * are kept as singletons (they have no content to be dense WITH —
    * the x28 judgment). */
  def clusterQuotaSample(spark: SparkSession, sfDir: String): DataFrame =
    clusterQuotaSampleFrom(Tables.documentsParallel(spark, sfDir))

  private[graft] def clusterQuotaSampleFrom(docsDf: DataFrame): DataFrame = {
    val d = OperatorCaches.persist(docsDf.select(
      col("doc_id"),
      simhash64(col("text")).bitwiseAND(lit(Dedup.ClusterSigMask))
        .as("cluster"),
      conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long")
        .as("h52")))
    val withSig = d.filter(col("cluster").isNotNull)
    val sizes = withSig.groupBy(col("cluster").as("k_cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    val kept = TopKByScore.ranked(withSig, Seq("cluster"), ClusterQuota,
        (-col("h52")).cast("double"), col("doc_id"), lit(0))
      .select(col("cluster").as("q_cluster"), col("neighbor_id").as("doc_id"),
        col("rank").as("q_rank"))
    d.join(sizes, col("cluster") === col("k_cluster"), "left")
      .drop("k_cluster")
      .join(kept,
        col("cluster") === col("q_cluster") &&
          d("doc_id") === kept("doc_id"), "left")
      .select(d("doc_id"), col("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        col("q_rank"),
        (col("cluster").isNull || col("q_rank").isNotNull).as("kept"))
      .orderBy(d("doc_id"))
  }

  /** x114: SPLIT-LEAKAGE AUDIT — the contingency table of verified
    * near-dup pairs (x2's pair relation) against x20's train/valid/test
    * folds: for every fold pair, how many near-dup pairs land with one
    * member in each. x20's content-hash split keeps EXACT duplicates in
    * one fold by construction; near-duplicates can still straddle a
    * boundary and leak eval text into training — the audit every
    * dedup-aware split ships with (the reason production pipelines
    * split by near-dup COMPONENT, not by document). Rows with
    * `leaked = true` are the cross-fold mass; `pair_share` weights each
    * cell against the whole pair relation.
    *
    * Scale shape: the pair relation is the session-shared
    * [[Dedup.pairTable]] materialization (fourth consumer, after
    * x99/x101/x102 — one LSH build per session); the fold table is a
    * narrow per-doc projection joined twice on doc_id (shuffle linear
    * in |pairs| + |docs|), the total a 1-row broadcast, and the output
    * ≤ 6 rows (3 folds choose 2 + diagonal) at any corpus size. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame =
    splitLeakageFrom(
      trainSplit(spark, sfDir).select(col("doc_id"), col("split")),
      Dedup.pairTable(spark, sfDir))

  /** [[splitLeakage]] over arbitrary (doc_id, split) fold and
    * (doc_a, doc_b) pair relations — the testable core (fixtures pin
    * the contingency cells and shares on hand-built graphs). */
  private[graft] def splitLeakageFrom(
      folds: DataFrame, pairs: DataFrame): DataFrame = {
    val cells = pairs
      .join(folds.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(folds.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .select(least(col("split_a"), col("split_b")).as("fold_a"),
        greatest(col("split_a"), col("split_b")).as("fold_b"))
      .groupBy("fold_a", "fold_b")
      .agg(count(lit(1)).as("n_pairs"))
    val tot = cells.agg(sum(col("n_pairs")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("fold_a"), col("fold_b"), col("n_pairs"),
        (col("fold_a") =!= col("fold_b")).as("leaked"),
        (col("n_pairs").cast("double") / col("n_total").cast("double"))
          .as("pair_share"))
      .orderBy("fold_a", "fold_b")
  }

  /** x115: reciprocal-rank-fusion constant (Cormack & Clarke SIGIR'09's
    * standard k = 60 — dampens the head so no single signal's top rank
    * dominates the fused score). */
  val RrfK = 60L

  /** x115: quantization scale for the type-token-ratio signal — ranks
    * are derived from VALUE HISTOGRAMS (see below), so every signal's
    * distinct-value count must stay corpus-size-independent; a 0..1000
    * integer TTR bounds its histogram at 1001 rows at any N. */
  val TtrScale = 1000L

  /** x115: QUALITY RANK FUSION — combine three per-document quality
    * signals (token count, stopword hits, quantized type-token ratio —
    * each "higher is better": longer, more natural, less repetitive)
    * into one reciprocal-rank-fusion score
    * `rrf = Σ_s 1/([[RrfK]] + rank_s)`, the standard way production
    * pipelines merge heterogeneous quality signals without learning
    * weights (rank space is scale-free, so token counts and ratios
    * fuse without normalization).
    *
    * THE GLOBAL-RANK TRAP, and why this operator exists in this shape:
    * the textbook formulation — `RANK() OVER (ORDER BY signal DESC)`
    * per signal — is an unpartitioned window, which funnels the ENTIRE
    * corpus through one sorting task (the same class of plan the x31
    * guard forbids). Competition rank is a pure function of the
    * signal's VALUE: rank(v) = 1 + #rows with value > v. So each
    * signal's ranks are derived from its VALUE HISTOGRAM — a
    * partial-aggregated groupBy (map-side combined, corpus-linear),
    * a running sum over the histogram (a bounded relation: ≤ max
    * tokens-per-document rows for s_len/s_stop, ≤ [[TtrScale]]+1 for
    * s_ttr — corpus-SIZE-independent all three, so the single-partition
    * window is over a small fixed relation), and a broadcast join back.
    * The corpus itself is never globally sorted; the only corpus-sized
    * exchanges are the three broadcast-join-free scans and the output
    * sort. The DuckDB oracle keeps the textbook RANK() windows — same
    * values, quadratically different plan.
    *
    * rrf is three correctly-rounded double divisions summed left to
    * right over exact integer ranks — bit-identical cross-engine. */
  def qualityFusion(spark: SparkSession, sfDir: String): DataFrame =
    qualityFusionFrom(Tables.documentsParallel(spark, sfDir))

  /** [[qualityFusion]] over an arbitrary (doc_id, text) relation — the
    * testable core (fixtures pin ranks, ties, and the fused score
    * against a driver-side model). */
  private[graft] def qualityFusionFrom(d: DataFrame): DataFrame = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    val sig = OperatorCaches.persist(
      d.filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("s_len"),
          expr(s"CAST(size(filter(t, x -> x IN ($stopList))) AS BIGINT)")
            .as("s_stop"),
          expr(s"CAST(size(array_distinct(t)) AS BIGINT) * $TtrScale " +
            "div CAST(size(t) AS BIGINT)").as("s_ttr")))
    // competition rank from the signal's value histogram: rank(v) =
    // 1 + Σ counts of strictly better values — the running sum runs
    // over the BOUNDED histogram (scaladoc above), never the corpus
    def rankOf(cname: String, rname: String): DataFrame =
      sig.groupBy(col(cname)).agg(count(lit(1)).as("cnt"))
        .withColumn(rname,
          lit(1L) + coalesce(
            sum(col("cnt")).over(Window.orderBy(col(cname).desc)
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col(cname), col(rname))
    sig
      .join(broadcast(rankOf("s_len", "r_len")), "s_len")
      .join(broadcast(rankOf("s_stop", "r_stop")), "s_stop")
      .join(broadcast(rankOf("s_ttr", "r_ttr")), "s_ttr")
      .select(col("doc_id"), col("r_len"), col("r_stop"), col("r_ttr"),
        (lit(1.0) / (lit(RrfK) + col("r_len")).cast("double") +
          lit(1.0) / (lit(RrfK) + col("r_stop")).cast("double") +
          lit(1.0) / (lit(RrfK) + col("r_ttr")).cast("double")).as("rrf"))
      .orderBy("doc_id")
  }

  /** x117: the COMPOSED END-TO-END CORPUS BUILD — the deployment story
    * the battery implies query by query, stated as ONE plan: the
    * production path normalized dedup (x110) → near-dup keep (x102) →
    * quality gate v2 (x94) → decontamination (x52) → temperature
    * mixture (x98) → sequence packing (x26), run through the SHARED
    * seams in one session, emitting a verdict row for EVERY document
    * (the x103 never-silently-dropped rule) plus the per-source output
    * stats a training run consumes.
    *
    * Pipeline semantics (each stage sees the previous stage's
    * survivors; a stage verdict is NULL for docs that never reached it):
    *   - population: train docs (`doc_id >= ` [[BenchmarkDocs]]); eval
    *     docs are the benchmark, not candidates — verdicts NULL,
    *     `final_kept` false, flagged `is_eval`.
    *   - s1 `s1_norm_kept`: x110's canonical-form group representative.
    *   - s2 `s2_dedup_kept`: x102's longest-text keep policy over the
    *     near-dup component labels of the session-shared full-corpus
    *     LSH build ([[graft.operators.Dedup.dupComponents]] — union-find
    *     over the whole corpus, THEN restricted to s1 survivors: the
    *     standard order, since removing docs never creates new pairs,
    *     and transitive links through removed members still witness
    *     near-duplication), argmax re-run among survivors only.
    *   - s3 `s3_quality_kept`: x94's gate with its per-source P25 token
    *     calibration computed over s2 SURVIVORS (calibrate on what
    *     enters the stage); docs with no text fail explicitly.
    *   - s4 `s4_clean`: x52's eval-overlap contamination cut (shingle
    *     table = the same session-shared relation the LSH build reads);
    *     zero-shingle docs fail closed, x52's stance.
    *   - mixture: x98's α=1/2 temperature weights over the FINAL kept
    *     corpus, joined back per source (`src_kept_docs`, `src_weight`,
    *     `src_oversample` — null for sources with nothing kept).
    *   - packing: x26's sharded running token sum over the kept corpus
    *     (`shard`, `seq_in_shard`, `offset_in_seq`, `crosses_boundary`
    *     — null for dropped docs).
    *
    * Scale shape: every stage keeps its proven standalone shape — the
    * LSH pair build is paid ONCE per session (memoized, checkpointed,
    * lineage-truncated), the gate signal projection runs ONCE (inside
    * the s3 barrier, plan-guarded), the calibration/mixture aggregates
    * are source-bounded broadcasts, packing is the shard-parallel
    * window — and the capstone adds only doc_id equi-joins
    * (corpus-linear, partial-aggregated) plus one broadcast source
    * join. Stage verdicts are eager lineage-truncated barriers (see the
    * inline note: self-joins over shared lineage defeat plan-matched
    * caching, and the barrier is the production materialization stance
    * anyway), so the assembled plan reads four narrow materialized
    * tables, never a stage's build twice. The final orderBy is the
    * gate's determinism requirement, not operator work. */
  def corpusBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    val all = Tables.documentsParallel(spark, sfDir)
    val train = all.filter(col("doc_id") >= BenchmarkDocs)
    // Each stage is an EAGER LINEAGE-TRUNCATED BARRIER
    // (OperatorCaches.materializeTruncated), not a lazy persist: every
    // stage relation is consumed at least twice (as a verdict column
    // and as the next stage's survivor filter), and those consumers
    // SELF-JOIN over shared lineage — which defeats plan-matched
    // caching outright (DeduplicateRelations re-instances the
    // dupComponents checkpoint's LogicalRDD on the rewritten branch,
    // sameResult fails, and the CacheManager silently re-runs the whole
    // stage per consumer: the gate projection appeared 9× in the plan
    // under persist()). The barrier is also the production deployment
    // shape — a 100 TB corpus build materializes each stage's narrow
    // verdict table once and fans out from the materialization. Each
    // stage runs exactly once BY CONSTRUCTION (eager, at its val).
    // s1: normalized exact dedup over the train population. The s1
    // barrier and the component solve below are INDEPENDENT (s1 reads
    // only the documents scan; dupComponents reads the shingle/pair
    // machinery), yet both are driver-blocking eager builds — run
    // sequentially they cost their SUM in wall-clock while the tail of
    // each leaves most cores idle. Submitting s1 from a helper thread
    // lets the scheduler back-fill (guide §2.6 "overlap independent
    // jobs"): peak wall-clock becomes ~max(s1, component solve). Spark's
    // scheduler is made for this; the shared OperatorCaches registry is
    // synchronized, and materializeRoundReleasable identifies its
    // checkpoint storage exactly (no registry diff), so a concurrent
    // barrier cannot be mis-released. This shares nothing across
    // queries — both builds belong to this one operator invocation.
    val (s1, comp) = graft.util.Overlap.run(spark)(
      OperatorCaches.materializeTruncated(Dedup.normalizedDedupCore(train)
        .select(col("doc_id"), col("is_canonical").as("s1_norm_kept"))))(
      // the component solve runs on THIS thread, concurrently with s1
      Dedup.dupComponents(spark, sfDir))
    val s1k = s1.filter(col("s1_norm_kept")).select("doc_id")
    // s2: full-corpus component labels restricted to s1 survivors,
    // x102's argmax keep policy re-run among the survivors
    val compS1 = comp
      .select("doc_id", "component_rep").join(s1k, "doc_id")
    val comp2 = compS1.join(
      compS1.groupBy("component_rep").agg(count(lit(1)).as("component_size")),
      "component_rep")
    val s2 = OperatorCaches.materializeTruncated(Dedup.canonicalKeepCore(
        train.select("doc_id", "n_chars"), comp2)
      .select(col("doc_id"), col("kept").as("s2_dedup_kept")))
    val s2k = s2.filter(col("s2_dedup_kept")).select("doc_id")
    // s3: x94's gate, calibrated over the s2 survivors it sees — the
    // gate projection is consumed exactly once, inside this barrier
    val gate = qualityGate2Core(
      train.select("doc_id", "source", "text").join(s2k, "doc_id"))
    val s3 = OperatorCaches.materializeTruncated(s2k.join(
        gate.select(col("doc_id"), col("keep"), col("n_tokens")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep"), lit(false))
        .as("s3_quality_kept"), col("n_tokens")))
    val s3k = s3.filter(col("s3_quality_kept")).select("doc_id", "n_tokens")
    // s4: x52's contamination cut against the fixed eval shingle set,
    // over the session-shared shingle table (zero-shingle docs have no
    // row there and fail closed — FALSE AND NULL = FALSE both engines)
    val sh = Dedup.shingleTable(spark, sfDir)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val bench = ex.filter(col("doc_id") < BenchmarkDocs)
      .select("s").distinct()
    val nsh = sh.select(col("doc_id"),
      size(col("sh")).cast("long").as("n_shingles"))
    val shared = ex.join(s3k.select("doc_id"), "doc_id").join(bench, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val s4 = OperatorCaches.materializeTruncated(
      s3k.join(nsh, Seq("doc_id"), "left")
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (coalesce(col("n_shingles"), lit(0L)) > 0L &&
            coalesce(col("n_shared"), lit(0L)).cast("double")
              / col("n_shingles").cast("double") < ContaminationFrac)
            .as("s4_clean")))
    val fk = s4.filter(col("s4_clean")).select("doc_id", "n_tokens")
    // per-source output stats: x98's mixture over the kept corpus
    val mix = temperatureMixtureFrom(
        all.select("doc_id", "source").join(fk.select("doc_id"), "doc_id"))
      .select(col("source"), col("n_docs").as("src_kept_docs"),
        col("weight").as("src_weight"), col("oversample").as("src_oversample"))
    // packing: x26's sharded running sum over the kept corpus
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pack = fk
      .withColumn("shard", pmod(col("doc_id"), lit(PackShards)))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        expr(s"cum_before div $PackBudget").as("seq_in_shard"),
        pmod(col("cum_before"), lit(PackBudget)).as("offset_in_seq"),
        (pmod(col("cum_before"), lit(PackBudget)) + col("n_tokens")
          > lit(PackBudget)).as("crosses_boundary"))
    all.select(col("doc_id"), col("source"),
        (col("doc_id") < BenchmarkDocs).as("is_eval"))
      .join(s1, Seq("doc_id"), "left")
      .join(s2, Seq("doc_id"), "left")
      .join(s3.select("doc_id", "s3_quality_kept"), Seq("doc_id"), "left")
      .join(s4.select("doc_id", "s4_clean"), Seq("doc_id"), "left")
      .join(pack, Seq("doc_id"), "left")
      .join(mix, Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("is_eval"),
        col("s1_norm_kept"), col("s2_dedup_kept"), col("s3_quality_kept"),
        col("s4_clean"),
        coalesce(col("s4_clean"), lit(false)).as("final_kept"),
        col("shard"), col("seq_in_shard"), col("offset_in_seq"),
        col("crosses_boundary"),
        col("src_kept_docs"), col("src_weight"), col("src_oversample"))
      .orderBy("doc_id")
  }
}
