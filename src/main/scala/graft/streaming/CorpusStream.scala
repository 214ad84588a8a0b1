package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSql, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions.{minhashSig, shingles}
import graft.util.OperatorCaches

/** Per-content-hash dedup state for [[CorpusStream.firstSeenDedup]]. */
case class DedupKeyState(firstId: Long, n: Long)

/** One verdict per incoming document. */
case class DedupVerdict(doc_id: Long, text_hash: String, first_id: Long,
  dup_rank: Long, keep: Boolean)

/** Streaming operators over a continuous DOCUMENT stream — the crawl-
  * ingest side of the LLM-data pipeline, where dedup decisions must be
  * made as documents arrive instead of in a nightly batch.
  */
object CorpusStream {

  /** Event-time watermark delay of every operator here. */
  val WatermarkDelay = "10 seconds"

  /** First-seen dedup TTL of x57 and of x118's first stage (same state
    * machine): a content hash unseen for this long forgets. */
  val DedupTtlMs: Long = 3600L * 1000

  /** First-seen-wins EXACT DEDUP over a continuous document stream —
    * the streaming twin of x1's batch dedup: every arriving document
    * gets a verdict (its content hash, the first doc_id that carried
    * this content, its occurrence rank, and `keep` = is it the first) —
    * the decision a crawl-ingest pipeline needs ONLINE, not at the next
    * nightly batch.
    *
    * State: one tiny (firstId, count) entry per content hash, keyed by
    * `md5(coalesce(text, ''))`, maintained by `flatMapGroupsWithState`
    * (checkpointed, restart-safe — the spec proves a duplicate arriving
    * after a restart is still recognized). State is BOUNDED by an
    * event-time TTL: each key re-arms a timeout at (its latest event
    * time + [[DedupTtlMs]]), and once the watermark passes it the entry
    * is dropped — a hash unseen for the TTL window forgets, which is the
    * standard memory/recall trade of every streaming dedup (Spark's own
    * `dropDuplicatesWithinWatermark` makes the same one; this operator
    * additionally reports WHO the original was and the duplicate's
    * rank, which the built-in cannot).
    *
    * Within a micro-batch, rows are ranked by doc_id (deterministic
    * regardless of arrival interleaving) by [[firstSeen]]. On a BATCH
    * input the same code runs with empty initial state and a timeout
    * that never fires — the whole input is one group invocation, making
    * the operator oracle-checkable as `x57_stream_dedup` (row_number
    * over a hash partition in ANSI SQL) while the streaming spec drives
    * the stateful/TTL path.
    *
    * 100 TB note: state size is #distinct-hashes-in-TTL-window × ~50 B,
    * hash-partitioned across executors by the groupByKey exchange — the
    * same sharding a dedicated dedup-cache service would use; the TTL
    * is what keeps an unbounded crawl from unbounded state. */
  def firstSeenDedup(spark: SparkSession, docs: DataFrame): Dataset[DedupVerdict] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("ts").cast("timestamp"),
        md5(coalesce(col("text"), lit(""))).as("text_hash"))
      .withWatermark("ts", WatermarkDelay)
      .as[(Long, Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[DedupKeyState, DedupVerdict](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          firstSeen(rows, state)(_._1, _._2) { case ((id, _, h), first, n) =>
            DedupVerdict(id, h, first, n, keep = n == 1L)
          }
      }
  }

  /** One content hash's first-seen step, run by [[firstSeenDedup]] (x57)
    * and [[corpusBuildStream]]'s s1 (x118): `emit` gets each row with
    * its first id and rank. The timeout re-arms on every arrival, so the
    * TTL counts from the LATEST sight. A batch plan ignores it but still
    * rejects a non-positive one: an event time before 1969-12-31T23:00Z
    * fails in both modes. */
  private def firstSeen[R, O](rows: Iterator[R],
      state: GroupState[DedupKeyState])(id: R => Long, ts: R => Timestamp)(
      emit: (R, Long, Long) => O): Iterator[O] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = rows.toSeq.sortBy(r => (id(r), ts(r).getTime))
      val prev = state.getOption
      val first = prev.map(_.firstId).getOrElse(id(sorted.head))
      var n = prev.map(_.n).getOrElse(0L)
      val out = sorted.map { r => n += 1; emit(r, first, n) }
      state.update(DedupKeyState(first, n))
      state.setTimeoutTimestamp(sorted.map(ts(_).getTime).max + DedupTtlMs)
      out.iterator
    }

  /** x103/x104: NEAR-DUP AGAINST A STATIC BASE INDEX — the one delta-vs-
    * base near-dup: it dedups a new batch (x103's daily batch) or an
    * arriving stream (x104, `Service --delta`, x118) against the
    * existing corpus without re-pairing the corpus with itself, and
    * answers what a crawl-ingest pipeline asks at ARRIVAL time: is this
    * incoming document a near-copy of anything already in the corpus?
    * There is no delta-delta or base-base pairing. Every streamed doc
    * gets one verdict row (match count from the x2 verify floor, best
    * base partner, the τ = [[graft.operators.Dedup.DeltaDupTau]] drop
    * decision) — including no-candidate and empty/null-text docs, which
    * ride a `posexplode_outer` null band through the left join instead
    * of silently vanishing.
    *
    * Composition (all stream-STATIC — no stream-stream state):
    * per-row MinHash band keys + 60-bit probe fingerprints (narrow
    * projections, computed once per doc BEFORE the band explode) →
    * left equi-join against the base band index (bucket cap on BASE
    * membership) → `dropDuplicatesWithinWatermark`
    * on (doc, base) (a pair surfaces once however many bands agree) →
    * one fingerprint verify per surviving PAIR → one watermarked
    * per-doc windowed aggregate. On a BATCH input the same
    * composition runs with plain `dropDuplicates` and the watermark
    * eliminated — [[deltaDedupBatch]] is the oracle-checkable carrier
    * (`x103_delta_dedup` and `x104_stream_delta_dedup`, one oracle SQL).
    *
    * 100 TB note: the static side is built once per query start and
    * persisted (a deployment materializes it as a bucketed table and
    * hot-swaps on corpus compaction); per-micro-batch cost is
    * ∝ batch·bands probe rows, and the only streaming state is the
    * dedup + open-window buffers, both bounded by the watermark. */
  def deltaDedupStream(spark: SparkSession, streamDocs: DataFrame,
      baseDocs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import graft.operators.Dedup
    def bandLong(hs: Column) =
      conv(substring(hs, 1, 15), 16, 10).cast("long")
    def fpOf(arr: Column): Column = transform(arr,
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    val baseSh = Dedup.shingleTableFrom(
      baseDocs.select(col("doc_id"), col("text")))
    val baseBands = OperatorCaches.persist(
      baseSh.select(col("doc_id").as("base_id"),
          posexplode(minhashSig(col("sh"), Dedup.NumMinhashes)))
        .toDF("base_id", "band", "hs")
        .select(col("base_id"), col("band"), bandLong(col("hs")).as("h")))
    val keptBuckets = baseBands.groupBy("band", "h")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= Dedup.MaxBandBucket)
      .select("band", "h")
    val baseFps = baseSh.select(col("doc_id").as("base_id"),
      fpOf(col("sh")).as("fp_b"), size(col("sh")).cast("long").as("nb"))
    // The static index is ONE inverted-fingerprint-index row per kept
    // bucket ([[graft.expressions.BuildBucketIndex]] — the round-12
    // shape): each probe verifies against the bucket row inside the
    // stream-static join's map stage
    // ([[graft.expressions.ProbeBucketIndex]]), so no candidate-level
    // fingerprint arrays ever reach the dedup state store or an
    // exchange — the round-11 sf10 gate's 35.5×/decade x104 row was
    // exactly that: ~4 KB probe arrays riding one state-store row per
    // (doc, base) CANDIDATE. The pair dedup now runs on τ-SURVIVORS
    // (plus the null no-candidate row), whose values are identical in
    // every agreeing band — same final match set, tiny state.
    val index = OperatorCaches.persist(
      baseBands.join(keptBuckets, Seq("band", "h"))
        .join(baseFps, "base_id")
        .groupBy("band", "h")
        .agg(collect_list(struct(col("base_id"), col("fp_b"), col("nb")))
          .as("ms"))
        .select(col("band"), col("h"),
          GraftSql.column(graft.expressions.BuildBucketIndex(
            GraftSql.expression(col("ms")))).as("idx")))
    // The shingle array is materialized by a Generate (explode of a
    // 1-element array) — the stream-legal stand-in for the batch side's
    // persist barrier: without it, project-collapse inlines the
    // interpreted shingle builder into every consumer (fp, sig, size).
    // `carry` columns are doc-constant verdict columns a COMPOSED
    // pipeline (x118) threads through this operator: they ride the
    // narrow pre-explode projection, the band join, and the final
    // per-doc aggregate (max of a doc-constant is the constant) —
    // never state, never a new exchange key. Nil for plain x104.
    val probes = streamDocs
      .select(Seq(col("doc_id"), col("ts").cast("timestamp")) ++
        carry.map(col) :+
        explode(array(shingles(coalesce(col("text"), lit("")))))
          .as("sh"): _*)
      .withWatermark("ts", WatermarkDelay)
    // Probe fingerprints are computed ONCE per doc BEFORE the band
    // explode and ride the exchanges as 60-bit longs (the x2 sf10
    // lesson) — never the shingle strings, and never per candidate row:
    // the first x104 sf10 spot-run shipped the string arrays through
    // the band join and re-md5'd them per band-hit, measuring 15.2×
    // per decade; this shape measures linear again.
    val banded = probes
      .select(Seq(col("doc_id"), col("ts")) ++ carry.map(col) ++ Seq(
        fpOf(col("sh")).as("fp_d"),
        size(col("sh")).cast("long").as("nd"),
        posexplode_outer(
          when(size(col("sh")) > 0,
            minhashSig(col("sh"), Dedup.NumMinhashes)))): _*)
      .toDF(Seq("doc_id", "ts") ++ carry ++
        Seq("fp_d", "nd", "band", "hs"): _*)
      .select(Seq(col("doc_id"), col("ts")) ++ carry.map(col) ++ Seq(
        col("fp_d"), col("nd"),
        col("band"), bandLong(col("hs")).as("h")): _*)
    val cand = banded
      .join(index, Seq("band", "h"), "left_outer")
      .select(Seq(col("doc_id"), col("ts")) ++ carry.map(col) :+
        explode_outer(GraftSql.column(graft.expressions.ProbeBucketIndex(
          GraftSql.expression(col("fp_d")), GraftSql.expression(col("nd")),
          GraftSql.expression(col("idx")), 0.02))).as("mt"): _*)
      .select(Seq(col("doc_id"), col("ts"), col("mt.base_id").as("base_id"),
        col("mt.jaccard").as("jaccard")) ++ carry.map(col): _*)
    // pair-dedupe the SURVIVORS: a pair surfaces once however many
    // bands agree (identical verify values each time), and the
    // no-candidate null rows collapse to one verdict row per doc
    val pairs =
      if (cand.isStreaming)
        cand.dropDuplicatesWithinWatermark(Seq("doc_id", "base_id"))
      else cand.dropDuplicates(Seq("doc_id", "base_id"))
    val aggs = Seq(
      sum(when(col("jaccard") >= 0.02, 1L).otherwise(0L))
        .as("n_matches"),
      max(when(col("jaccard") >= 0.02,
        struct(col("jaccard").as("j"), (-col("base_id")).as("nid"))))
        .as("best")) ++
      carry.map(c => max(col(c)).as(c))
    pairs
      .select(Seq(col("doc_id"), col("ts"), col("base_id"),
        col("jaccard")) ++ carry.map(col): _*)
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("doc_id"), col("n_matches"),
        (-col("best.nid")).as("best_base"),
        col("best.j").as("best_jaccard"),
        coalesce(col("best.j") >= Dedup.DeltaDupTau, lit(false))
          .as("is_dup")) ++ carry.map(col): _*)
  }

  /** [[deltaDedupStream]] over the service's NATS ENVELOPE stream — the
    * `graft.Service --delta <base>` adapter, mirroring
    * [[SessionStream.sessionizeEnvelopes]]: the payload carries the
    * document (`$.doc_id` / `$.text`), `metaTimestamp` is the event
    * time, and envelopes without a payload doc_id fall back to the
    * JetStream sequence (so EVERY envelope — including null/absent-text
    * ones — still receives a verdict row, the operator's contract). */
  def deltaDedupEnvelopes(spark: SparkSession, envelopes: DataFrame,
      baseDocs: DataFrame): DataFrame =
    deltaDedupStream(spark,
      envelopes.select(
        coalesce(get_json_object(col("data"), "$.doc_id").cast("long"),
          col("streamSeq").cast("long")).as("doc_id"),
        col("metaTimestamp").cast("timestamp").as("ts"),
        get_json_object(col("data"), "$.text").as("text")),
      baseDocs)

  /** The batch carriers' corpus split over the documents table: base =
    * doc_id below the 80th percentile of the id space (a 1-row broadcast
    * aggregate standing in for a deployment's snapshot boundary) as
    * (doc_id, source, text); the arriving stream = doc_id at/above it as
    * (doc_id, ts, source, text), event time = doc_id seconds. The
    * x103/x104/x118 oracles derive the same split in SQL. */
  private def splitDocs(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val docs = graft.queries.Tables.documentsParallel(spark, sfDir)
    val marked = docs.crossJoin(broadcast(docs.agg(
      floor(max(col("doc_id")).cast("double") * 4.0 / 5.0)
        .cast("long").as("split_id"))))
    val base = marked.filter(col("doc_id") < col("split_id"))
      .select("doc_id", "source", "text")
    val delta = marked.filter(col("doc_id") >= col("split_id"))
      .select(col("doc_id"), timestamp_seconds(col("doc_id")).as("ts"),
        col("source"), col("text"))
    (base, delta)
  }

  /** [[deltaDedupStream]]'s batch carrier over [[splitDocs]]'s split —
    * what `x103_delta_dedup` and `x104_stream_delta_dedup` run. */
  def deltaDedupBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, delta) = splitDocs(spark, sfDir)
    deltaDedupStream(spark, delta, base).orderBy("doc_id")
  }

  /** x118: the STREAMING CORPUS BUILD — x117's deployment story at the
    * crawl-ingest boundary: every ARRIVING document runs the per-doc
    * stages of the corpus build online and gets ONE keep verdict row,
    * with stage verdicts NULL when unreached (x117's never-silently-
    * dropped rule, held under streaming semantics):
    *
    *   - s1 `s1_exact_kept`: x57's first-seen exact dedup step
    *     ([[firstSeen]]: per-content-hash (firstId, n) state, event-time
    *     TTL) — run in APPEND mode, because the chain below adds further
    *     stateful operators and Update-mode `flatMapGroupsWithState`
    *     cannot be followed by them; the document itself rides the iterator
    *     output, never the state store.
    *   - s2 `s2_neardup_kept`: x104's near-dup verdict against the
    *     persisted capped base index (stream-static — no stream-stream
    *     state), carried per-doc through [[deltaDedupStream]]'s `carry`
    *     seam. The verdict is computed for EVERY arriving doc and
    *     masked to s1 survivors in the final projection: filtering s1
    *     losers out would silently drop their verdict rows (re-joining
    *     them back = a stream-stream join), and the verdict depends
    *     only on the doc vs the STATIC base, so compute-then-mask is
    *     semantically identical — the documented cost is the extra
    *     probe work for exact-dup arrivals, a vanishing fraction of a
    *     crawl.
    *   - s3 `s3_quality_kept`: x94's gate projection, STATELESS per
    *     doc — x94's signals ([[graft.operators.Curation.gateSignals]])
    *     are a narrow map stage, its verdict is
    *     [[graft.operators.Curation.gateKeep]], and the per-source P25
    *     token calibration comes from the STANDING corpus as a broadcast
    *     ([[graft.operators.Curation.tokenThresholdsFrom]] over the
    *     base — the at-ingest stance; x117's batch flavor calibrates on
    *     what enters the stage, which a stream cannot know). Docs with
    *     null/empty text or a source absent from the base calibration
    *     fail explicitly (x94's discipline).
    *
    * x117's corpus-level stages (mixture, packing) are deliberately
    * absent: they are functions of the FINAL kept corpus, which an
    * at-ingest verdict cannot know — the deployment runs x118 at the
    * boundary and x117 at compaction.
    *
    * Streaming state = s1's per-hash entries (TTL-bounded) + x104's
    * pair-dedup and open-window buffers (watermark-bounded); the chain
    * is fMGWS(Append) → stateless gate projection + threshold broadcast
    * → stream-static band join → dropDuplicatesWithinWatermark →
    * windowed per-doc aggregate, all Append-legal. On a BATCH input
    * the same composition runs with the timeouts never firing and the
    * watermark eliminated — [[corpusBuildBatch]] is the oracle-checkable
    * carrier (`x118_corpus_build_stream`, sharing x103/x104's near-dup oracle
    * CTEs and x94's gate CTEs).
    *
    * 100 TB note: per-micro-batch cost is the x104 probe cost plus a
    * narrow gate projection; the only additions to x104's proven shape
    * are two boolean carry columns and one few-row broadcast.
    *
    * Restarting from an old checkpoint: s1's `flatMapGroupsWithState`
    * now also outputs the three gate signals (`n_tokens`, `max_chunk`,
    * `n_luhn_valid`), computed ahead of the state exchange. Its state
    * encoder is unchanged, but a query restarted from a checkpoint written
    * by the earlier topology (five output columns) cannot rebind the new
    * output schema, so such a restart needs a fresh checkpoint directory.
    * [[deltaDedupEnvelopes]] (`Service --delta`) runs no
    * `flatMapGroupsWithState`, so this does not apply to it.
    *
    * Starting the STREAMING form needs
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled` =
    * false; the caller sets it, since a builder must not change its
    * caller's session, and may restore it after `start()` (a started
    * query keeps the conf it cloned). Spark's UnsupportedOperationChecker
    * rejects ANY stateful operator downstream of `flatMapGroupsWithState`
    * ("possible correctness issue due to global watermark"): it cannot
    * see inside the user function, so it assumes rows older than the
    * watermark may come out. s1 provably emits none: every row leaves in
    * the micro-batch it arrives in, its event time UNMODIFIED, so its
    * output is exactly as late as its input. Batch plans are not
    * checked. */
  def corpusBuildStream(spark: SparkSession, streamDocs: DataFrame,
      baseDocs: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.operators.Curation
    // static per-source calibration from the standing corpus, persisted
    // like x104's base index (re-built per micro-batch otherwise)
    val thr = OperatorCaches.persist(
      Curation.tokenThresholdsFrom(baseDocs))
    // x94's gate SIGNALS are pure per-doc functions of `text` — they are
    // computed HERE, upstream of the state machine's text_hash exchange,
    // and carried through it (optimization round 15, guide §2.1/§2.5).
    // Downstream of that exchange they ran in the post-shuffle stage,
    // whose batch-mode parallelism AQE sizes by the exchange's BYTES
    // (tiny: one compressed text row per doc) while the stage is
    // COMPUTE-dense (rolling-hash CDC chunks, Luhn regexp, tokenizer) —
    // measured at sf1: 74 s of CPU squeezed into 2 coalesced tasks while
    // 30 cores idled. On the scan side the work runs at input-split
    // parallelism at any scale. Values are identical by construction
    // (same expressions over the same unmodified text; the state
    // machine only annotates rows, never rewrites them). null/empty
    // text keeps its explicit failure: hasText leads the gate
    // conjunction below, so a guarded-null signal can never leak a NULL
    // verdict (false AND NULL = false).
    val hasText = col("text").isNotNull && length(col("text")) >= 1
    val s1 = streamDocs
      .select(Seq(col("doc_id").cast("long"), col("ts").cast("timestamp"),
        col("source"), col("text"),
        md5(coalesce(col("text"), lit(""))).as("text_hash")) ++
        Curation.gateSignals.map { case (name, c) =>
          when(hasText, c).as(name) }: _*)
      .withWatermark("ts", WatermarkDelay)
      .as[(Long, Timestamp, String, String, String,
        Option[Long], Option[Long], Option[Long])]
      .groupByKey(_._5)
      .flatMapGroupsWithState[DedupKeyState,
        (Long, Timestamp, String, String,
          Option[Long], Option[Long], Option[Long], Boolean)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          firstSeen(rows, state)(_._1, _._2) {
            case ((id, t, src, txt, _, nt, mc, nl), _, n) =>
              (id, t, src, txt, nt, mc, nl, n == 1L)
          }
      }
      .toDF("doc_id", "ts", "source", "text",
        "n_tokens", "max_chunk", "n_luhn_valid", "s1_exact_kept")
    // the gate VERDICT stays a stateless post-state projection (the
    // few-row threshold broadcast joins on `source`, left outer, so a
    // source absent from the calibration tests NULL and fails closed)
    val sig = s1
      .join(broadcast(thr), Seq("source"), "left_outer")
      .withColumn("gate_keep", Curation.gateKeep(
        hasText && coalesce(col("n_tokens") >= col("threshold"), lit(false))))
    val nd = deltaDedupStream(spark,
      sig.select("doc_id", "ts", "text", "s1_exact_kept", "gate_keep"),
      baseDocs, carry = Seq("s1_exact_kept", "gate_keep"))
    val s2ok = !col("is_dup")
    nd.select(col("doc_id"),
      col("s1_exact_kept"),
      when(col("s1_exact_kept"), s2ok).as("s2_neardup_kept"),
      when(col("s1_exact_kept") && s2ok,
        coalesce(col("gate_keep"), lit(false))).as("s3_quality_kept"),
      coalesce(col("s1_exact_kept") && s2ok && col("gate_keep"),
        lit(false)).as("final_kept"),
      when(col("s1_exact_kept"), col("n_matches")).as("n_base_matches"))
  }

  /** [[corpusBuildStream]]'s batch carrier over the documents table, on
    * [[splitDocs]]'s split, so the streaming composition is checked
    * against ANSI SQL composed from x103/x104's near-dup CTEs and x94's
    * gate CTEs, and the StreamingSpec restart test drives the same code
    * online. */
  def corpusBuildBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, delta) = splitDocs(spark, sfDir)
    corpusBuildStream(spark, delta, base).orderBy("doc_id")
  }
}
