package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.queries.Tables

/** Frequency-domain corpus operators: exact distributed heavy hitters
  * (Misra–Gries two-phase), per-document character entropy, and BM25
  * retrieval — the counting/scoring layer of a training-data pipeline.
  *
  * Numeric determinism follows the battery's house rules: every
  * transcendental (`ln`) is quantized ONCE to a scaled integer
  * ([[TextAnalysis.IdfScale]], the x35/x43 move) and all cross-row
  * reductions happen in exact integer arithmetic, so results are
  * bit-identical across partitionings and to the DuckDB oracle.
  */
object Frequency {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsParallel(spark, sfDir)

  /** Adjacent-token bigrams as a single `w1 w2` term column — the x55
    * zip-with-tail shape: a narrow per-row projection, no shuffle. */
  private def bigramTerms(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("term"))

  /** Misra–Gries summary capacity (per partition). The exactness
    * contract below holds for any threshold fraction ≥ 1/(capacity+1)
    * of the stream. */
  val MgCapacity = 1024

  /** One Misra–Gries step over at most `k` counters: an unseen term with
    * the summary full decrements every counter (dropping zeros) instead
    * of evicting one. [[mgSurvivors]] (x65) folds each partition through
    * it, [[graft.streaming.TopKStream.windowTopK]] (x85) each window. */
  private[graft] def mgStep(counts: mutable.HashMap[String, Long], k: Int,
      t: String): Unit =
    counts.get(t) match {
      case Some(c) => counts.update(t, c + 1)
      case None if counts.size < k => counts.update(t, 1L)
      case None =>
        val dead = List.newBuilder[String]
        counts.mapValuesInPlace { (w, c) =>
          if (c == 1L) dead += w
          c - 1L
        }
        dead.result().foreach(counts.remove)
    }

  /** One partition's Misra–Gries pass through [[mgStep]]. Classic
    * guarantee: any term whose count in THIS partition exceeds
    * n_p/(k+1) survives. Summing over
    * partitions: a term with global count > N/(k+1) must exceed the
    * local threshold somewhere (else Σ would contradict), so the union
    * of survivors is a superset of every global heavy hitter — the
    * second exact-recount phase then removes false positives only.
    * Property-tested (GraftProperties): arbitrary skewed streams ×
    * random 1/4/32-way splits × k ∈ {1,2,3,7} ⇒ superset holds and
    * recount+filter equals the naive global groupBy. */
  private[graft] def mgSurvivors(k: Int)(
      it: Iterator[String]): Iterator[String] = {
    val counts = new mutable.HashMap[String, Long]
    it.foreach(mgStep(counts, k, _))
    counts.keysIterator
  }

  /** x65: exact corpus heavy hitters — bigrams with frequency above
    * 1/([[MgCapacity]]+1) of all bigram occurrences — WITHOUT a
    * full-vocabulary shuffle. Phase 1 runs [[mgSurvivors]] per
    * partition (`mapPartitions` is the honest tool here: Misra–Gries is
    * genuinely imperative per-partition state), yielding ≤ k·partitions
    * candidates; phase 2 broadcast-semi-joins the candidate set back
    * over the stream and recounts exactly, so only candidate-matching
    * rows enter the (partial) aggregation. At 100 TB the phase-1 pass
    * shuffles ~k rows per partition instead of one row per distinct
    * term — the difference between O(k·P) and O(vocabulary) exchange —
    * and the output is provably identical to the naive global groupBy
    * (superset property + exact recount + threshold filter). */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    heavyHittersFrom(bigramTerms(docs(spark, sfDir)), MgCapacity)

  /** [[heavyHitters]] over an arbitrary single-column `term` relation
    * with summary capacity `k` (specs shrink `k` to force decrements). */
  private[graft] def heavyHittersFrom(terms: DataFrame, k: Int): DataFrame = {
    import terms.sparkSession.implicits._
    val t = graft.util.OperatorCaches.persist(terms)
    val candidates = t.select(col("term")).as[String]
      .mapPartitions(mgSurvivors(k))
      .toDF("term").distinct()
    val tot = t.agg(count(lit(1)).as("total"))
    t.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * (k + 1) > col("total"))
      .withColumn("freq",
        col("cnt").cast("double") / col("total").cast("double"))
      .select("term", "cnt", "total", "freq")
      .orderBy(desc("cnt"), col("term"))
  }

  /** x66: per-document character-level Shannon entropy (nats) — the
    * gibberish/boilerplate signal quality filters threshold on. Pure
    * map stage: ONE pass per row builds the code-point histogram and
    * the quantized-ln sum ([[graft.expressions.CharEntropyStats]] —
    * O(len) per document, alphabet-independent; the HOF pipeline it
    * replaces re-scanned the character array once per DISTINCT
    * character, which the non-ASCII corpus's ~5× alphabet turned into
    * the battery's worst near-linear row). `ln` stays quantized per
    * COUNT VALUE to a scaled integer (error ~1e-9 of a quantum — far
    * below the rounding boundary), and H = ln(N) − (1/N)·Σ c·ln(c) is
    * assembled from exact longs with two final correctly-rounded
    * double ops. No shuffle at all; the ORDER BY is presentation. */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = TextAnalysis.IdfScale
    docs(spark, sfDir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("st", GraftSql.column(graft.expressions.CharEntropyStats(
        GraftSql.expression(col("text")), sc)))
      .withColumn("lnn_scaled",
        floor(log(col("st.n").cast("double")) * sc + lit(0.5)).cast("long"))
      .select(col("doc_id"), col("st.n").as("n_chars"),
        col("st.n_distinct").as("n_distinct_chars"),
        ((col("lnn_scaled") * col("st.n") - col("st.s_scaled")).cast("double") /
          (lit(sc.toDouble) * col("st.n").cast("double"))).as("entropy_nats"))
      .orderBy("doc_id")
  }

  /** BM25 parameters (standard Robertson defaults) and query set. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val QueryTerms: Seq[String] =
    Seq("spark", "query", "join", "stream", "vector", "hash")

  /** x67: BM25 retrieval of the top-[[Bm25TopK]] documents for a fixed
    * conjunctive query. Scale shape: the explode is pre-filtered to
    * query terms (rows ∝ matching tokens, not corpus tokens), document
    * frequencies are a |Q|-row broadcast, corpus stats are a 1-row
    * broadcast, and the final top-k is a rank window over per-doc
    * scores. idf is `ln`-quantized once per term ([[TextAnalysis.IdfScale]]);
    * each per-(doc, term) contribution — a fixed double expression over
    * bit-identical inputs — is re-quantized before the per-doc sum so
    * the reduction is exact integer addition (order-free), and the
    * integer score is also the rank key, making ties deterministic. */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = TextAnalysis.IdfScale
    val qSql = QueryTerms.map(t => s"'$t'").mkString(", ")
    val d = graft.util.OperatorCaches.persist(
      docs(spark, sfDir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .withColumn("dl", size(col("t")).cast("long")))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
    val tf = d
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(expr(s"term IN ($qSql)"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_scaled", floor(log(
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
        * sc + lit(0.5)).cast("long"))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs").cast("double"))
      .select("term", "idf_scaled", "avgdl")
    val contrib = tf
      .join(broadcast(dfreq), "term")
      // literals 2.2 / 1.2 / 0.25 / 0.75 are written as parse-identical
      // decimal literals on both sides (computing k1+1 at runtime could
      // differ from the SQL literal's correctly-rounded parse)
      .withColumn("contrib_scaled", floor(
        (col("idf_scaled").cast("double") / lit(sc.toDouble)) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))
        * sc + lit(0.5)).cast("long"))
    val scored = contrib
      .groupBy("doc_id")
      .agg(sum(col("contrib_scaled")).as("score_scaled"),
        count(lit(1)).as("n_terms_hit"))
    // top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps, k-row merge) — a rank window over the full scored relation
    // would funnel every scored doc through one task. The rank is then
    // a window over the already-limited k rows (bounded by construction).
    val top = scored
      .orderBy(desc("score_scaled"), col("doc_id")).limit(Bm25TopK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score_scaled"), col("doc_id"))).cast("long"))
      .select(col("doc_id"),
        (col("score_scaled").cast("double") / sc).as("score"),
        col("n_terms_hit"), col("rank"))
      .orderBy("rank")
  }

  /** Head size for the [[zipfFit]] regression — fitting on the top-K
    * frequency ranks is standard practice (the tail bends away from the
    * power law and its rank order is tie-noise anyway). */
  val ZipfTopK = 100

  /** x76: per-source ZIPF EXPONENT — least-squares slope of ln(count)
    * against ln(rank) over each source's top-[[ZipfTopK]] terms. The
    * one-number fingerprint of a source's token distribution: natural
    * text sits near s ≈ 1, templated/boilerplate sources drift low,
    * and a drifting exponent between crawls is a cheap corpus-health
    * alarm.
    *
    * Scale shape: the corpus collapses to the (source × term) count
    * aggregate first (vocabulary-bounded, sub-linear in corpus size by
    * Heaps' law — the same altitude every x35/x43-family operator
    * aggregates at); the rank window then runs over per-source VOCAB
    * rows, never corpus rows, and the regression is a K-row-per-source
    * partial aggregate. Determinism: ln(rank) and ln(count) quantize
    * once to [[TextAnalysis.IdfScale]]d longs; all regression moments
    * (Σx, Σy, Σxy, Σx²) are exact DECIMAL sums of those longs, and the
    * slope is one correctly-rounded double division of exact integers
    * — hash-exact at any partitioning. Ties rank deterministically by
    * (count DESC, term ASC), mirrored in the oracle. */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame =
    zipfFitFrom(docs(spark, sfDir))

  /** [[zipfFit]] over an arbitrary (source, text) relation — the
    * testable core (fixtures build sources with known rank/count pairs
    * and check the slope against the same quantized formula). */
  private[graft] def zipfFitFrom(docsDf: DataFrame): DataFrame = {
    val sc = TextAnalysis.IdfScale
    val counts = docsDf
      .filter(col("text").isNotNull)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("cnt"))
    val ranked = counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(desc("cnt"), col("term"))).cast("long"))
      .filter(col("rank") <= ZipfTopK)
      .withColumn("x", floor(log(col("rank").cast("double")) * sc + lit(0.5))
        .cast("long"))
      .withColumn("y", floor(log(col("cnt").cast("double")) * sc + lit(0.5))
        .cast("long"))
    ranked
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_top_terms"),
        sum(col("x").cast("decimal(25,0)")).as("sx"),
        sum(col("y").cast("decimal(25,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .withColumn("slope",
        (col("n_top_terms") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_top_terms") * col("sxx") - col("sx") * col("sx"))
            .cast("double"))
      .select(col("source"), col("n_top_terms"),
        (-col("slope")).as("zipf_exponent"))
      .orderBy("source")
  }
}
