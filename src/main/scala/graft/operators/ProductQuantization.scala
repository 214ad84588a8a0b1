package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TopKByScore
import graft.functions.VectorFunctions.{dot, l2sq}
import graft.util.OperatorCaches

/** Product quantization (PQ) over the `embeddings` table — the compression
  * that makes a 100 TB vector corpus SCANNABLE, not just storable: each
  * unit vector is cut into [[NumSubspaces]] contiguous subvectors and every
  * subvector is replaced by the id of its nearest codebook entry, so the
  * corpus representation drops from 64 doubles (512 B) to 8 small codes
  * (8 B with byte packing — a 64× scan-bandwidth cut). Search then runs
  * against the CODES via asymmetric distance computation (ADC): the query
  * stays exact, each corpus vector is approximated by its per-subspace
  * codebook entries, and a query's similarity to ANY vector reduces to
  * [[NumSubspaces]] lookups in a per-query table of
  * [[NumSubspaces]]·[[CodebookSize]] precomputed dot products
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — [[adcTopK]] is the ADC scan alone, and
  * [[ivfPqTopK]] is the full IVFADC: x34's trained-cell probe
  * ([[Similarity.ivfProbe]]) with the ADC scan restricted to the probed
  * cells).
  *
  * Scale shape:
  *  - the codebook is [[NumSubspaces]]·[[CodebookSize]] = 128 rows — a
  *    legitimately bounded broadcast (same stand-in-centroid convention
  *    as [[Similarity.ivfTopK]]: the first [[CodebookSize]] vectors'
  *    subvectors; [[Similarity.kmeansTrain]] demonstrates the Lloyd
  *    training that would replace it per subspace, and the swap is one
  *    relation);
  *  - encoding is ONE corpus pass: explode into N·M subvector rows, join
  *    the broadcast codebook, argmin via a partial-aggregated
  *    `min(struct(d2, code))` — map-side combine collapses each partition
  *    to one row per (vec_id, sub) BEFORE the shuffle, and no window ever
  *    sees more than the K codebook candidates of one subvector. The
  *    distance is the codegen'd [[graft.expressions.VecL2Sq]] tight loop;
  *  - the ADC scan is the broadcast pattern of
  *    [[Similarity.bruteForceTopK]]: per-query LUTs (M·K dots each) are
  *    built against the bounded codebook, broadcast, and ONE pass over
  *    the codes relation scores every (query, vector) pair with M array
  *    lookups — no float vector is touched after encoding. Top-k is
  *    [[TopKByScore.ranked]], the bounded-heap partial aggregate (shuffle
  *    carries ≤ k rows per partition per query), never a corpus-wide
  *    rank window.
  *
  * Numerical determinism (the oracle contract): distances and LUT entries
  * are sequential left folds in array order ([[graft.expressions.VecL2Sq]]
  * / [[graft.expressions.VecDot]] = DuckDB `list_reduce`), the ADC sum is
  * a sequential fold over subspaces in subspace order, and argmin ties
  * break on the lower code id — so codes, errors, ADC scores and ranks
  * are all bit-identical across engines with no tolerance.
  */
object ProductQuantization {

  /** Number of contiguous subspaces the vector is cut into. */
  val NumSubspaces = 8

  /** Dimensions per subspace. */
  val SubDim: Int = Similarity.Dim / NumSubspaces

  /** Codebook entries per subspace (PQ codes are then
    * log2(16) = 4 bits each — a production encoder packs all 8 into
    * one 32-bit word; kept as an int column here for readability). */
  val CodebookSize = 16

  /** Neighbors returned per query by [[adcTopK]]. */
  val TopK = 5

  /** (vec_id, sub, svec): each vector exploded into its [[NumSubspaces]]
    * contiguous subvectors. A narrow per-row fan-out — no shuffle. */
  private def subspaces(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(NumSubspaces - 1))).as("sub"),
        col("u"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(u, sub * $SubDim + 1, $SubDim)").as("svec"))

  /** The stand-in codebook: subspace m's entries are the m-th subvectors
    * of the first [[CodebookSize]] corpus vectors (the [[Similarity]]
    * stand-in-centroid convention — the plan shape is the point; a
    * trained codebook is a drop-in replacement for this relation). */
  private def codebook(e: DataFrame): DataFrame =
    subspaces(e.filter(col("vec_id") < CodebookSize))
      .select(col("sub"), col("vec_id").as("code"), col("svec").as("cvec"))

  /** Encoder core over a (vec_id, u) relation: nearest codebook entry per
    * (vector, subspace) by squared L2, ties to the lower code id.
    * `min(struct(d2, code))` IS that argmin (struct comparison is
    * field-lexicographic) and partial-aggregates, so each map partition
    * emits one row per (vec_id, sub) before the shuffle. */
  private[graft] def encodeFrom(e: DataFrame): DataFrame =
    subspaces(e)
      .join(broadcast(codebook(e)), "sub")
      .withColumn("d2", l2sq(col("svec"), col("cvec")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("best.code").as("code"), col("best.d2").as("qerr"))

  /** x46: the PQ encoding table — (vec_id, sub, code, qerr) with qerr the
    * squared L2 quantization error of that subvector. At scale this IS
    * the stored index artifact (plus the 128-row codebook). */
  def pqEncode(spark: SparkSession, sfDir: String): DataFrame =
    encodeFrom(Similarity.normalized(spark, sfDir))
      .orderBy("vec_id", "sub")

  /** Per-vector code word: (vec_id, codes[M]) ordered by subspace — the
    * stored-index artifact both ADC scans read. */
  private def codeWords(e: DataFrame): DataFrame =
    encodeFrom(e)
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code").cast("int")).as("codes"))

  /** Per-query LUT: lut[sub*K + code + 1] = <query subvector, codebook
    * entry> — M·K bounded rows per query, assembled in (sub, code)
    * order. */
  private def queryLuts(e: DataFrame): DataFrame =
    subspaces(Similarity.queryRows(e))
      .select(col("vec_id").as("query_id"), col("sub"), col("svec"))
      .join(broadcast(codebook(e)), "sub")
      .withColumn("lv", dot(col("svec"), col("cvec")))
      .groupBy("query_id")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("lv")))),
        x => x.getField("lv")).as("lut"))

  /** The ADC score: M array lookups summed by a sequential fold in
    * subspace order (bit-identical to the oracle's `list_reduce`).
    * Requires `lut` and `codes` columns in scope. */
  private def adcScore: Column = expr(
    s"aggregate(sequence(0, ${NumSubspaces - 1}), cast(0 as double), " +
    s"(acc, m) -> acc + element_at(lut, " +
    s"m * $CodebookSize + element_at(codes, m + 1) + 1))")

  /** x47: ADC top-k. See the object doc for the scan shape. */
  def adcTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.normalized(spark, sfDir)
    // Persisted: at scale this relation is read from the stored index;
    // here both the build and any re-read share one materialization.
    val codes = OperatorCaches.persist(codeWords(e))
    // ADC scan: one pass over the codes relation, M lookups per pair,
    // sequential fold over subspaces (bit-identical to the oracle's)
    val pairs = broadcast(queryLuts(e))
      .join(codes, col("query_id") =!= col("vec_id"))
      .withColumn("adc", adcScore)
    TopKByScore.ranked(pairs, Seq("query_id"), TopK, col("adc"),
        col("vec_id"), lit(0))
      .select(col("query_id"), col("neighbor_id"), col("cos").as("adc"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** x105: TRUE IVF-PQ (IVFADC) — the memory-bound index every
    * production ANN system at 100 TB actually runs, and the capstone of
    * this family: [[Similarity.ivfTopKTrained]]'s TRAINED √(N/8)-curve
    * cells route each query to its nprobe nearest cells, and WITHIN the
    * probed cells the scan is [[adcTopK]]'s asymmetric distance over PQ
    * CODES — no float corpus vector is touched after the one-time
    * encode (Jégou et al., TPAMI 2011, the full IVFADC; x47 is the ADC
    * scan alone, x34 the routing alone).
    *
    * Composition (each piece already oracle-gated on its own):
    *  - x34's probe, [[Similarity.ivfProbe]] over the Lloyd-trained
    *    centroids ([[Similarity.kmeansTrain]], K on the √(N/8) curve),
    *    assigns every vector to its cell and gives each query its
    *    nprobe-cell probe list;
    *  - the PQ encode ([[pqEncode]]) compresses the corpus to M codes
    *    per vector, joined with the cell assignment into the stored
    *    index relation (vec_id, cell, codes[M]);
    *  - per-query LUTs (M·K dots against the bounded codebook) join the
    *    probe list into one broadcast-able (query, cell, lut) relation
    *    — ≤ |queries|·nprobe rows;
    *  - ONE hash join on the CELL key restricts the ADC scan to probed
    *    cells' codes; top-k is [[TopKByScore.ranked]].
    *
    * Scale shape: the cell id is the partition key of the stored codes
    * relation, so each query reads nprobe·N/K ∝ √N candidate CODE words
    * (8 B each) instead of the corpus — x34's probe-volume curve
    * (BASELINE.md round-10: ~2.5k candidates/query at sf10) over rows
    * 64× narrower. No NLJ touches a corpus-sized relation: the only
    * broadcasts are the codebook (M·K = 128 rows), the query LUT table,
    * and the trainer's bounded centroid relations.
    *
    * Determinism: training, routing, encoding, LUTs, the ADC fold, and
    * the (adc DESC, id) tie-break are each the bit-exact constructions
    * of their parent operators, so the whole composition stays
    * hash-exact against the oracle's identical derivation. */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Similarity.normalized(spark, sfDir)
    val (assign, probes) =
      Similarity.ivfProbe(e, Similarity.trainedCentroids(spark, sfDir))
    // the stored IVF-PQ index: cell-keyed PQ code words
    val codes = OperatorCaches.persist(codeWords(e).join(
      assign.select(col("neighbor_id").as("vec_id"), col("cell")), "vec_id"))
    // (query, probed cell, lut): ≤ |queries|·nprobe rows — the bounded
    // broadcast that makes the cell join one corpus-free hash probe
    val qtab = probes.select("query_id", "cell").join(queryLuts(e), "query_id")
    val pairs = broadcast(qtab).join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", adcScore)
    TopKByScore.ranked(pairs, Seq("query_id"), TopK, col("adc"),
        col("vec_id"), col("cell").cast("int"))
      .select(col("query_id"), col("neighbor_id"),
        col("label").cast("long").as("cell"), col("cos").as("adc"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** x106: IVF-PQ recall@k against the exact brute-force ranking — the
    * x58 evaluation applied to [[ivfPqTopK]], closing the loop on the
    * capstone index: both the routing loss (a true neighbor in an
    * unprobed cell) and the quantization loss (ADC misranking inside a
    * probed cell) land in one per-query `recall_ppm`. It is x58's
    * [[Similarity.recallAtK]] over this ranking: past the two scans under
    * evaluation everything is |queries|·k-sized; the ppm arithmetic is
    * exact integers, so the gate stays hash-exact. */
  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.recallAtK(spark, sfDir, ivfPqTopK(spark, sfDir))
}
