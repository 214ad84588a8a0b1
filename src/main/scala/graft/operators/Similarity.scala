package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TopKByScore
import graft.functions.VectorFunctions._
import graft.queries.Tables
import graft.util.OperatorCaches

/** Similarity search over the `embeddings` table (`array<float>`, dim 64).
  *
  * Brute-force cosine top-k is the correctness baseline; the scale path is
  * random-hyperplane LSH, where the signature becomes the shuffle key and
  * each query only scans its bucket.
  *
  * Shape for scale: vectors are unit-normalized ONCE per row before any
  * pair join, so each candidate pair costs a single codegen'd
  * [[graft.expressions.VecDot]] — not three interpreted folds. On an
  * all-pairs stage that is the difference between O(pairs·d) tight-loop
  * flops and O(pairs·d) boxed lambda calls (~30× in local measurement).
  */
object Similarity {

  val Dim = 64
  private val Planes = 4
  private val TopK = 5

  /** The query set: the first 10 corpus ids (the driver's bench/oracle
    * contract — NOT a semantic constant). A pure predicate, no join; the
    * query set is the broadcast side of every search below — that bound
    * is what makes one corpus pass serve all queries at 100 TB. */
  private def queryPred: Column = col("vec_id") < 10

  /** The corpus rows [[queryPred]] selects. */
  private[operators] def queryRows(e: DataFrame): DataFrame =
    e.filter(queryPred)

  /** (vec_id, label, u=unit vector) — norm computed once per row. The
    * scan is repartitioned first: locally `embeddings` is one parquet
    * split (at scale, input splits parallelize this for free).
    *
    * Persisted for the same reason as the shingle table in [[Dedup]]:
    * `unit` is an interpreted HOF and every operator here references this
    * relation 2-4 times (queries, candidates, fetch sides) — without the
    * materialization barrier, project-collapse re-normalizes the corpus
    * once per reference. */
  private[graft] def normalized(spark: SparkSession, sfDir: String): DataFrame =
    OperatorCaches.persist(Tables.embeddingsParallel(spark, sfDir)
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("label"),
        unit(col("embedding"), col("nrm")).as("u")))

  /** Brute-force cosine top-k for a small query set: broadcast the
    * (bounded, 10-row) query side against the corpus scan — one corpus
    * pass for ALL queries — then per-partition partial top-k via the
    * bounded-heap [[graft.functions.TopKByScore]] aggregator and a tiny
    * final merge. The shuffle carries at most k rows per (partition,
    * query); no stage ever funnels a query's full candidate set into one
    * task (the failure mode of a `PARTITION BY query_id` rank window). */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    val q = queryRows(e)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("u").as("nu"),
      col("label"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qu"), col("nu")))
    TopKByScore.ranked(pairs, Seq("query_id"), TopK, col("cos"),
        col("neighbor_id"), col("label"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN: 4 deterministic hyperplanes → 16 buckets; a query
    * compares only against its own bucket. Recall trades against the
    * number of planes; at scale, buckets are the partition key so each
    * executor handles a bucket slice without a cross join. The signature
    * is computed on the raw vector (matching the oracle's rounding). */
  def lshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted like [[normalized]] — referenced by both join sides
    val e = OperatorCaches.persist(Tables.embeddingsParallel(spark, sfDir)
      .withColumn("sig", lshSignature(col("embedding"), Planes, Dim))
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("sig"),
        unit(col("embedding"), col("nrm")).as("u")))
    val qs = queryRows(e)
      .select(col("vec_id").as("query_id"), col("sig"), col("u").as("qu"))
    val cs = e.select(col("vec_id").as("neighbor_id"), col("sig"),
      col("u").as("nu"))
    // partial top-k per partition (bounded heap), not a per-query window:
    // a bucket is corpus/2^planes at scale — far too big for one task
    val pairs = broadcast(qs).join(cs, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qu"), col("nu")))
    TopKByScore.ranked(pairs, Seq("sig", "query_id"), 3, col("cos"),
        col("neighbor_id"), lit(0))
      .select("sig", "query_id", "neighbor_id", "cos", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into Voronoi
    * cells of [[NumCells]] deterministic centroids (the first K vectors —
    * a stand-in for trained centroids; the plan shape is the point);
    * a query probes its [[NumProbes]] nearest cells and ranks only those
    * cells' members. At 100 TB the cell id is the partition key: each
    * query touches nprobe/K of the corpus instead of all of it. */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    ivfTopKWith(e, standInCentroids(e, derivedCellsExpr))
  }

  /** The STAND-IN centroids: the first `cells(N)` unit vectors as (cid,
    * cu), N a 1-row aggregate cross-joined into the plan (not a driver
    * collect; the oracle derives it with a scalar subquery). Queries and
    * [[lloydFrom]]'s init pass [[derivedCellsExpr]], dedup [[dupCellsExpr]]. */
  private[graft] def standInCentroids(e: DataFrame, cells: Column => Column): DataFrame = {
    val k = e.agg(cells(count(lit(1))).as("ncells"))
    e.join(broadcast(k)).filter(col("vec_id") < col("ncells"))
      .select(col("vec_id").as("cid"), col("u").as("cu"))
  }

  /** Corpus-derived cell count for the query path's stand-in centroids
    * ([[ivfTopK]]): ncells = max(16, ⌊√(N/8)⌋) — the
    * √N-family sizing IVF deployments use (FAISS guidance is 4√N–16√N
    * cells; the /8 keeps the historical 16 cells at the test corpora's
    * N ≤ 2000, so the derivation is behavior-preserving there, while a
    * 20k-vector corpus gets 50 cells and 1e9 vectors ~11k — holding the
    * per-cell candidate volume Σcellsize² ≈ probes²·N²/ncells on a
    * sub-quadratic curve). [[kmeansTrain]]'s K rides the SAME curve
    * (these centroids seed [[lloyd]]'s init), so x34's nprobe=2 probe
    * scans ∝ √N candidates per query, not N/8. [[GraftProperties]] pins
    * the curve. */
  private[graft] def derivedCellsExpr(n: Column): Column =
    greatest(lit(NumCells.toLong),
      floor(sqrt(n.cast("double") / 8.0)).cast("long"))

  /** Cell count for the DEDUP pass — a different curve than the √N
    * query-path sizing, because the two pay for cells differently: a
    * top-k query probes nprobe cells and pays cellsize ∝ N/√N per
    * query, but [[embeddingDups]] pays Σ cellsize² over ALL cells, and
    * with √N cells that total is probes²·N²/√N ∝ N^1.5 — measured as
    * the 10× corpus scaling 32× (2.65 s → 84 s, sf0.1 → sf1). Dedup
    * therefore sizes cells LINEARLY in N (the SemDeDup-style constant
    * target cell size): ncells = max(16, ⌈N/125⌉) holds cells at ~125
    * vectors each — the historical 16 cells at the 2000-vector test
    * corpora (behavior-preserving at sf ≤ 0.1) — making candidate
    * volume probes²·N·125 ∝ N. The assignment stage that consumes these
    * cells is the two-level [[quantizedRanking]] (≈(1+[[SuperProbes]])·√cells
    * dots per vector — the round-6 brute-force N×cells matrix is gone),
    * so verify is linear and assignment ∝ N^1.5/√125 with a further
    * quantizer level available if a corpus ever outgrows that. */
  private[graft] def dupCellsExpr(n: Column): Column =
    greatest(lit(NumCells.toLong),
      ceil(n.cast("double") / 125.0).cast("long"))

  /** x34: [[ivfTopK]] over TRAINED cells — the end-to-end IVF a real
    * deployment runs: [[kmeansTrain]]'s Lloyd centroids replace the
    * first-K stand-in, same probe/rank pipeline. Because the trained
    * centroids are bit-equal to the oracle's (fixed-point means), the
    * whole composition — training plus search — stays hash-exact. */
  def ivfTopKTrained(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopKWith(normalized(spark, sfDir), trainedCentroids(spark, sfDir))

  /** Super-cell probe count for the two-level coarse quantizer
    * ([[quantizedRanking]]). Probing >1 super-cell recovers centroids
    * that sit just across a super-cell boundary — the same
    * recall-for-work trade as [[NumProbes]] one level up. Measured x8
    * recall at the 0.35 threshold, sf0.01 (truth = exact all-pairs):
    * 2 super-probes → 0.686, 3 → 0.782 — i.e. 3 restores the
    * single-level figure (~0.78) while assignment still costs
    * ~(1+SuperProbes)·√K dots/vector instead of K. */
  val SuperProbes = 3

  /** Two-level coarse quantizer — the centroid-ASSIGNMENT stage that
    * replaces the brute-force N×K dot matrix (`corpus × broadcast(cents)`)
    * the round-6 audit flagged as the one super-linear term.
    *
    * Structure (all dots are tight-loop folds bit-identical to
    * [[graft.expressions.VecDot]]; since optimization round 14 the whole
    * ranking is a PURE MAP STAGE over the corpus — guide §2.4):
    *
    *  1. nsup = ⌈√K⌉ super-centroids — the lowest-cid slice of the
    *     centroid relation (a `slice` of the sorted collect, not a rank
    *     window; a production deployment would take super-centroids from
    *     the trainer's coarse level instead);
    *  2. centroid → nearest super-centroid (K×√K dots, corpus-free,
    *     computed INSIDE the one bounded broadcast prep row);
    *  3. vector → its [[SuperProbes]] nearest super-cells (N×√K dots,
    *     one [[graft.expressions.TopDots]] per row);
    *  4. refine: rank only the probed super-cells' centroids
    *     (N×~SuperProbes·√K dots, a second TopDots per row).
    *
    * Until round 14 steps 3–4 were broadcast joins (N×√K and
    * N×~SuperProbes·√K intermediate ROWS) each ranked by a `row_number`
    * window PARTITIONED BY vec_id — i.e. two full-corpus exchanges plus
    * sorts per ranking, at 100 TB two corpus shuffles that exist only to
    * bring a vector's ≤(1+SuperProbes)·√K candidates into one task. The
    * candidates are bounded, so they now ride to the vector instead: one
    * 1-row broadcast carries (sarr, smap) and the per-vector top-k runs
    * inside the row (ordering bit-identical to the windows it replaces —
    * dot DESC via `Double.compare`, id ASC; see [[graft.expressions.TopDots]]).
    * The only exchange left is the bounded centroid collect_list merge.
    *
    * Per-vector work stays ~(1+SuperProbes)·√K dots: with the query-path
    * √N cell curve assignment is ∝ N·N^¼ (near-linear); with x8's linear
    * cell curve ∝ N^1.5/√125. Assignment remains approximate exactly as
    * before (same candidate sets, same ranking); the DuckDB oracle
    * mirrors the identical two-level ranking so correctness stays
    * hash-exact.
    *
    * Returns (vec_id, u, cid, crn): per-vector candidate-centroid
    * ranking truncated to `maxRank` (crn ordered by dot desc with cid
    * tiebreak — callers never read past their probe depth). */
  private[graft] def quantizedRanking(e: DataFrame, centsIn: DataFrame,
      maxRank: Int): DataFrame = {
    // ONE bounded aggregate builds the whole routing artifact as a
    // single broadcast row: carr (all ≤K centroids sorted by cid), sarr
    // (the ⌈√K⌉ lowest-cid super-centroids — identical to the old
    // row_number-over-cid slice), and smap (super id → member centroids,
    // nearest-super assignment by (sdot DESC, sid ASC) — the old
    // per-centroid window as a TopDots argmax over the collected array).
    val prep = centsIn
      .groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cu")))).as("carr"))
      .select(col("carr"),
        expr("slice(carr, 1, cast(ceil(sqrt(cast(size(carr) as double))) as int))")
          .as("sarr"))
      .select(col("sarr"),
        transform(col("carr"), c => struct(
          element_at(topDots(c.getField("cu"), col("sarr"), 1), 1).as("sid"),
          c.getField("cid").as("cid"),
          c.getField("cu").as("cu"))).as("assigned"))
      .select(col("sarr"),
        map_from_arrays(
          transform(col("sarr"), s => s.getField("cid")),
          transform(col("sarr"), s =>
            transform(
              filter(col("assigned"),
                a => a.getField("sid") === s.getField("cid")),
              a => struct(a.getField("cid").as("cid"),
                a.getField("cu").as("cu"))))).as("smap"))
    // Pure map stage: probe the super level, gather the probed cells'
    // centroids from the broadcast map, rank — no corpus exchange.
    val cands = flatten(transform(
      topDots(col("u"), col("sarr"), SuperProbes),
      sid => element_at(col("smap"), sid)))
    e.join(broadcast(prep))
      .select(col("vec_id"), col("u"),
        posexplode(topDots(col("u"), cands, maxRank)).as(Seq("pos", "cid")))
      .select(col("vec_id"), col("u"), col("cid"),
        (col("pos") + 1).cast("int").as("crn"))
  }

  /** The IVF probe of x19, x34, x105 and x108 over a K-bounded (cid, cu)
    * centroid relation: (assign, probes) = every vector's nearest cell
    * (neighbor_id, cell, nu) and each query's [[NumProbes]] nearest cells
    * (query_id, cell, qu), two slices of one [[quantizedRanking]]. Query
    * membership rides on the ranking as an `is_q` flag (a pure predicate,
    * no join), so the persist holds N + |queries|·(NumProbes − 1) rows. */
  private[graft] def ivfProbe(e: DataFrame, cents: DataFrame): (DataFrame, DataFrame) = {
    val ranked = OperatorCaches.persist(quantizedRanking(e, cents, NumProbes)
      .withColumn("is_q", queryPred)
      .filter(col("crn") === 1 ||
        (col("is_q") && col("crn") <= NumProbes)))
    val assign = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cid").as("cell"),
        col("u").as("nu"))
    val probes = ranked.filter(col("is_q") && col("crn") <= NumProbes)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"),
        col("u").as("qu"))
    (assign, probes)
  }

  /** x19/x34: [[ivfProbe]], then the top-k over the probed cells. */
  private def ivfTopKWith(e: DataFrame, cents: DataFrame): DataFrame = {
    val (assign, probes) = ivfProbe(e, cents)
    val pairs = broadcast(probes).join(assign, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qu"), col("nu")))
    // partial top-k per partition across the probed cells (a cell is
    // corpus/K at scale — never funnel it into one task per query); the
    // neighbor's cell rides in the heap payload (cid < NumCells fits int)
    TopKByScore.ranked(pairs, Seq("query_id"), 3, col("cos"),
        col("neighbor_id"), col("cell").cast("int"))
      .select(col("query_id"), col("neighbor_id"),
        col("label").cast("long").as("cell"), col("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val NumCells = 16
  private[graft] val NumProbes = 2

  /** Probe count for [[embeddingDups]] — deliberately deeper than
    * [[NumProbes]] (a top-k QUERY can tolerate a missed neighbor; a
    * DEDUP pass that misses a near-duplicate ships it to training).
    * Measured recall at the 0.35 threshold on the test corpora:
    * 2 probes ≈ 0.51–0.54, 3 ≈ 0.78–0.81, 4 ≈ 0.93 — 3 clears the
    * spec's 0.6 floor with margin at ~2.25× the candidate volume of 2
    * (probes²·N²/cells); a production corpus buys recall back cheaper
    * by raising [[NumCells]] with trained centroids. */
  val DupProbes = 3

  /** Lloyd iterations for [[kmeansTrain]] — enough to demonstrate
    * convergence shape; real deployments iterate to a movement
    * threshold. */
  val KmeansIters = 3

  /** Scale for the centroid means' fixed-point accumulation (1e-6
    * resolution — beyond the corpus's float32 inputs). */
  private val KmeansScale = 1000000.0

  /** x33: k-means centroid TRAINING (Lloyd) over the unit vectors — the
    * step that turns x19/x8's "first K vectors as centroids" stand-in
    * into real IVF cells. [[NumCells]] centroids, [[KmeansIters]]
    * iterations, deterministic init (the first K vectors).
    *
    * Each iteration is fully distributed and bounded-state:
    *
    *  - assignment: corpus × BROADCAST centroids (≤K rows — the
    *    legitimate bounded hint), one codegen'd dot per (vector, cell),
    *    argmax via a row_number window PARTITIONED BY vec_id — a
    *    K-row-per-vector window, never a corpus-wide one;
    *  - update: posexplode to (cell, dim, value) and a PARTIAL-aggregated
    *    groupBy(cell, dim). Means accumulate as scaled integers
    *    (`floor(v·1e6 + 0.5)` — the same engine-portable rounding x27
    *    uses), so the sum is exact and partitioning-independent, and the
    *    final one double division is bit-deterministic — the DuckDB
    *    oracle reproduces every centroid bit-for-bit, which in turn
    *    makes the NEXT iteration's dot products and assignments
    *    engine-identical;
    *  - the centroid relation between iterations is ≤K×[[Dim]] rows —
    *    the plan grows linearly with iterations and no driver action
    *    runs at all (the loop only composes DataFrames).
    *
    * Output: (cid, dim, centroid, n_members) after the final update —
    * row form so the oracle needs no array reassembly. A cell that loses
    * all members simply drops out (standard Lloyd degeneracy; identical
    * in both engines). */
  def kmeansTrain(spark: SparkSession, sfDir: String): DataFrame = {
    // n_members rides on the trained centroid relation (the final Lloyd
    // update already counted it) — the separate corpus-scale sizes
    // aggregation + join this replaces measured one full extra pass
    val (cents, _) = lloyd(spark, sfDir)
    cents.select(col("cid"), col("n_members"),
        posexplode(col("cu")).as(Seq("dim", "centroid")))
      .select(col("cid"), col("dim").cast("long").as("dim"),
        col("centroid"), col("n_members"))
      .orderBy("cid", "dim")
  }

  /** The trained (cid, cu) centroid relation — [[kmeansTrain]]'s
    * composable form, consumed by [[ivfTopKTrained]] and the rest of
    * the trained-ANN family (x34/x90/x105/x106/x108).
    *
    * Memoized + persisted through [[OperatorCaches]] exactly like
    * [[Dedup.pairTable]]: the relation is ≤ K×[[Dim]] rows but costs
    * [[KmeansIters]] full corpus scans to train, and SEVEN battery
    * queries derive from it — a deployment trains the quantizer once
    * and serves every consumer from the artifact store (`Bench
    * --shared` measures that stance). Bench/Verify release the memo
    * between standalone runs, so per-query standalone measurement
    * still charges every query its own training. */
  private[graft] def trainedCentroids(spark: SparkSession, sfDir: String): DataFrame =
    OperatorCaches.memoized(spark, s"similarity.trainedCentroids:$sfDir") {
      OperatorCaches.persist(lloyd(spark, sfDir)._1)
    }

  /** [[KmeansIters]] Lloyd rounds: (trained centroids, final-round
    * assignment). Pure DataFrame composition — no driver actions.
    *
    * K is corpus-derived ([[derivedCellsExpr]]'s √(N/8) curve, floor
    * [[NumCells]]) — NOT a fixed constant. With fixed K=16 the trained
    * index's probe stage scanned nprobe/16 = N/8 of the corpus per query
    * at ANY corpus size; on the √ curve per-query candidate volume is
    * ~nprobe·N/K ∝ √N and x90's K×K separation join stays ∝ N/8 rows —
    * both sub-quadratic. Init is deterministic (lowest-vec_id slice), so
    * centroids remain bit-exact against the oracle's identical
    * derivation at every K. */
  private def lloyd(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    lloydFrom(normalized(spark, sfDir))

  /** [[lloyd]] over an arbitrary normalized (vec_id, u) relation — the
    * seam that lets [[indexMaintain]] train on the BASE slice only (the
    * production index is trained at snapshot time, then frozen while
    * deltas stream in). K rides [[derivedCellsExpr]]'s √(N/8) curve over
    * the TRAINING relation's count.
    *
    * Per-iteration shape since optimization round 14 (guide §2.3/§2.4 —
    * the previous shape paid per iteration: one broadcast join fanning
    * the corpus out K×, one `row_number` window = a corpus exchange +
    * sort, a 64× `posexplode` through a (cell, dim)-keyed aggregate, and
    * a second groupBy(cell) to reassemble the centroid arrays):
    *
    *  - assignment is a PURE MAP: the ≤K-row centroid relation collects
    *    into one broadcast row and [[graft.expressions.TopDots]] takes
    *    the argmax inside the row (same (cdot DESC, cid ASC) order, same
    *    K·Dim flops, zero corpus exchange);
    *  - the mean update is ONE partial-aggregated groupBy(cell) with the
    *    elementwise fixed-point sum [[graft.functions.VecSumScaled]] —
    *    the same `floor(v·1e6 + 0.5)` longs summed exactly, each map
    *    partition emitting ≤K buffer rows, centroid arrays coming out
    *    assembled (no fan-out, no reassembly shuffle).
    *
    * The returned centroid relation also carries `n_members` (the update
    * already counts it — [[kmeansTrain]] reads it instead of re-scanning
    * the assignment). Centroid values are bit-identical: exact integer
    * sums in any order, one correctly-rounded double division. */
  private[graft] def lloydFrom(e: DataFrame): (DataFrame, DataFrame) = {
    val vsum = udaf(new graft.functions.VecSumScaled(KmeansScale, Dim),
      ExpressionEncoder[Array[Double]]())
    var cents = standInCentroids(e, derivedCellsExpr)
    var lastAssign: DataFrame = null
    for (_ <- 1 to KmeansIters) {
      val carr = cents.groupBy()
        .agg(sort_array(collect_list(struct(col("cid"), col("cu")))).as("carr"))
      val assign = e.join(broadcast(carr))
        .select(col("vec_id"),
          element_at(topDots(col("u"), col("carr"), 1), 1).as("cell"),
          col("u"))
      lastAssign = assign
      cents = assign.groupBy("cell")
        .agg(vsum(col("u")).as("sv"), count(lit(1)).as("n_members"))
        .select(col("cell").as("cid"),
          transform(col("sv"), s => s.cast("double")
            / (lit(KmeansScale) * col("n_members").cast("double"))).as("cu"),
          col("n_members"))
    }
    // The trained relation is ≤K rows but costs KmeansIters corpus
    // passes; consumers that reference it more than once (x90 reads it
    // three times — cohesion broadcast + both separation sides) must not
    // re-train per reference. Lazy K-row persist: single-consumer paths
    // (x33/x111) pay only a bounded cache write.
    (OperatorCaches.persist(cents), lastAssign)
  }

  /** x90: CLUSTER QUALITY metrics for the x33-trained quantizer — per
    * cell: member count, mean cosine of members to the FINAL centroid
    * (cohesion — the unit-vector form of within-cluster SSE, since
    * ‖u − c‖² = 2·(1 − u·c) up to the centroid norm), and the nearest
    * OTHER centroid's cosine (separation). The accept/retrain gauge for
    * IVF training (x34) and SemDeDup cells (x48): low cohesion or high
    * separation-cosine flags cells that smear neighborhoods.
    *
    * Scale shape: membership is the final Lloyd assignment (already one
    * broadcast-centroid pass); cohesion is ONE more corpus pass — a
    * codegen'd dot against the broadcast final centroids folded by the
    * exact DECIMAL bridge (order-free mean); separation is a K×K
    * nested-loop over the BOUNDED centroid table (the x8 judgment —
    * the only NLJ shapes allowed are against bounded relations).
    * MAX over doubles is order-free, so the whole row is hash-exact. */
  def clusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.ChFunctions.davg
    val (cents, lastAssign) = lloyd(spark, sfDir)
    val own = lastAssign
      .join(broadcast(cents), lastAssign("cell") === cents("cid"))
      .withColumn("cos_own", dot(col("u"), col("cu")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"), davg(col("cos_own")).as("mean_cos"))
    val b = cents.select(col("cid").as("cid_b"), col("cu").as("cu_b"))
    val sep = cents.join(broadcast(b), col("cid") =!= col("cid_b"))
      .withColumn("cc", dot(col("cu"), col("cu_b")))
      .groupBy(col("cid").as("sep_cell"))
      .agg(max(col("cc")).as("nearest_other_cos"))
    own.join(sep, own("cell") === col("sep_cell"))
      .select(col("cell").as("cid"), col("n_members"), col("mean_cos"),
        col("nearest_other_cos"))
      .orderBy("cid")
  }

  /** Cosine threshold for [[semDedup]] — the [[embeddingDups]] operating
    * point (SemDeDup's epsilon; a production run sweeps it per-corpus). */
  val SemDedupThreshold = 0.35

  /** x48: SEMANTIC deduplication (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus's embeddings, then inside each
    * cluster drop every vector that is cosine-similar (>
    * [[SemDedupThreshold]]) to a higher-keep-priority member. Keep
    * priority follows the paper: LOW similarity to the cluster centroid
    * is kept first (the duplicate group's most "outlying" exemplar best
    * preserves diversity); vec_id breaks ties, and the sweep is the
    * deterministic greedy pass (dropped if similar to ANY earlier-ranked
    * member) — SQL-expressible and partitioning-independent.
    *
    * Scale shape — everything is bounded per CELL, never corpus-wide:
    *  - assignment is the two-level [[quantizedRanking]] over the LINEAR
    *    cell curve ([[dupCellsExpr]]: ~125 vectors/cell at any N), one
    *    cell per vector (crn = 1 — SemDeDup clusters each point once);
    *  - the keep-priority window partitions BY CELL — a ~125-row group
    *    by construction, the bounded-small exception to the
    *    never-a-corpus-window rule;
    *  - the pair stage self-joins ON the cell: Σ cellsize² ≈ N·125
    *    candidate dots — linear in corpus size, one codegen'd
    *    [[graft.expressions.VecDot]] each.
    * Output: every vector with its cell, centroid similarity, and keep
    * flag — the relation a curation pipeline semi-joins against. */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    val cents = standInCentroids(e, dupCellsExpr)
    val assign = quantizedRanking(e, cents, 1).filter(col("crn") === 1)
      .select(col("vec_id"), col("u"), col("cid").as("cell"))
    // centroid similarity for the keep-priority ranking (the quantizer
    // ranks by this dot internally but does not expose it; one extra
    // K-bounded broadcast join + one dot per vector re-derives it)
    val withC = assign
      .join(broadcast(cents.select(col("cid").as("cell"), col("cu"))), "cell")
      .withColumn("cdot", dot(col("u"), col("cu")))
    val byCell = Window.partitionBy("cell")
      .orderBy(col("cdot").asc, col("vec_id"))
    // persisted: both pair-join sides and the final projection read it
    val ranked = OperatorCaches.persist(
      withC.withColumn("rnk", row_number().over(byCell))
        .select("vec_id", "cell", "u", "cdot", "rnk"))
    val a = ranked.select(col("cell"), col("u").as("ua"),
      col("rnk").as("rnk_a"))
    val b = ranked.select(col("cell"), col("vec_id").as("id_b"),
      col("u").as("ub"), col("rnk").as("rnk_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("rnk_a") < col("rnk_b"))
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") > SemDedupThreshold)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    ranked.join(dropped, Seq("vec_id"), "left")
      .withColumn("keep", coalesce(col("is_dropped"), lit(false)) === lit(false))
      .select(col("vec_id"), col("cell"), col("cdot"), col("keep"))
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs via IVF candidate generation +
    * exact verify — never an all-pairs join. Every vector is assigned to
    * its [[DupProbes]] nearest Voronoi cells (multi-probe raises recall
    * across cell boundaries); candidate pairs are pairs sharing a cell
    * (the cell id is the shuffle key), verified in-stream with a
    * codegen'd dot per candidate OCCURRENCE (≤ probes² per pair), then
    * deduped — survivors only. Precision is exact;
    * recall is approximate (pairs whose probe sets are disjoint are
    * missed — see [[DupProbes]] for the measured curve) and tunable via
    * probes/cells. Candidate volume is Σ cellsize² ≈ probes²·N²/cells
    * instead of N²/2 — the bucketed-not-all-pairs contract at 100 TB,
    * where cells are also the partition key. */
  def embeddingDups(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    val cents = standInCentroids(e, dupCellsExpr)
    // two-level assignment ([[quantizedRanking]]) — with this op's
    // LINEAR cell curve the old brute-force matrix was the N²/125 term.
    // The unit vector RIDES THROUGH the cell join (u is selected here,
    // not fetched later): the round-8 sf10 run measured the alternative —
    // candidates.distinct() then two corpus joins to fetch ua/ub — at
    // 3 candidate-pair-scale shuffles (a 112M-row distinct plus two
    // 112M-row fetch joins dominated x8's 344 s at 200k vectors). With u
    // carried, the shuffle is the (N·probes)-row cell join ONLY (~550 B
    // rows — hundreds of MB, not hundreds of millions of rows); the dot
    // + threshold filter run codegen'd on the join OUTPUT stream before
    // anything else shuffles, and the dedup ships just the survivors.
    // Multi-probe duplicate pairs cost duplicate DOTS (≤ probes² per
    // pair — cheap, fused multiply-adds) instead of a corpus-pair-scale
    // exchange. Results are identical: the dot is deterministic per
    // pair, so distinct-after-filter = distinct-before-fetch.
    val cells = quantizedRanking(e, cents, DupProbes)
      .filter(col("crn") <= DupProbes)
      .select(col("vec_id"), col("u"), col("cid").as("cell"))
    val a = cells.select(col("vec_id").as("id_a"), col("u").as("ua"),
      col("cell"))
    val b = cells.select(col("vec_id").as("id_b"), col("u").as("ub"),
      col("cell"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") > 0.35)
      .select("id_a", "id_b", "cos").distinct()
      .orderBy("id_a", "id_b")
  }

  /** Cutoff for [[recallAtK]] (both rankings truncated to k). */
  val RecallK = 3

  /** x58: ANN index self-evaluation — recall@k of the IVF index
    * ([[ivfTopK]]) against the exact brute-force ranking
    * ([[bruteForceTopK]]) on the same query set. This is the metric an
    * index deployment tunes nprobe/ncells against; computing it IN the
    * engine (rather than exporting both rankings) keeps the corpus
    * passes on the cluster and ships only per-query counts.
    *
    * Scale shape: both inputs are k-rows-per-query by construction, so
    * everything past the two index scans is |queries|·k-sized — the
    * intersection join and both counts are broadcast-trivial at any
    * corpus size; the cost IS the two scans under evaluation.
    * `recall_ppm` is exact integer arithmetic (hits·10⁶ div k), so the
    * gate stays hash-exact with no float division. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallAtK(spark, sfDir, ivfTopK(spark, sfDir))

  /** x58/x106: recall@[[RecallK]] of an approximate (query_id, neighbor_id,
    * …, rank) ranking against [[bruteForceTopK]], per query. */
  private[operators] def recallAtK(spark: SparkSession, sfDir: String,
      approx: DataFrame): DataFrame = {
    val exact = bruteForceTopK(spark, sfDir)
      .filter(col("rank") <= RecallK)
      .select("query_id", "neighbor_id")
    val hits = exact
      .join(approx.filter(col("rank") <= RecallK)
        .select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", expr(s"n_hits * 1000000 div $RecallK"))
      .select("query_id", "n_exact", "n_hits", "recall_ppm")
      .orderBy("query_id")
  }

  /** Cosine threshold for [[semanticDecontaminate]] — low enough to be
    * non-vacuous on the harness corpora (random 64-dim unit vectors
    * concentrate cosine near 0 ± 1/8, so ≥ 0.2 flags the upper tail of
    * each probed cell); a deployment tunes it against a labeled
    * contamination set. Threshold compares are safe cross-engine
    * because both sides compute bit-identical dot folds. */
  val DecontamTau = 0.2

  /** x108: SEMANTIC decontamination — the embedding-space flavor of
    * x29/x52/x75's n-gram/substring decontamination: for each benchmark
    * (eval) vector, find every corpus vector with cosine ≥
    * [[DecontamTau]] and report the contamination count plus the worst
    * offender. Paraphrased or lightly-reworded benchmark leakage defeats
    * n-gram matching entirely; embedding similarity is how production
    * pipelines (GPT-3 appendix C descendants) catch it.
    *
    * Shape for scale: the trained-IVF probe path, NOT brute force — the
    * eval set probes its [[NumProbes]] nearest Lloyd cells through x34's
    * [[ivfProbe]] over [[trainedCentroids]] (K on the √(N/8) curve) and
    * scans only those cells' members, so per-eval-vector work is ∝ √N
    * and the scan shape is x34's audited plan: one persisted ranking
    * pass, a broadcast of the |eval|·nprobe probe relation, one
    * codegen'd [[graft.expressions.VecDot]] per candidate.
    * Recall semantics are x34's (a contaminant outside the probed cells
    * is missed — the oracle mirrors the identical probe pipeline, so the
    * gate stays hash-exact; x58/x106 are the recall audits for this
    * trade). Zero-hit eval vectors still emit a row (count 0, sentinel
    * partner), so the output is non-vacuous at any τ. */
  def semanticDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    val (assign, probes) = ivfProbe(e, trainedCentroids(spark, sfDir))
    // a (query, neighbor) pair can appear at most once: the neighbor's
    // cell is its unique crn=1 assignment, so no distinct is needed
    // before the count. max(struct) is the deterministic argmax (best
    // cos, ties to the larger id) — never a per-query window over the
    // candidate set.
    val hits = broadcast(probes).join(assign, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qu"), col("nu")))
      .filter(col("cos") >= DecontamTau)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_flagged"),
        max(struct(col("cos"), col("neighbor_id"))).as("best"))
    queryRows(e).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("best.neighbor_id"), lit(-1L)).as("best_id"),
        coalesce(col("best.cos"), lit(-1.0)).as("best_cos"))
      .orderBy("query_id")
  }

  /** x111: drift factor — a cell is flagged when its ppm share of the
    * DELTA exceeds [[IndexDriftTau]]× its ppm share of the BASE (the
    * "this cell is filling up faster than the index was trained for"
    * retrain alarm). Compared in exact ppm integers, never floats. */
  val IndexDriftTau = 2L

  /** x111: INCREMENTAL IVF INDEX MAINTENANCE — the between-retrains
    * shape every production ANN deployment runs at 100 TB: the coarse
    * quantizer is trained ONCE at snapshot time (here: Lloyd on the
    * base 80% of the id space — x103's snapshot-boundary device), then
    * frozen while new vectors are only ASSIGNED to the fixed cells.
    * Output is the maintenance dashboard per cell: base/delta member
    * counts, each side's ppm occupancy share, and a drift flag for
    * cells receiving > [[IndexDriftTau]]× their proportional share of
    * new mass — the signal that routing quality is decaying and a
    * retrain (x33) plus quality audit (x90) is due.
    *
    * Scale shape: the split boundary is a 1-row broadcast aggregate
    * (never a collect); training pays x33's fixed-round Lloyd cost on
    * the base slice with K on the √(N/8) curve of the BASE count;
    * assignment of the full corpus is the audited two-level
    * [[quantizedRanking]] (~(1+[[SuperProbes]])·√K dots per vector, not
    * K); everything after is one cell-keyed partial-aggregated groupBy
    * (≤K rows) and a 1-row totals broadcast over it. The share math is
    * integer ppm (exact in both engines); the flag is an integer
    * compare of the two ppm shares, so a corpus of any size can never
    * float-drift the gate. */
  def indexMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normalized(spark, sfDir)
    val split = e.agg(
      floor(max(col("vec_id")).cast("double") * 4.0 / 5.0)
        .cast("long").as("split_id"))
    val base = e.crossJoin(broadcast(split))
      .filter(col("vec_id") < col("split_id"))
      .select("vec_id", "u")
    val cents = lloydFrom(base)._1
    val assign = quantizedRanking(e, cents, 1).filter(col("crn") === 1)
      .select("vec_id", "cid")
    val counts = assign.crossJoin(broadcast(split))
      .groupBy("cid")
      .agg(
        sum(when(col("vec_id") < col("split_id"), 1L).otherwise(0L))
          .as("n_base"),
        sum(when(col("vec_id") >= col("split_id"), 1L).otherwise(0L))
          .as("n_delta"))
    val totals = counts.agg(sum(col("n_base")).as("tot_base"),
      sum(col("n_delta")).as("tot_delta"))
    counts.crossJoin(broadcast(totals))
      .select(col("cid"), col("n_base"), col("n_delta"),
        expr("n_base * 1000000 DIV tot_base").as("base_share_ppm"),
        expr("n_delta * 1000000 DIV tot_delta").as("delta_share_ppm"))
      .withColumn("drift_flag",
        col("delta_share_ppm") > lit(IndexDriftTau) * col("base_share_ppm"))
      .orderBy("cid")
  }
}
