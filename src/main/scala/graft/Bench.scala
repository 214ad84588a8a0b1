package graft
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
object Bench {
  /** Millisecond-precision JSON rendering: the driver's BENCH artifact
    * is a stdout tail-scrape, and round 11's full-precision doubles
    * pushed the 146-query line past the scrape window ("parsed": null,
    * the complete record surviving only in the file copies). 4 decimals
    * is ~40% fewer bytes and far below measurement noise. */
  private def f4(d: Double): String = fN(d, 4)

  /** Fixed-decimals rendering for the compact scraped line (see below). */
  private def fN(d: Double, decimals: Int): String =
    if (d.isNaN || d.isInfinite) "null" // raw NaN/Infinity tokens are invalid JSON
    else BigDecimal(d).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON object of already-rendered values. */
  private def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => util.JsonText.quote(k) + ":" + v }.mkString("{", ",", "}")

  /** Local property naming the query a timed run belongs to. A thread the
    * run starts inherits it, so `Overlap.run`'s side jobs count too. */
  private val QueryProperty = "graft.bench.query"

  /** Runs `body` with the jobs it starts attributed to `query`. */
  def attributed[T](spark: SparkSession, query: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(QueryProperty, query)
    try body finally spark.sparkContext.setLocalProperty(QueryProperty, null)
  }

  /** A completed stage's totals over its tasks. */
  final case class StageStats(id: Int, tasks: Int, runMs: Long, cpuNs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class JobStats(id: Int, label: String, startMs: Long, endMs: Long,
      stages: Seq[StageStats])

  /** The jobs of each query's [[attributed]] runs and their completed
    * stages, as the listener bus delivers them: off the timed path, and
    * complete once the session has stopped. */
  final class Profiler extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, (String, JobStats)]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      Option(js.properties).flatMap(p => Option(p.getProperty(QueryProperty))).foreach { q =>
        val desc = Option(js.properties.getProperty("callSite.short"))
          .orElse(Option(js.properties.getProperty("spark.job.description"))).getOrElse("")
        // AQE materializes each shuffle stage as its own job with no call
        // site: the stage names (deduped) are the attribution
        val stages = js.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | ")
        val label = if (desc.nonEmpty) s"$desc  [$stages]" else s"[$stages]"
        jobs(js.jobId) = q -> JobStats(js.jobId, label, js.time, js.time, Vector.empty)
        js.stageIds.foreach(stageJob.getOrElseUpdate(_, js.jobId))
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.updateWith(je.jobId)(_.map { case (q, j) => q -> j.copy(endMs = je.time) })
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      for (jobId <- stageJob.get(si.stageId); m <- Option(si.taskMetrics)) {
        val st = StageStats(si.stageId, si.numTasks, m.executorRunTime, m.executorCpuTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
        jobs.updateWith(jobId)(_.map { case (q, j) => q -> j.copy(stages = j.stages :+ st) })
      }
    }

    def jobsOf(query: String): Seq[JobStats] = synchronized {
      jobs.values.collect { case (`query`, j) => j }.toSeq
    }

    /** Per query: its runs' wall time (`walls`), task run time and CPU,
      * utilization, and each job with its stages. */
    def json(walls: Seq[(String, Seq[Double])], cores: Int, sfDir: String): String = {
      def mb(bytes: Long) = f4(bytes / 1e6)
      def stage(st: StageStats) = obj(Seq("id" -> st.id.toString, "tasks" -> st.tasks.toString,
        "run_s" -> f4(st.runMs / 1e3), "cpu_s" -> f4(st.cpuNs / 1e9), "in_mb" -> mb(st.inputBytes),
        "shuffle_read_mb" -> mb(st.shuffleReadBytes),
        "shuffle_write_mb" -> mb(st.shuffleWriteBytes), "spill_mb" -> mb(st.spillBytes)))
      def job(j: JobStats) = obj(Seq("id" -> j.id.toString,
        "wall_s" -> f4((j.endMs - j.startMs) / 1e3), "label" -> util.JsonText.quote(j.label),
        "stages" -> j.stages.map(stage).mkString("[", ",", "]")))
      val queries = walls.map { case (q, ws) =>
        val js = jobsOf(q)
        val runMs = js.flatMap(_.stages).map(_.runMs).sum
        // utilization = Σ executorRunTime / (wall × cores)
        q -> obj(Seq("runs" -> ws.size.toString, "wall_s" -> f4(ws.sum),
          "run_time_s" -> f4(runMs / 1e3), "util" -> f4(runMs / (ws.sum * 1000 * cores)),
          "task_cpu_s" -> f4(js.flatMap(_.stages).map(_.cpuNs).sum / 1e9),
          "jobs" -> js.map(job).mkString("[", ",", "]")))
      }
      obj(Seq("cores" -> cores.toString, "sf" -> util.JsonText.quote(sfDir),
        "queries" -> obj(queries)))
    }
  }

  /** Initial partition count of AQE's coalescing for an input of
    * `sfBytes`. Exchanges START wide only when the corpus is big enough to
    * need it, and AQE coalesces them to its advisory target from measured
    * sizes (the PLANS.md deployment sizing). At sf >= 1 a corpus-scale
    * exchange (e.g. x3's budgeted pair volume, ~3e8 rows at sf10) lands
    * ~1M rows per final-aggregation task instead of ~10M: the per-task hash
    * map stays under the task memory slice and the sort-fallback spill
    * (measured 47 GB of temp_local at sf10 under 32 fixed partitions — 3x
    * the exchange itself) never starts. At sf <= 0.1 the wide start is NOT
    * free, round-11's flat 512 measured it: multi-stage iterative queries
    * (x73's 8 power steps, the 3-round Lloyd family) paid 512-reducer
    * startup per exchange — 1.9-3.4x on exactly that family — so small
    * inputs keep the cpu-count default. The cut is input SIZE (sf1 is
    * ~180 MB, sf0.1 ~18 MB). */
  def initialPartitions(sfBytes: Long, cores: String): String =
    if (sfBytes >= 100L * 1024 * 1024) "512" else cores

  def conf(cores: String, sfBytes: Long): Seq[(String, String)] = Session.conf(cores,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      initialPartitions(sfBytes, cores))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores(sys.env)
    val spark = Session.build(conf(cpus, queries.Tables.corpusBytes(sfDir).getOrElse(0L)), "WARN")
    // Honest measurement: execute the MATERIALIZED plan via the built-in
    // noop sink — every operator runs, including each query's final
    // orderBy (a bare .count() would let EliminateSorts prune it, under-
    // measuring sort-heavy queries relative to what Verify hash-checks),
    // while writing nothing.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // --shared: EMBEDDING-SESSION mode — run the named queries once
    // each, in order, WITHOUT per-query cache release, measuring the
    // materialize-once deployment stance (Dedup.pairTable: the first
    // consumer pays for the LSH pair build, the rest read it). Emits
    // metric "shared_session" so the number can never be confused with
    // the standalone battery, which releases caches between timed runs
    // and charges every query its own build (the honesty rule). Default
    // set = the composed-dedup trio behind the seam.
    val sharedMode = args.contains("--shared")
    val qargs = args.filterNot(_ == "--shared")
    // Optional args restrict the run to the named queries (iteration aid);
    // unknown names fail fast instead of silently measuring nothing.
    val unknown = qargs.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (qargs.nonEmpty) SparkEntry.queries.filter(kv => qargs.contains(kv._1))
      else SparkEntry.queries
    if (sharedMode) {
      val names =
        if (qargs.nonEmpty) qargs.toSeq
        else Seq(
          // the composed-dedup trio behind Dedup.pairTable, then the
          // x117 capstone build consuming the SAME session-shared pair
          // build + component seams (its deployment stance: the corpus
          // build runs where the dedup family already materialized its
          // stages — standalone, it honestly pays them itself)
          "x99_lsh_recall", "x101_dup_components", "x102_canonical_keep",
          "x117_corpus_build",
          // the trained-ANN family behind Similarity.trainedCentroids:
          // the first consumer trains the Lloyd quantizer, the rest
          // read the memoized artifact
          "x34_ann_trained", "x90_cluster_quality", "x105_ivfpq_topk",
          "x106_ivfpq_recall", "x108_semantic_decontaminate")
      // JIT/codegen warmup on the first query, caches released — the
      // timed pass still pays the pair build exactly once (first query)
      try run(SparkEntry.queries(names.head)) catch { case _: Throwable => }
      util.OperatorCaches.release(spark)
      val timed = names.map { n =>
        val t0 = System.nanoTime()
        run(SparkEntry.queries(n))
        n -> (System.nanoTime() - t0) / 1e9
      }
      util.OperatorCaches.release(spark)
      val qsJson = obj(timed.map { case (k, v) => k -> f4(v) })
      println(s"""{"metric":"shared_session","value":${f4(timed.map(_._2).sum)},"unit":"sec","queries":$qsJson,"sf":"$sfDir"}""")
      spark.stop()
      return
    }
    // FAIL LOUDLY. Round 7 shipped a 15-query outage as "total 89 s, rc=0"
    // because every exception here was swallowed: a query that throws was
    // recorded as a ~0.06 s success. Every failure now lands in the
    // emitted JSON ("errors") and flips the exit code.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val profiler = new Profiler
    spark.sparkContext.addSparkListener(profiler)
    // Analysis pre-check (plan only, no execution): a query broken at
    // analysis time — the round-7 failure mode — is caught in
    // milliseconds here and excluded from the timed battery instead of
    // polluting it with sub-100ms "successes".
    errors ++= Analyze.failures(spark, sfDir, selected.keys)
    val analyzed = selected.toSeq.sortBy(_._1).filterNot(q => errors.contains(q._1))
    // Warm the JVM/codegen/scan paths on one of the queries actually under
    // measurement, so the first timed query isn't billed for session init.
    // A warmup-only execution failure is still a failure — record it.
    analyzed.headOption.foreach { case (name, fn) =>
      try { run(fn) }
      catch { case e: Throwable => errors.getOrElseUpdate(name, Analyze.firstLine(e)) }
      util.OperatorCaches.release(spark)
    }
    // Report min of two runs per query: steady-state cost, de-noised from
    // JIT warmup of interpreted expression paths and this host's sporadic
    // multi-second hypervisor scheduling stalls (observed 60s+ idle-wait
    // outliers on otherwise-4s queries, uncorrelated with plan shape).
    def one(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      if (errors.contains(name)) return Double.NaN // don't re-run known-broken
      val t0 = System.nanoTime()
      try attributed(spark, name)(run(fn))
      catch { case e: Throwable => errors(name) = Analyze.firstLine(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop operator-level persist() caches THROUGH the CacheManager
      // (Dataset.unpersist clears the plan→cache mapping; a raw-RDD
      // unpersist would leave it behind, making the next run's
      // identical persist() a no-op that then recomputes uncached) —
      // every timed run must pay (and measure) its own cache
      // population. Scoped release via the registry, not clearCache.
      util.OperatorCaches.release(spark)
      dt
    }
    // INTERLEAVED min-of-3 + median-of-3: run the whole battery three
    // times and take each query's min AND median across passes — any two
    // samples of a query are a full battery (~half a minute) apart, so a
    // steal burst can poison at most one of them. The median is the
    // round-over-round comparison number (robust to one poisoned sample
    // BY CONSTRUCTION, where min-of-N still needs the deferred-retry
    // machinery below); the min remains the steady-state/baseline
    // number. The back-to-back formulation this replaces sampled runs
    // inside the same burst (measured: the same query 4-6× inflated in
    // consecutive runs, while clean in a battery run minutes later).
    val sorted = analyzed
    val pass1 = sorted.map { case (name, fn) => name -> one(name, fn) }.toMap
    val pass2 = sorted.map { case (name, fn) => name -> one(name, fn) }.toMap
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val firstPass = sorted.map { case (name, fn) =>
      val t3 = one(name, fn)
      (name, fn, List(pass1(name), pass2(name), t3), System.nanoTime())
    }
    // Deferred outlier retries: this host's hypervisor-steal bursts span
    // ~1 min — long enough to poison BOTH back-to-back runs of whichever
    // query they land on (and a third consecutive run too, observed on
    // x2 in the round-2 driver bench: 23 s recorded vs 1.9-3.3 s solo).
    // Queries still over the threshold retry AFTER the whole battery has
    // run; if the outlier was measured moments ago (it was late in the
    // battery and nothing else needs retrying), wait out the remainder
    // of a 25 s window first so the retry is ALWAYS decorrelated from
    // the burst that poisoned the measurement. Up to two retries,
    // stopping at the first clean reading; min-of-N semantics are
    // unchanged — only the Nth run's timing moves.
    // Threshold sits just above the slowest CLEAN steady states (~3 s);
    // x28's iterative connected components legitimately run ~4.3-5 s, so
    // it alone carries a higher ceiling — without the override every
    // battery would burn both its retries (plus decorrelation waits) on
    // a healthy query. Measured motivation for 3.5 over the previous
    // 6.0: steal bursts routinely inflate 0.6-1.5 s queries to 2-4.5 s
    // (different queries each run), which the old threshold recorded as
    // truth — two consecutive solo batteries differed by 8 s of pure
    // noise below the retry line.
    val SlowSec = 3.5
    // queries whose CLEAN steady state exceeds the default line (x28's
    // driver union-find epilogue; x33/x34 run three Lloyd iterations,
    // x34 plus the probe/rank search on top) — without the overrides a
    // healthy battery burns both retries plus decorrelation waits on them
    val SlowSecOverride = Map(
      "x28_dup_clusters" -> 6.5,
      "x33_kmeans_train" -> 4.5,
      "x34_ann_trained" -> 5.5)
    // A sample set's median is the LOWER middle of the sorted samples —
    // with 3 clean samples that is the true median, and after one retry
    // (4 samples, one poisoned) it is the second-smallest, i.e. the
    // poisoned sample is discarded by construction.
    def medOf(ss: List[Double]): Double = {
      val s = ss.sorted; s((s.length - 1) / 2)
    }
    // The median's steal line: round 11 recorded x113 at median 58.7 s
    // against its own 11.65 s min (a query cannot cost 5x more on the
    // same data) because the deferred-retry machinery protected only
    // the min while the median was the declared round-over-round
    // number. A median more than 3x its own min (with a small absolute
    // allowance so sub-second queries don't burn 25 s decorrelation
    // waits over scheduling jitter) is now retried exactly like a slow
    // min, and each retry's sample re-enters the median.
    def medianPoisoned(ss: List[Double]): Boolean =
      medOf(ss) > math.max(3.0 * ss.min, ss.min + 0.8)
    val results = firstPass.map { case (name, fn, samples3, firstAt) =>
      val threshold = SlowSecOverride.getOrElse(name, SlowSec)
      var ss = samples3
      var measuredAt = firstAt
      var retries = 0
      while ((ss.min > threshold || medianPoisoned(ss)) && retries < 2 &&
          !errors.contains(name)) {
        val elapsed = (System.nanoTime() - measuredAt) / 1e9
        if (elapsed < 25.0) Thread.sleep(((25.0 - elapsed) * 1000).toLong)
        ss = one(name, fn) :: ss
        // refresh: the SECOND retry's decorrelation window must be
        // measured from the first retry, not from the original battery
        // pass — otherwise back-to-back retries land inside the same
        // steal burst the wait was meant to skip
        measuredAt = System.nanoTime()
        retries += 1
      }
      samples(name) = ss
      name -> ss.min
    }.filterNot { case (name, _) => errors.contains(name) }
    val qs = obj(results.map { case (k, v) => k -> f4(v) })
    val qsMed = obj(results.map { case (k, _) => k -> f4(medOf(samples(k))) })
    val errJson = obj(errors.map { case (k, v) => k -> util.JsonText.quote(v) })
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val totalMed =
      if (results.nonEmpty) results.map(r => medOf(samples(r._1))).sum else 0.0
    val line = s"""{"metric":"total","value":${f4(total)},"unit":"sec","queries":$qs,"queries_median":$qsMed,"total_median":${f4(totalMed)},"failed":${errors.size},"errors":$errJson,"sf":"$sfDir"}"""
    // The file copy is the complete, machine-readable record regardless
    // of scrape limits, and is written FIRST: if compact-line assembly
    // ever threw (the old id-prefix collision `require`), the whole
    // run's timings must not die with it. Written under BOTH the stable
    // name (what scale_gate knows to read) and an sf-labeled name, so
    // consecutive runs at different SFs don't silently overwrite each
    // other's record.
    System.err.println(line)
    val sfLabel = java.nio.file.Paths.get(sfDir).getFileName.toString
    val outFiles = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(Seq(_))
      .getOrElse(Seq("BENCH_LATEST.json", s"BENCH_LATEST_$sfLabel.json"))
    def write(file: String, text: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(file), text + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $file: ${e.getMessage}") }
    outFiles.foreach(write(_, line))
    // The driver's BENCH artifact is json.loads of the LAST 2000 CHARS
    // of raw sbt stdout: the full 148-query line is ~7.8 KB, so every
    // round through r12 recorded "parsed": null (the tail starts
    // mid-JSON). Stdout therefore carries ONE compact line sized under
    // the window: query keys are the id prefix before the first '_'
    // ("x106_ivfpq_recall" -> "x106" — unique across the battery; on a
    // future collision the line falls back to full names and may
    // overflow the window, degrading the scrape but never the run),
    // values at 2 decimals (dropping to 1/0 if a huge-SF run would
    // still overflow), medians and error MESSAGES live only in the file
    // artifact + stderr. Full-name record: BENCH_LATEST[_<sf>].json.
    def compactLine(decimals: Int): String = {
      val shortKeys = results.map { case (k, _) => k.takeWhile(_ != '_') }
      val collide = shortKeys.distinct.size != shortKeys.size
      val pairs =
        if (collide) results
        else results.map { case (k, v) => k.takeWhile(_ != '_') -> v }
      val qsShort = obj(pairs.map { case (k, v) => k -> fN(v, decimals) })
      s"""{"metric":"total","value":${fN(total, decimals)},"unit":"sec","keys":"id-prefix; full names in BENCH_LATEST file","queries":$qsShort,"total_median":${fN(totalMed, decimals)},"failed":${errors.size},"sf":"$sfDir"}"""
    }
    val scraped = Iterator(2, 1, 0).map(compactLine)
      .find(_.length <= 1900)
      .getOrElse(compactLine(0))
    // Stop Spark BEFORE the scraped line: a sporadic shutdown-time WARN
    // on stdout after the line would re-enter the driver's 2000-char
    // window and break the parse. Stopping also drains the listener bus,
    // so the profile below has every job and stage of the timed runs.
    spark.stop()
    // Beside each record file, <record>.profile.json: each query's timed
    // runs, job by job and stage by stage (Profiler).
    val profile = profiler.json(results.map { case (k, _) => k -> samples(k) }, cpus.toInt, sfDir)
    outFiles.foreach(f => write(f.stripSuffix(".json") + ".profile.json", profile))
    // Newline-pad so stdout's final 2000 chars are whitespace + the
    // compact line and nothing else (json.loads tolerates leading
    // whitespace; anything earlier on stdout — Spark warnings, progress
    // noise — is pushed out of the scrape window).
    print("\n" * 2100)
    println(scraped)
    // A bench with ANY failed query must not look like a success to the
    // driver or to gate.sh — rc=0 with failures is how round 7 went blind.
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"BENCH FAIL $k: $v") }
      sys.exit(1)
    }
  }
}
