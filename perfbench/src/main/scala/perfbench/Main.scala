package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.Schemas
import graft.streaming.NatsLikeStream

/** Benchmark harness: runs one workload in this process and writes its raw
  * samples as JSON (and, when tracing, the span file) for `run.py`, which
  * turns them into metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --corpus <dir> --out <file>
  * }}}
  */
object Main {

  /** Untimed drains before the timed ones. */
  val WarmupDrains = 2

  /** `--seconds` buys one timed drain per this many seconds (a drain with
    * its set-up took 2.5 s on `ingest_ref` and 3.5 s on
    * `ingest_bulk_native` on 4 cores). */
  val SecondsPerDrain = 2.5

  /** `--seconds` buys one timed battery pass per this many seconds (a
    * pass took 6–7 s on 4 cores, so the 7 s of `run_seconds` buy one). */
  val SecondsPerPass = 5.0

  /** Envelopes per drain; the warm-up drains have the same size. */
  val RefEnvelopes = 6000
  val BulkEnvelopes = 25000

  /** Queries of the battery workload, in name order: three relational
    * (aggregate, join + top-k, window), two reference-parity (ingest
    * projection, analytics view) and three operators (MinHash LSH,
    * union-find components, CDC chunking) — about 5 s of the full 150-query
    * battery's 110 s on 4 cores, so a run fits the benchmark's time budget. */
  val BatteryQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_join_topk", "q8_window_rank", "r1_ingest_raw",
    "r4_analytics_derive", "x28_dup_clusters", "x2_minhash_lsh", "x87_cdc_chunks")

  /** One query per family, run by traced ingest runs so the batch layers
    * are measured on every workload. */
  val BatteryProbeQueries: Seq[String] =
    Seq("q1_pricing_summary", "r4_analytics_derive", "x87_cdc_chunks")

  final case class Result(attempted: Long, failed: Long,
      setupS: Seq[Double], passS: Seq[Double], stepMs: Seq[Double],
      peakMemMb: Double, notes: Seq[String])

  private val t0 = System.nanoTime()
  /** Phase marks on stderr (the harness log), for sizing the workloads. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2fs $what")

  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work"))
    val corpus = opts("corpus")
    if (opts.contains("write-refs")) {
      Refs.write(corpus, cores, BatteryQueries ++ BatteryProbeQueries)
      return
    }
    Recorder.tracing = opts("trace") == "1"
    watchHeap()
    Files.createDirectories(work)

    val result = try Recorder.span("run", 0L, Map("cores" -> cores.toDouble)) { run =>
      Recorder.current = run
      workload match {
        case "ingest_ref" | "ingest_bulk_native" =>
          ingest(workload, seed, seconds, cores, work, corpus, run)
        case "battery" => battery(seed, seconds, cores, work, corpus, run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    if (Recorder.tracing) Recorder.writeTrace(work.resolve("trace.jsonl"), s"$workload-$seed")
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    Files.writeString(Paths.get(opts("out")),
      s"""{"workload":"$workload","attempted":${result.attempted},""" +
      s""""failed":${result.failed},"setup_s":${arr(result.setupS)},""" +
      s""""pass_s":${arr(result.passS)},"step_ms":${arr(result.stepMs)},""" +
      s""""peak_mem_mb":${result.peakMemMb},""" +
      s""""notes":${result.notes.map(n => graft.util.JsonText.quote(n)).mkString("[", ",", "]")}}""")
    mark("done")
    // the program under test may leave non-daemon threads behind
    sys.exit(0)
  }

  def ingest(workload: String, seed: Long, seconds: Double, cores: Int,
      work: Path, corpus: String, run: Long): Result = {
    val ref = workload == "ingest_ref"
    val shape = if (ref) Backlog.reference(RefEnvelopes) else Backlog.bulk(BulkEnvelopes)
    val backlog = work.resolve("backlog")
    val expected = Backlog.write(backlog, shape, seed)
    val warm = Backlog.write(work.resolve("warmup"), shape, seed + 1)
    mark("backlogs written")
    val native = new NativeStandIn(Schemas.raw, cores)
    try {
      val runner =
        if (ref) new Ingestion.ServiceRunner(native, Ingestion.writeConfig(work, native))
        else new Ingestion.PipelineRunner(native, cores)
      val notes = ArrayBuffer.empty[String]
      var attempted = 0L; var failed = 0L
      def check(d: Ingestion.Drain, what: String): Unit = {
        attempted += d.expected; failed += d.failed
        if (d.failed > 0) notes += s"$what: ${d.failed} of ${d.expected} rows wrong"
      }
      // two untimed drains of their own backlog: JIT and per-session
      // set-up settle only after a few drains (measured: the third drain
      // of a process runs ~25% faster than its first)
      (1 to WarmupDrains).foreach { i =>
        check(Ingestion.drainOnce(runner, work.resolve("warmup"), warm, work, run, "warmup"),
          s"warm-up drain $i")
      }
      mark("warm-up drained")
      val drains = ArrayBuffer.empty[Ingestion.Drain]
      // a fixed count of timed drains per run, so every run's epochs have
      // the same mix (each drain's first epoch pays the new session)
      val timedDrains = math.max(2, math.round(seconds / SecondsPerDrain).toInt)
      while (drains.size < timedDrains) {
        val d = Ingestion.drainOnce(runner, backlog, expected, work, run, "timed")
        check(d, s"drain ${drains.size + 1}")
        drains += d
        mark(f"drain ${drains.size} checked: setup ${d.setupNs / 1e9}%.3fs drain ${d.drainNs / 1e9}%.3fs epochs ${d.epochMs.mkString(",")}")
      }
      val mem = peakMemMb()
      if (Recorder.tracing) {
        val spark = session(cores)
        Recorder.span("probes", run) { p =>
          Recorder.current = p
          val malformed = Probes.sources(backlog, p)
          attempted += 1
          if (malformed != expected.malformed) {
            failed += 1; notes += s"source skipped $malformed lines, generator wrote ${expected.malformed}"
          }
          Probes.capture(backlog, work, p)
          val sample = Probes.pipeline(spark, backlog, p)
          val http = new HttpStandIn(cores)
          try Probes.sinks(sample, native, http, work, p) finally http.close()
          Recorder.span("complement", p) { c =>
            BatteryProbeQueries.foreach(q => Battery.timed(spark, corpus, q, c))
          }
          spark.stop()
          val one = oneCore(native, backlog, expected,
            if (ref) NatsLikeStream.MaxRowsPerTrigger else Ingestion.BulkRowsPerTrigger, work, p)
          check(one, "one-core drain")
        }
      }
      Result(attempted, failed, drains.map(_.setupNs / 1e9).toSeq,
        drains.map(_.drainNs / 1e9).toSeq, drains.flatMap(_.epochMs).toSeq, mem, notes.toSeq)
    } finally native.close()
  }

  def battery(seed: Long, seconds: Double, cores: Int, work: Path, corpus: String,
      run: Long): Result = {
    val notes = ArrayBuffer.empty[String]
    val setups = ArrayBuffer.empty[Double]
    /** A fresh session and `Bench`'s analysis pre-check; returns the session
      * and how many queries failed analysis. */
    def setUp(): (SparkSession, Int) = {
      val t0 = System.nanoTime()
      val spark = session(cores)
      val broken = Battery.analyze(spark, corpus, BatteryQueries)
      setups += (System.nanoTime() - t0) / 1e9
      mark(f"battery set up in ${setups.last}%.3fs")
      broken.foreach(n => notes += s"$n fails analysis")
      (spark, broken.size)
    }
    var spark = session(cores)
    // the warm-up pass collects every result and compares it with the
    // oracle-validated reference; the timed passes then run the same plans
    val refs = Refs.load(corpus)
    var attempted = BatteryQueries.size.toLong
    var failed = 0L
    BatteryQueries.foreach { q =>
      val got = try Battery.digest(spark, corpus, q)
        catch { case e: Exception => notes += s"$q failed: $e"; (-1L, 0L) }
      if (!refs.get(q).contains(got)) {
        failed += 1
        notes += s"$q: result ${got._1} rows / digest ${got._2} differs from reference ${refs.get(q)}"
      }
    }
    mark("battery checked")
    // a fixed count of timed passes in name order; the battery time is the
    // sum of each query's median
    val samples = BatteryQueries.map(_ -> ArrayBuffer.empty[Double]).toMap
    (1 to math.max(1, math.round(seconds / SecondsPerPass).toInt)).foreach { _ =>
      Recorder.span("pass", run) { p =>
        Recorder.current = p
        BatteryQueries.foreach(q => samples(q) += Battery.timed(spark, corpus, q, p))
      }
      Recorder.current = run
    }
    mark("battery timed")
    val mem = peakMemMb()
    def median(xs: Seq[Double]) = { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    val medians = BatteryQueries.map(q => median(samples(q).toSeq))
    if (Recorder.tracing) {
      Recorder.span("probes", run) { p =>
        Recorder.current = p
        val backlog = work.resolve("probe-backlog")
        val generated = Backlog.write(backlog, Backlog.bulk(Probes.SinkSampleRows), seed)
        val malformed = Probes.sources(backlog, p)
        attempted += 1
        if (malformed != generated.malformed) {
          failed += 1; notes += s"source skipped $malformed lines, generator wrote ${generated.malformed}"
        }
        Probes.capture(backlog, work, p)
        val sample = Probes.pipeline(spark, backlog, p)
        val native = new NativeStandIn(Schemas.raw, cores)
        val http = new HttpStandIn(cores)
        try {
          Probes.sinks(sample, native, http, work, p)
          Recorder.span("complement", p) { c =>
            // an untimed drain of its own backlog first, so the probe drain
            // runs warm like the ingest workloads' timed drains
            val warmup = Backlog.write(work.resolve("probe-warmup"),
              Backlog.bulk(Probes.SinkSampleRows), seed + 3)
            val w = Ingestion.drainOnce(new Ingestion.PipelineRunner(native, cores),
              work.resolve("probe-warmup"), warmup, work, c, "warmup")
            val expected = Backlog.write(work.resolve("probe-drain"),
              Backlog.bulk(Probes.SinkSampleRows), seed + 2)
            val d = Ingestion.drainOnce(new Ingestion.PipelineRunner(native, cores),
              work.resolve("probe-drain"), expected, work, c, "complement")
            val one = oneCore(native, work.resolve("probe-drain"), expected,
              Ingestion.BulkRowsPerTrigger, work, p)
            Seq("probe warm-up drain" -> w, "probe drain" -> d, "one-core drain" -> one).foreach {
              case (what, x) =>
                attempted += x.expected; failed += x.failed
                if (x.failed > 0) notes += s"$what: ${x.failed} of ${x.expected} rows wrong"
            }
          }
        } finally { native.close(); http.close() }
      }
    }
    // set-up is timed in fresh sessions of the warm process (the first,
    // cold one is part of the warm-up, as for the ingest workloads)
    val analysisFailures = (0 until 2).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val (session, broken) = setUp()
      spark = session
      broken
    }.max
    spark.stop()
    Result(attempted, failed + analysisFailures, setups.toSeq, Seq(medians.sum),
      medians.map(_ * 1e3), mem, notes.toSeq)
  }

  /** The same drain in a fresh `local[1]` session: the single-thread
    * baseline of the engine. Stops any active session first. */
  def oneCore(native: NativeStandIn, backlog: Path, expected: Backlog.Expected,
      rowsPerTrigger: Int, work: Path, parent: Long): Ingestion.Drain = {
    SparkSession.getActiveSession.foreach(_.stop())
    Ingestion.drainOnce(new Ingestion.PipelineRunner(native, 1, rowsPerTrigger),
      backlog, expected, work, parent, "onecore")
  }

  /** Largest heap occupancy any collection left behind (the live set plus
    * garbage not yet collected), bytes; updated from GC notifications. */
  private val maxHeapAfterGc = new java.util.concurrent.atomic.AtomicLong

  /** Start watching collections; call before the workload runs. */
  def watchHeap(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.NotificationEmitter
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            maxHeapAfterGc.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }
  }

  /** Peak memory the program used, MB: the largest heap occupancy after a
    * collection, plus the peak resident memory outside the heap (VmHWM less
    * the committed heap, which `run.py` fixes and pre-touches, so it is
    * resident from the start whatever the program does). */
  def peakMemMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    val hwm = line.split("\\s+")(1).toDouble * 1024.0
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    (maxHeapAfterGc.get + hwm - heap.getCommitted) / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
