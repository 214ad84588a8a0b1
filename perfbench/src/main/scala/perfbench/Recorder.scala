package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval. Spans of one run share the trace id written in the
  * file header; `parent` is 0 for the run span. Times are epoch nanoseconds
  * (`System.currentTimeMillis` resolution where Spark reports only
  * milliseconds). `attrs` are counts measured where the work happens. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Everything the harness observes about the program, collected from the
  * outside: streaming progress (always — the end-to-end metrics need
  * epoch durations), and, when tracing, spans for runs, drains, epochs and
  * their phases, Spark jobs and stages, and direct layer calls. Spans stay
  * in memory until [[writeTrace]]. Spark instantiates the two listeners
  * from configuration in every session the program creates, so a
  * `Service.main` that builds and stops its own session is observed too. */
object Recorder {
  @volatile var tracing = false
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Progress of the current drain's query, in arrival order. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile var queryStartedNs = 0L
  @volatile var queryTerminatedNs = 0L
  @volatile var queryFailure: Option[String] = None
  /** Span that new Spark jobs attach to when they carry no epoch or query. */
  @volatile var current = 0L
  /** Job group → span id, for battery queries. */
  val groups = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** Streaming batch id → epoch span id of the current drain. */
  val epochs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def wallNs: Long = epochOffsetNs + System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (tracing) synchronized { spans += s }

  /** Time `body` as a span under `parent` and return its result; `attrs`
    * is evaluated after `body`, so it can report what the body counted. */
  def span[T](name: String, parent: Long, attrs: => Map[String, Double] = Map.empty)(
      body: Long => T): T = {
    val id = nextId()
    val t0 = wallNs
    val r = body(id)
    add(Span(id, parent, name, t0, wallNs, attrs))
    r
  }

  def resetDrain(): Unit = synchronized {
    progress.clear(); epochs.clear()
    queryStartedNs = 0L; queryTerminatedNs = 0L; queryFailure = None
  }

  def writeTrace(path: Path, traceId: String): Unit = synchronized {
    val out = new PrintWriter(Files.newBufferedWriter(path))
    try {
      out.println(s"""{"trace":"$traceId"}""")
      spans.foreach { s =>
        val a = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start":${s.startNs},"end":${s.endNs},"attrs":{$a}}""")
      }
    } finally out.close()
  }
}

/** Streaming listener: epoch durations for the end-to-end metrics and, when
  * tracing, an epoch span with one child per `durationMs` phase. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Recorder.queryStartedNs = System.nanoTime()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Recorder.synchronized { Recorder.progress += p }
    if (Recorder.tracing) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val id = Option(Recorder.epochs.get(p.batchId)).getOrElse(Recorder.nextId())
      val state = p.stateOperators
      val attrs = Map[String, Double](
        "batchId" -> p.batchId.toDouble,
        "inputRows" -> p.numInputRows.toDouble,
        "sinkRows" -> Option(p.sink.numOutputRows).map(_.toDouble).getOrElse(-1d),
        "stateRows" -> state.map(_.numRowsTotal).sum.toDouble,
        "stateBytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
        "stateRowsRemoved" -> state.map(_.numRowsRemoved).sum.toDouble,
        "stateCommitMs" -> state.map(_.commitTimeMs).sum.toDouble,
        "droppedDuplicates" -> state.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.doubleValue).getOrElse(0d)).sum)
      Recorder.add(Span(id, Recorder.current, "epoch", start,
        start + ms("triggerExecution") * 1000000L, attrs))
      // durationMs phases in the order MicroBatchExecution runs them
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foreach { k =>
        val dur = ms(k) * 1000000L
        Recorder.add(Span(Recorder.nextId(), id, s"epoch.$k", t, t + dur, Map.empty))
        t += dur
      }
    }
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    Recorder.queryTerminatedNs = System.nanoTime()
    Recorder.queryFailure = e.exception
  }
}

/** Spark listener (tracing only): job and stage spans with task CPU, GC,
  * run time, shuffle and spill summed per stage. */
final class StageListener extends SparkListener {
  private final class Acc {
    var tasks = 0L; var runNs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Recorder.tracing) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop("spark.jobGroup.id").flatMap(g => Option(Recorder.groups.get(g)))
      .orElse(prop("streaming.sql.batchId").map(_.toLong).map { b =>
        Recorder.epochs.computeIfAbsent(b, _ => Recorder.nextId())
      })
      .getOrElse(Recorder.current)
    val id = Recorder.nextId()
    jobSpan.put(e.jobId, (id, parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Recorder.tracing) {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAcc.computeIfAbsent(e.stageId, _ => new Acc)
      a.synchronized {
        a.tasks += 1
        a.runNs += m.executorRunTime * 1000000L
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Recorder.tracing) {
      val info = e.stageInfo
      val a = Option(stageAcc.remove(info.stageId)).getOrElse(new Acc)
      val parent = Option(stageJob.get(info.stageId)).getOrElse(Recorder.current)
      val start = info.submissionTime.getOrElse(0L) * 1000000L
      val end = info.completionTime.getOrElse(0L) * 1000000L
      Recorder.add(Span(Recorder.nextId(), parent, "stage", start, end, Map(
        "tasks" -> a.tasks.toDouble, "runMs" -> a.runNs / 1e6,
        "cpuMs" -> a.cpuNs / 1e6, "gcMs" -> a.gcMs.toDouble,
        "shuffleBytes" -> (a.shuffleRead + a.shuffleWrite).toDouble,
        "spillBytes" -> a.spill.toDouble)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Recorder.tracing) {
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, t0) =>
      Recorder.add(Span(id, parent, "job", t0 * 1000000L, e.time * 1000000L, Map.empty))
    }
  }
}
