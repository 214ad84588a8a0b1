package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One closed (or, in batch mode, final) session. Schema matches the
  * batch sessionization query (q14) so the same DuckDB oracle gates
  * both. */
case class SessionRow(user_id: Long, session_seq: Long, n_events: Long,
  session_start: Timestamp, session_end: Timestamp, sum_value: Double)

/** Per-user open-session state for [[SessionStream.sessionize]].
  * `sum_scaled` accumulates value·10⁶ after HALF_UP rounding at 6 dp —
  * the exact-long mirror of the battery's DECIMAL(25,6) accumulator, so
  * the emitted double is bit-identical to `dsum` regardless of arrival
  * interleaving. */
case class OpenSession(seq: Long, start: Timestamp, last: Timestamp,
  n: Long, sum_scaled: Long)

/** Streaming operators over the `events` changelog. */
object SessionStream {

  /** Inactivity gap that closes a session (same 1800 s as q14). */
  val GapSeconds = 1800L

  /** Event-time watermark delay. */
  val WatermarkDelay = "10 seconds"

  private def micros(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Second-truncated epoch — q14's `date_trunc('second', ts)` gap rule. */
  private def secs(t: Timestamp): Long = t.toInstant.getEpochSecond

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stable index merge sort by (us, then ids) — primitive comparisons
    * only, one temp int array: the order-restoring sort for a group
    * invocation costs 4 B/event beyond the primitive column buffers
    * (a boxed `.sortBy` would hold an O(n) tuple-key array). */
  private def sortedIndices(us: Array[Long], ids: Array[Long]): Array[Int] = {
    val n = us.length
    val a = Array.range(0, n)
    val tmp = new Array[Int](n)
    def lt(i: Int, j: Int): Boolean =
      us(i) < us(j) || (us(i) == us(j) && ids(i) < ids(j))
    def sort(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      sort(lo, mid); sort(mid, hi)
      var (i, j, k) = (lo, mid, lo)
      while (i < mid && j < hi) {
        if (lt(a(j), a(i))) { tmp(k) = a(j); j += 1 }
        else { tmp(k) = a(i); i += 1 }
        k += 1
      }
      while (i < mid) { tmp(k) = a(i); i += 1; k += 1 }
      while (j < hi) { tmp(k) = a(j); j += 1; k += 1 }
      System.arraycopy(tmp, lo, a, lo, hi - lo)
    }
    sort(0, n)
    a
  }

  /** value → exact scaled long via the DECIMAL(25,6) rounding rule
    * (HALF_UP at 6 dp over the double's shortest decimal form — the
    * same path Spark's `cast(v as decimal(25,6))` takes). */
  private def scale6(v: Double): Long =
    (BigDecimal(v) * BigDecimal(1000000))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** [[sessionize]] over the SERVICE's envelope stream (the DSv2 replay
    * source's schema: subject/data/metaTimestamp/streamSeq): user_id and
    * value come out of the `data` JSON payload (absent value → 0.0, the
    * `{}`-default house rule), event-time is the JetStream metadata
    * timestamp, and the stream sequence is the deterministic tie-break
    * id. This is the x72 path `Service --sessions` runs end-to-end:
    * ReplaySource → sessionize → per-batch appended session parquet. */
  def sessionizeEnvelopes(spark: SparkSession, envelopes: DataFrame): Dataset[SessionRow] =
    sessionize(spark, envelopes.select(
      get_json_object(col("data"), "$.user_id").cast("long").as("user_id"),
      col("streamSeq").cast("long").as("event_id"),
      col("metaTimestamp").cast("timestamp").as("ts"),
      coalesce(get_json_object(col("data"), "$.value").cast("double"),
        lit(0.0)).as("value"))
      // non-event envelopes (no user_id in the payload) don't sessionize
      .filter(col("user_id").isNotNull))

  /** x72: streaming gap-based sessionization — the q14 batch query as
    * an ONLINE operator. Every user's open session lives as one tiny
    * state row; a session is emitted when a ≥[[GapSeconds]] gap arrives
    * in-stream, or (streaming only) when the event-time watermark
    * passes `last_event + gap` and the timeout fires — the standard
    * session-window close. State is one row per ACTIVE user (bounded by
    * the gap window, not history), hash-partitioned by the groupByKey
    * exchange exactly as a session store would shard.
    *
    * On a BATCH input the same code runs with one group invocation per
    * user and no timeouts, emitting every session including the
    * trailing one — semantically identical to the q14
    * window formulation, and gated by the SAME DuckDB oracle
    * (`x72_stream_sessions`). Batch-mode memory boundary: one group
    * invocation buffers one user's full history as primitive columns
    * (~28 B/event — a 10⁶-event power user is ~30 MB, proven by
    * StreamingSpec); above ~10⁷ events/user prefer q14's window
    * formulation, whose per-user sort spills to disk. The streaming
    * path (timeout close, cross-batch session continuation, restart
    * recovery from the checkpoint) is spec-driven (`StreamingSpec`).
    *
    * Ordering: within an invocation rows sort by (event-time micros,
    * event_id) — deterministic under any arrival interleaving; the
    * per-session sum accumulates in exact scaled longs so the emitted
    * double matches `dsum` bit-for-bit. Cross-batch disorder beyond the
    * watermark delay is the usual streaming approximation (late rows
    * fold into whatever session is open). */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionRow] = {
    import spark.implicits._
    // A batch plan has no watermark, so no timeout would fire: batch
    // emits the trailing session at once and keeps no state.
    val streaming = events.isStreaming
    def emit(user: Long, s: OpenSession): SessionRow =
      SessionRow(user, s.seq, s.n, s.start, s.last,
        s.sum_scaled.toDouble / 1000000.0)
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("timestamp"), col("value").cast("double"))
      .withWatermark("ts", WatermarkDelay)
      .as[(Long, Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(user, s))
          } else {
            // The group's rows buffer as PRIMITIVE columns (3 longs ≈
            // 24 B/event, +4 B/event index — vs ~150 B/event of boxed
            // tuples) before the order-restoring sort. Boundary (batch
            // mode only — streaming invocations see one micro-batch of
            // one user at a time): a 10⁶-event power user costs ~30 MB
            // in one task (StreamingSpec drives exactly that); beyond
            // ~10⁷ events/user route batch callers to q14's window
            // formulation, whose per-user sort spills to disk instead
            // of living inside a single group invocation.
            val usB = Array.newBuilder[Long]
            val idB = Array.newBuilder[Long]
            val svB = Array.newBuilder[Long]
            rows.foreach { case (_, id, t, v) =>
              usB += micros(t); idB += id; svB += scale6(v)
            }
            val us = usB.result()
            val ids = idB.result()
            val sv = svB.result()
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
            var open = state.getOption
            sortedIndices(us, ids).foreach { i =>
              val tU = us(i)
              open = open match {
                case Some(s) if Math.floorDiv(tU, 1000000L) - secs(s.last) <= GapSeconds =>
                  Some(s.copy(
                    last = if (tU > micros(s.last)) tsOf(tU) else s.last,
                    n = s.n + 1, sum_scaled = s.sum_scaled + sv(i)))
                case Some(s) =>
                  out += emit(user, s)
                  Some(OpenSession(s.seq + 1, tsOf(tU), tsOf(tU), 1L, sv(i)))
                case None =>
                  Some(OpenSession(1L, tsOf(tU), tsOf(tU), 1L, sv(i)))
              }
            }
            if (streaming) {
              open.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(
                  s.last.getTime + GapSeconds * 1000L)
              }
            } else {
              out ++= open.map(emit(user, _))
              if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }
}
