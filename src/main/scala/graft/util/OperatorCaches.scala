package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for the MEMORY_AND_DISK intermediates the operators in
  * [[graft.operators]] materialize (signature tables, inverted indexes,
  * normalized-vector tables — see the scale notes on each operator).
  *
  * Operators persist through [[persist]] so the handle is recorded,
  * keyed by owning session; [[release]] unpersists one session's
  * relations through the CacheManager (clearing the plan→cache mapping,
  * so a later identical `persist()` re-materializes instead of silently
  * no-opping). This lets a caller that runs operators repeatedly in one
  * long-lived session — the in-repo drivers ([[graft.Verify]],
  * [[graft.Bench]]) or an external library user — release per-batch
  * without `spark.catalog.clearCache()`, which would also drop any
  * unrelated caches the caller owns.
  *
  * Concurrency contract: release between batches, not mid-operator — a
  * release while another thread is still executing an operator in the
  * SAME session drops caches that operator's running join still reads
  * (the query stays correct; the materialization benefit is lost).
  * Handles are strong references: a caller that never releases keeps
  * each batch's persisted plans reachable, so long-lived embedders
  * should release per batch.
  */
object OperatorCaches {

  private val handles =
    mutable.Map.empty[SparkSession, mutable.ArrayBuffer[Dataset[_]]]

  private val memos =
    mutable.Map.empty[SparkSession, mutable.Map[String, DataFrame]]

  /** Session-scoped MEMO for operator seams whose materialization the
    * CacheManager cannot match by plan — e.g. a checkpointed iterative
    * result ([[graft.operators.Dedup.dupComponents]]'s star rounds are
    * fresh RDDs every invocation, so two calls build equal answers the
    * plan matcher can never unify). The first call under a key runs
    * `build` (which may execute jobs eagerly) and every later call in
    * the same session returns the SAME DataFrame — cleared by
    * [[release]], so per-query standalone measurement (Bench/Verify,
    * which release between runs) still charges every query its own
    * build. `build` runs outside the lock (it may run Spark jobs); two
    * racing first-callers may both build, and one result wins. */
  def memoized(spark: SparkSession, key: String)(build: => DataFrame)
      : DataFrame =
    synchronized(memos.get(spark).flatMap(_.get(key))) match {
      case Some(df) => df
      case None =>
        val df = build
        synchronized {
          memos.getOrElseUpdate(spark, mutable.Map.empty)
            .getOrElseUpdate(key, df)
        }
    }

  /** Persist `df` MEMORY_AND_DISK and record the handle for release. */
  def persist(df: DataFrame): DataFrame = synchronized {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    handles.getOrElseUpdate(df.sparkSession, mutable.ArrayBuffer.empty) += df
    df
  }

  /** Eager checkpoint with the build plan dereferenced — a STAGE
    * BARRIER: consumers scan the materialized blocks, never the build
    * lineage. Used where plan-matched caching ([[persist]]) cannot
    * serve: (a) iterative builds whose fresh RDDs no plan matcher can
    * unify ([[graft.operators.Dedup.dupComponents]]), and (b) stage
    * relations consumed through SELF-JOINS over shared lineage —
    * `DeduplicateRelations` re-instances any `LogicalRDD` leaf on the
    * rewritten branch, and `LogicalRDD` does not canonicalize its
    * output ids, so `sameResult` fails and the CacheManager silently
    * recomputes the whole cached subtree per consumer (x117's gate
    * projection appeared NINE times before this). Blocks are reclaimed
    * by the ContextCleaner once the returned DataFrame is unreachable. */
  def materializeTruncated(dfIn: DataFrame): DataFrame = {
    var df = dfIn
    val out = df.sparkSession.sparkContext.getCheckpointDir match {
      case Some(_) => df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
    df = null
    out
  }

  /** Unpersist the caches registered under `spark` and forget their
    * handles, without waiting for the blocks to go. Safe to call any
    * number of times; caches already dropped by other means (e.g.
    * `clearCache()`) unpersist as a no-op. */
  def release(spark: SparkSession): Unit =
    synchronized {
      handles.remove(spark).foreach(_.foreach(_.unpersist()))
      // memoized seams die with the caches they reference; their
      // checkpointed blocks are reclaimed by the ContextCleaner once
      // the dropped DataFrames become unreachable
      memos.remove(spark)
      ()
    }
}
