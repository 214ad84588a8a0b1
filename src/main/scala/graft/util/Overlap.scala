package graft.util

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession

/** Two independent driver-blocking builds overlapped (guide §2.6 "overlap
  * independent jobs"): `side` runs on a fresh helper thread while `main`
  * runs on the caller's, so the scheduler back-fills the cores the tail of
  * one leaves idle and wall-clock becomes ~max instead of the sum.
  *
  * The helper is a new thread, so it inherits the caller's local
  * properties — job group included, which is how benchmarks attribute
  * jobs. Both sides' jobs also carry one fresh job TAG (tags leave the
  * group alone), and the first side to throw cancels every job under it:
  * a failed build never leaves its sibling's jobs running. The first
  * failure is the exception that surfaces; `run` returns only after the
  * helper has ended, re-cancelling until it does, so no job it submits
  * late outlives the call. */
object Overlap {
  def run[S, M](spark: SparkSession)(side: => S)(main: => M): (S, M) = {
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    def attempt[T](body: => T): Option[T] =
      try Some(body) catch { case e: Throwable =>
        if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
        None
      }
    sc.addJobTag(tag)
    var s: Option[S] = None
    val m = try {
      val helper = new Thread(() => {
        sc.setInterruptOnCancel(true) // cancelled tasks stop mid-partition
        s = attempt(side)
      }, "graft-overlap")
      helper.setDaemon(true)
      helper.start()
      val m = attempt(main)
      while (helper.isAlive) {
        if (failure.get != null) sc.cancelJobsWithTag(tag)
        helper.join(100)
      }
      m
    } finally sc.removeJobTag(tag)
    Option(failure.get).foreach(e => throw e)
    (s.get, m.get)
  }
}
