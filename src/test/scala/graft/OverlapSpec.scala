package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import graft.util.Overlap

object OverlapSpec {
  /** Tasks of `OverlapSpec.longJob` started so far (local mode: one JVM). */
  val longTasks = new AtomicInteger()
}

/** `Overlap.run`: both results come back, the helper keeps the caller's
  * job group, and a failure on either side cancels the other side's
  * running job and surfaces the original exception. */
class OverlapSpec extends SparkSpec {

  /** Job description → (job group, end result) of every job with a
    * description that started while `body` ran. */
  private def recordingJobs(body: => Unit): Map[String, (String, Option[JobResult])] = {
    val started = new ConcurrentHashMap[Int, (String, String)]()
    val ends = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => started.put(e.jobId,
            (d, String.valueOf(e.properties.getProperty("spark.jobGroup.id")))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.jobResult)
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      // the listener bus delivers asynchronously: let the last job end arrive
      val deadline = System.nanoTime() + 10000000000L
      while (started.keySet.asScala.exists(!ends.containsKey(_)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      spark.sparkContext.removeSparkListener(listener)
    }
    started.asScala.map { case (id, (d, g)) => d -> (g, Option(ends.get(id))) }.toMap
  }

  private def described[T](description: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(description)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** A one-task job of about two minutes, 10 ms per record: a killed task
    * stops at its next record. */
  private def longJob(): Long = described("long") {
    spark.sparkContext.parallelize(1 to 12000, 1).mapPartitions { it =>
      OverlapSpec.longTasks.incrementAndGet()
      it.map { x => Thread.sleep(10); x.toLong }
    }.sum().toLong
  }

  /** Waits until a long job's task started after `seen` is running. */
  private def awaitLongTask(seen: Int): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (OverlapSpec.longTasks.get == seen) {
      assert(System.nanoTime() < deadline, "the other side's job never started")
      Thread.sleep(20)
    }
  }

  private def cancelled(r: Option[JobResult]): Boolean = r match {
    case Some(JobFailed(e)) => e.getMessage.contains("cancel")
    case _ => false
  }

  test("both results come back and the helper's jobs keep the caller's job group") {
    spark.sparkContext.setJobGroup("overlap-spec", "caller's group")
    val jobs = try recordingJobs {
      val (s, m) = Overlap.run(spark)(described("side")(spark.range(10).count()))(
        described("main")(spark.range(5).count()))
      assert((s, m) === ((10L, 5L)))
    } finally spark.sparkContext.clearJobGroup()
    assert(jobs.get("side").map(_._1) === Some("overlap-spec"), jobs)
    assert(jobs.get("main").map(_._1) === Some("overlap-spec"), jobs)
  }

  test("main throws while the side runs a long job: the side's job is cancelled, " +
      "main's exception surfaces") {
    val boom = new IllegalStateException("main failed")
    val seen = OverlapSpec.longTasks.get
    val t0 = System.nanoTime()
    val jobs = recordingJobs {
      val e = intercept[IllegalStateException] {
        Overlap.run(spark)(longJob()) { awaitLongTask(seen); throw boom }
      }
      assert(e eq boom)
    }
    assert((System.nanoTime() - t0) / 1e9 < 10, "the side's job ran on")
    assert(cancelled(jobs("long")._2), jobs)
  }

  test("the side throws while main runs a long job: main's job is cancelled, " +
      "the side's exception surfaces") {
    val boom = new IllegalStateException("side failed")
    val seen = OverlapSpec.longTasks.get
    val t0 = System.nanoTime()
    val jobs = recordingJobs {
      val e = intercept[IllegalStateException] {
        Overlap.run(spark) { awaitLongTask(seen); throw boom } (longJob())
      }
      assert(e eq boom)
    }
    assert((System.nanoTime() - t0) / 1e9 < 10, "main's job ran on")
    assert(cancelled(jobs("long")._2), jobs)
  }
}
