package graft

import org.apache.spark.ListenerBusDrain
import graft.util.Overlap

/** Bench's profile: a timed run's jobs are attributed to its query and to
  * no other, a job on `Overlap.run`'s side thread to the query that
  * started it, and the stages' run time gives a utilization above zero. */
class BenchProfileSpec extends SparkSpec {

  private def run(query: String): Unit =
    SparkEntry.queries(query)(spark, Sf).write.format("noop").mode("overwrite").save()

  /** Runs `body` under job group `group`. */
  private def grouped(group: String)(body: => Unit): Unit = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def groupJobs(group: String): Set[Int] =
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSet

  test("each timed run's jobs, side jobs included, belong to its query alone") {
    val sc = spark.sparkContext
    val profiler = new Bench.Profiler
    sc.addSparkListener(profiler)
    val t0 = System.nanoTime()
    try {
      grouped("profile-a")(Bench.attributed(spark, "a")(run("r1_ingest_raw")))
      grouped("profile-none")(run("r1_ingest_raw"))
      grouped("profile-b")(Bench.attributed(spark, "b") {
        Overlap.run(spark) {
          sc.setJobGroup("profile-b-side", "side")
          spark.range(1000).count()
        }(run("r2_subject_segments"))
      })
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(profiler)
    val wallS = (System.nanoTime() - t0) / 1e9

    val a = profiler.jobsOf("a")
    val b = profiler.jobsOf("b")
    val side = groupJobs("profile-b-side")
    assert(a.nonEmpty && b.nonEmpty && side.nonEmpty)
    assert(a.map(_.id).toSet === groupJobs("profile-a"))
    assert(b.map(_.id).toSet === groupJobs("profile-b") ++ side)
    assert(groupJobs("profile-none").nonEmpty)
    assert((a ++ b).map(_.id).toSet.intersect(groupJobs("profile-none")).isEmpty)
    assert((a ++ b).forall(j => j.endMs >= j.startMs && j.stages.nonEmpty), a ++ b)
    val json = profiler.json(Seq("a" -> Seq(wallS), "b" -> Seq(wallS)), 2, Sf)
    val util = "\"(a|b)\":\\{\"runs\":1,[^{]*\"util\":([0-9.]+)".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(util.keySet === Set("a", "b") && util.values.forall(_ > 0), json)
  }
}
