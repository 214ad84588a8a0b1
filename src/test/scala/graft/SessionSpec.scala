package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each main's session conf, pinned to its literal pairs without starting
  * Spark, and Verify's command line. */
class SessionSpec extends AnyFunSuite {

  private def local(cores: String) = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")
  private val Initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** The pairs as a map, after checking that no key is set twice. */
  private def pairs(conf: Seq[(String, String)]): Map[String, String] = {
    assert(conf.map(_._1).distinct.size === conf.size, conf)
    conf.toMap
  }

  test("Smoke and Analyze run at local[4] with 4 shuffle partitions") {
    assert(pairs(Smoke.conf) === local("4"))
    assert(pairs(Analyze.conf) === local("4"))
  }

  test("Verify starts AQE's coalescing at 512 partitions on any core count") {
    assert(pairs(Verify.conf("4")) === local("4") + (Initial -> "512"))
    assert(pairs(Verify.conf("32")) === local("32") + (Initial -> "512"))
  }

  test("Service is graft-service on SPARK_MASTER with SPARK_GRAFT_CPUS partitions") {
    val app = "spark.app.name" -> "graft-service"
    assert(pairs(Service.conf(Map.empty)) === local("4") + app)
    assert(pairs(Service.conf(Map("SPARK_MASTER" -> "local[4]", "SPARK_GRAFT_CPUS" -> "4")))
      === local("4") + app)
    assert(pairs(Service.conf(Map("SPARK_GRAFT_CPUS" -> "8")))
      === local("8") + app + ("spark.master" -> "local[4]"))
    assert(pairs(Service.conf(Map("SPARK_MASTER" -> "spark://host:7077")))
      === local("4") + app + ("spark.master" -> "spark://host:7077"))
  }

  test("Bench starts AQE's coalescing at 512 partitions from 100 MiB of input") {
    val cut = 100L * 1024 * 1024
    assert(pairs(Bench.conf("4", cut - 1)) === local("4") + (Initial -> "4"))
    assert(pairs(Bench.conf("4", cut)) === local("4") + (Initial -> "512"))
    assert(pairs(Bench.conf("32", 0L)) === local("32") + (Initial -> "32"))
  }

  test("Verify: fewer than two arguments or an unknown query is a usage error") {
    assert(Verify.parseArgs(Nil).isLeft)
    assert(Verify.parseArgs(Seq("/sf")).isLeft)
    assert(Verify.parseArgs(Seq("/sf", "/out", "r1_ingest_raw", "no_such_query"))
      === Left("unknown queries: no_such_query"))
    assert(Verify.parseArgs(Seq("/sf", "/out", "--exclude=r1_ingest_raw,no_such_query"))
      === Left("unknown queries: no_such_query"))
  }

  test("Verify: trailing names select queries and --exclude= drops them") {
    val all = SparkEntry.queries.keySet
    def names(args: String*) = Verify.parseArgs(Seq("/sf", "/out") ++ args).map {
      case (sf, out, qs) => (sf, out, qs.toSet)
    }
    assert(names() === Right(("/sf", "/out", all)))
    assert(names("r2_subject_segments", "r1_ingest_raw")
      === Right(("/sf", "/out", Set("r1_ingest_raw", "r2_subject_segments"))))
    assert(names("--exclude=r1_ingest_raw,x2_minhash_lsh")
      === Right(("/sf", "/out", all - "r1_ingest_raw" - "x2_minhash_lsh")))
    assert(names("--exclude=") === Right(("/sf", "/out", all)))
    assert(names("r1_ingest_raw", "r2_subject_segments", "--exclude=r2_subject_segments")
      === Right(("/sf", "/out", Set("r1_ingest_raw"))))
  }
}
