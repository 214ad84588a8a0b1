package graft

import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._
import graft.functions.TextFunctions._

/** Property-style checks over a generated corpus (fixed seed → deterministic):
  * engine semantics ≡ plain-Scala model implementations (SURVEY §5.4). */
class PropertySpec extends SparkSpec {

  private val rng = new scala.util.Random(42)
  private val alphabet = "abcXYZ019._- "

  private def randomString(maxLen: Int): String =
    (0 until rng.nextInt(maxLen)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString

  private val corpus: Seq[String] = Seq("", ".", "..", "a.", ".a", "a.b.c.d.e.f.g.h.i") ++
    (0 until 200).map(_ => randomString(40))

  /** The Go service model: strings.Split + parts[n-1] with "" default. */
  private def modelSegment(s: String, n: Int): String = {
    val parts = s.split("\\.", -1)
    if (n - 1 < parts.length) parts(n - 1) else ""
  }

  test("subjectSegment ≡ strings.Split model for arbitrary subjects, n=1..10") {
    import spark.implicits._
    val df = corpus.toDF("s")
      .select(col("s") +: (1 to 10).map(n => subjectSegment(col("s"), n).as(s"n$n")): _*)
    df.collect().foreach { row =>
      val s = row.getString(0)
      (1 to 10).foreach { n =>
        assert(row.getString(n) === modelSegment(s, n), s"subject=$s n=$n")
      }
    }
  }

  test("json extraction is total (never throws) on arbitrary payloads") {
    import spark.implicits._
    val payloads = corpus ++ Seq("""{"a":}""", """{"a":{"b":1}}""", """[1,2]""", "null", "{}")
    val r = payloads.toDF("data").select(json_tuple(col("data"), "a"))
      .select(chString(col("c0")), chUInt(col("c0")), chEpochTimestamp(col("c0")))
      .collect()
    assert(r.length === payloads.length)
    r.foreach { row => assert(row.getString(0) != null && !row.isNullAt(1)) }
  }

  test("polyHash ≡ model fold on arbitrary ASCII strings") {
    import spark.implicits._
    def model(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val df = corpus.toDF("s").select(col("s"), polyHash(col("s")))
    df.collect().foreach { row =>
      assert(row.getLong(1) === model(row.getString(0)), s"s=${row.getString(0)}")
    }
  }

  test("shingles ≡ sliding-window model") {
    import spark.implicits._
    def model(s: String): Seq[String] = {
      val t = s.split(" ", -1).toSeq
      if (t.length < 3) Seq.empty else t.sliding(3).map(_.mkString(" ")).toSeq.distinct
    }
    val df = corpus.toDF("s").select(col("s"), shingles(col("s")))
    df.collect().foreach { row =>
      assert(row.getSeq[String](1) === model(row.getString(0)), s"s=${row.getString(0)}")
    }
  }

  test("fimSplit ≡ cut-point model over the random corpus") {
    import spark.implicits._
    import graft.operators.Curation.{FimRatePct, fimSplitFrom}
    def polyhash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    val docs = corpus.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = fimSplitFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toMap
    corpus.zipWithIndex.foreach { case (s, i) =>
      val n = s.split(" ", -1).length.toLong
      val h = polyhash(s)
      val (c1, c2) = (h % (n + 1), (h / 7) % (n + 1))
      val want = (h % 100 < FimRatePct, math.min(c1, c2), math.max(c1, c2))
      assert(got(i.toLong) === want, s"doc=$i text='$s'")
    }
  }

  test("chunkOverlap ≡ stride model: full coverage, exact overlap, no phantom chunks") {
    import spark.implicits._
    import graft.operators.Curation.{ChunkSize, ChunkStride, chunkOverlapFrom}
    val docs = corpus.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val got = chunkOverlapFrom(docs).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r =>
        (r.getLong(2), r.getLong(4))).toSeq) // (start, chunk_tokens)
      .toMap
    corpus.zipWithIndex.foreach { case (s, i) =>
      val n = s.split(" ", -1).length
      // model: starts at 1, 1+stride, ... while start <= n; each chunk
      // takes min(ChunkSize, n - start + 1) tokens
      val want = (1 to n by ChunkStride)
        .map(st => (st.toLong, math.min(ChunkSize, n - st + 1).toLong))
      assert(got(i.toLong) === want, s"doc=$i text='$s'")
      // coverage: every token position 1..n falls inside some chunk
      val covered = want.flatMap { case (st, len) => st until (st + len) }.toSet
      assert((1L to n.toLong).forall(covered.contains), s"gap in doc $i")
    }
  }

  test("sketch merge is partitioning-sound: q16 HLL identical under 1/32/by-key " +
      "splits; q22 quantile holds its rank bound under each") {
    import graft.queries.{Relational, Tables}
    val base = Tables.lineitem(spark, Sf)
    val parts = Seq(
      base.repartition(1),
      base.repartition(32),
      base.repartition(8, col("l_partkey"))) // clustered layout, not round-robin
    // q16: HLL registers merge by element-wise MAX — commutative,
    // associative, idempotent — so the estimate must be IDENTICAL no
    // matter how rows split across partial aggregates. Bit-equality is
    // the property, not a tolerance.
    val hll = parts.map(df =>
      Relational.approxDistinctFrom(df).collect().map(_.toSeq).toSeq)
    assert(hll(0) === hll(1), "HLL differs: 1 vs 32 partitions")
    assert(hll(0) === hll(2), "HLL differs: round-robin vs key-clustered")
    // q22: GK quantile summaries are NOT merge-order invariant (the
    // compression points depend on the split), so exact equality across
    // partitionings would be a flaky guard; the contract that must
    // survive ANY partitioning is the rank bound — the returned value's
    // rank within ±eps·N of p·N for every group, percentile, and split.
    val eps = 1.0 / Relational.PercentileAccuracy
    val specs = Seq(("ap50_qty", "l_quantity", 0.5),
      ("ap90_price", "l_extendedprice", 0.9),
      ("ap25_disc", "l_discount", 0.25))
    parts.foreach { df =>
      Relational.approxPercentilesFrom(df).collect().foreach { r =>
        val flag = r.getString(0)
        val grp = base.filter(col("l_returnflag") === flag)
        specs.foreach { case (resCol, srcCol, p) =>
          val a = r.getAs[Double](resCol)
          val Array(n, le, lt) = grp.agg(
            count(lit(1)),
            sum(when(col(srcCol) <= a, 1L).otherwise(0L)),
            sum(when(col(srcCol) < a, 1L).otherwise(0L))
          ).head.toSeq.map(_.asInstanceOf[Long].toDouble).toArray
          assert(lt <= math.ceil((p + eps) * n),
            s"$flag/$resCol: rank too high (lt=$lt, n=$n)")
          assert(le >= math.floor((p - eps) * n),
            s"$flag/$resCol: rank too low (le=$le, n=$n)")
        }
      }
    }
  }

  test("dfCapExpr ≡ max(32, ceil(n/100)) model (the IN-PLAN stop-shingle cap " +
      "x3 and its oracle share)") {
    import spark.implicits._
    val ns = Seq(1L, 100L, 500L, 3200L, 3201L, 5000L, 50000L, 1_000_000_000L)
    val got = ns.toDF("n")
      .select(col("n"), graft.operators.Dedup.dfCapExpr(col("n")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      val model = math.max(32L, math.ceil(n.toDouble / 100.0).toLong)
      assert(got(n) === model, s"n=$n")
    }
    // behavior-preserving at the driver SFs (max observed df 25 < 32),
    // operative at sf1 (cap 500 > the 131 max df of the 31-word corpus)
    assert(got(500L) === 32L && got(5000L) === 50L && got(50000L) === 500L)
  }

  test("dupCellsExpr ≡ max(16, ceil(n/125)) model (x8's LINEAR dedup cell curve: " +
      "cells ∝ N keeps Σcellsize² ∝ N)") {
    import spark.implicits._
    val ns = Seq(1L, 100L, 2000L, 2001L, 20000L, 1_000_000L)
    val got = ns.toDF("n")
      .select(col("n"), graft.operators.Similarity.dupCellsExpr(col("n")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      val model = math.max(16L, math.ceil(n.toDouble / 125.0).toLong)
      assert(got(n) === model, s"n=$n")
    }
    // historical 16 at the 2000-vector corpora; 160 at sf1's 20k
    assert(got(2000L) === 16L && got(20000L) === 160L)
  }

  test("derivedCellsExpr ≡ max(16, floor(sqrt(n/8))) model (the IN-PLAN derivation " +
      "x19 and its oracle share — the √N QUERY-path curve)") {
    import spark.implicits._
    // the GraftProperties pin covers the curve's shape; this evaluates the
    // actual Catalyst expression so the Scala model and the plan can't drift
    val ns = Seq(1L, 100L, 500L, 2000L, 2048L, 2049L, 20000L, 1_000_000L, 1_000_000_000L)
    val got = ns.toDF("n")
      .select(col("n"), graft.operators.Similarity.derivedCellsExpr(col("n")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      val model = math.max(16L, math.floor(math.sqrt(n.toDouble / 8.0)).toLong)
      assert(got(n) === model, s"n=$n")
    }
    assert(got(2000L) === 16L && got(20000L) === 50L) // sf0.1 unchanged; sf1 scales
  }
}
