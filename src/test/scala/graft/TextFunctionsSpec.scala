package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.HofReference.{minhash, polyHashHof, shinglesHof}

/** Text primitives against model implementations computed in plain Scala. */
class TextFunctionsSpec extends SparkSpec {

  private def modelPolyHash(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)

  test("polyHash matches the model fold") {
    import spark.implicits._
    val inputs = Seq("", "a", "hello world", "the quick brown fox")
    val got = inputs.toDF("t").select(polyHash(col("t"))).collect().map(_.getLong(0))
    assert(got.toSeq === inputs.map(modelPolyHash))
  }

  test("codegen WordShingles is identical to the HOF pipeline on real docs and edge cases") {
    import spark.implicits._
    // real corpus: element-for-element identical arrays
    val d = graft.queries.Tables.documents(spark, Sf)
      .select(shingles(col("text")).as("fast"), shinglesHof(col("text")).as("ref"))
    assert(d.filter(not(col("fast") <=> col("ref"))).count() === 0)
    assert(d.count() === 500)
    // edge cases: consecutive/trailing spaces (empty tokens), short docs,
    // repeats collapsing with first-occurrence order
    val edge = Seq("", " ", "a", "a b", "a  b c", "a b c ", "x y z x y z")
      .toDF("t")
      .select(shingles(col("t")).as("fast"), shinglesHof(col("t")).as("ref"))
      .collect()
    edge.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("codegen PolyHash is bit-identical to the interpreted HOF fold on real docs") {
    val d = graft.queries.Tables.documents(spark, Sf)
      .select(polyHash(col("text")).as("fast"), polyHashHof(col("text")).as("ref"))
    assert(d.filter(col("fast") =!= col("ref")).count() === 0)
    assert(d.count() === 500)
  }

  test("shingles: 3-grams, distinct, empty for short docs") {
    import spark.implicits._
    val r = Seq(
      "a b c d",
      "a b",
      "x y z x y z x y z"
    ).toDF("t").select(shingles(col("t"))).collect()
    assert(r(0).getSeq[String](0) === Seq("a b c", "b c d"))
    assert(r(1).getSeq[String](0) === Seq.empty[String])
    // repeated text: distinct collapses repeated shingles
    assert(r(2).getSeq[String](0).sorted ===
      Seq("x y z", "y z x", "z x y").sorted)
  }

  test("minhash: deterministic, seed-dependent, order-independent") {
    import spark.implicits._
    val df = Seq("a b c d e", "e d c b a").toDF("t")
      .select(shingles(col("t")).as("sh"))
    val r = df.select(minhash(col("sh"), 0), minhash(col("sh"), 1)).collect()
    // same doc, different seeds → different permutation minima (wildly likely)
    assert(r(0).getString(0) !== r(0).getString(1))
    // deterministic across runs
    val r2 = df.select(minhash(col("sh"), 0)).collect()
    assert(r(0).getString(0) === r2(0).getString(0))
  }

  test("minhashSig == per-seed minhash HOF, element for element") {
    import spark.implicits._
    // real-ish variety plus the edge shapes: empty shingle set (short
    // text), duplicate-heavy text, unicode
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m n o p",
      "short",
      "x y z x y z x y z x y z",
      "héllo wörld ünicode tokens forever and ever amen")
    val df = texts.toDF("t").select(shingles(col("t")).as("sh"))
    val n = 6
    val rows = df.select(
      minhashSig(col("sh"), n).as("sig"),
      array((0 until n).map(b => minhash(col("sh"), b)): _*).as("ref"),
      size(col("sh")).as("nsh")).collect()
    rows.foreach { r =>
      if (r.getInt(2) == 0) {
        // empty set: signature is null, like the exploded doc vanishing
        // from a groupBy (and like array_min over an empty transform)
        assert(r.isNullAt(0), "empty shingle set must give a null sig")
      } else {
        assert(r.getSeq[String](0) === r.getSeq[String](1))
      }
    }
    // null elements are skipped, matching SQL min's null-ignorance
    val withNull = spark.sql(
      "SELECT array('aa bb cc', CAST(NULL AS STRING), 'bb cc dd') AS sh")
    val got = withNull.select(minhashSig(col("sh"), 2).as("sig"),
        array(minhash(col("sh"), 0), minhash(col("sh"), 1)).as("ref"))
      .collect()(0)
    assert(got.getSeq[String](0) === got.getSeq[String](1))
  }

  test("ngramsFromTokens == sliding-window model (multiplicity kept)") {
    import spark.implicits._
    val cases = Seq("a b a b a", "x", "", "p q r s", "w w w")
    val got = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        ngramsFromTokens(split(col("text"), " "), 2).as("g2"),
        ngramsFromTokens(split(col("text"), " "), 3).as("g3"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2))).toMap
    cases.zipWithIndex.foreach { case (t, i) =>
      def model(n: Int) = {
        val toks = t.split(" ", -1).toSeq
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      }
      assert(got(i.toLong)._1 === model(2), s"2-grams of '$t'")
      assert(got(i.toLong)._2 === model(3), s"3-grams of '$t'")
    }
  }

  test("SimHash64 matches the split-semantics scala model on edge tokens") {
    import spark.implicits._
    // split(' ') semantics: empty text = 1 empty token; n spaces = n+1
    // tokens; trailing space adds an empty token
    val texts = Seq("", " ", "a  b ", "single", "the quick brown fox")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === SimHashModel.simhash(t), s"text '$t'")
    }
    // null text null-propagates through the expression (operators add
    // their own drop-or-singleton semantics on top)
    val nullRow = Seq((0L, Option.empty[String])).toDF("id", "text")
      .select(simhash64(col("text"))).collect()
    assert(nullRow(0).isNullAt(0))
  }
}
