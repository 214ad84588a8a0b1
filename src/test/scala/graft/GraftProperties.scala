package graft.config

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties (SURVEY §5.4) for the pure-JVM components —
  * totality and invariants under arbitrary input. (Spark-side semantics
  * are property-tested against model folds in [[PropertySpec]] over a
  * deterministic generated corpus; running a SparkSession per ScalaCheck
  * sample would be prohibitively slow.) */
object GraftProperties extends Properties("graft") {

  private val anyLines: Gen[List[String]] =
    Gen.listOf(Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf("nats:", "  url: \"x\"", "subjects:", "  - \"a.b.>\"", "", "# c"),
      Gen.const("key: value # comment")))

  property("config parser is total (never throws) on arbitrary lines") =
    forAll(anyLines) { lines =>
      GraftConfig.parseYamlSubset(lines)
      true // reaching here = no exception; Left(...) is a valid outcome
    }

  property("env override always wins over file value") =
    forAll(Gen.identifier, Gen.asciiPrintableStr.suchThat(_.nonEmpty)) { (k, v) =>
      val yml = Seq("nats:", s"  url: \"file-value\"")
      val env = Map("NATS_URL" -> v)
      GraftConfig.load({
        val f = java.nio.file.Files.createTempFile("p", ".yml")
        java.nio.file.Files.writeString(f, yml.mkString("\n"))
        f.toString
      }, env).toOption.get.natsUrl == v
    }

  property("sink URL parse: round-trippable URLs parse to their parts") =
    forAll(Gen.identifier, Gen.identifier, Gen.identifier,
      Gen.choose(1, 65535)) { (u, p, h, port) =>
      GraftConfig.parseSinkUrl(s"ch://$u:$p@$h:$port") ==
        Right(GraftConfig.SinkConn(u, p, h, port))
    }

  property("quoted '#' survives comment stripping") =
    forAll(Gen.asciiPrintableStr.suchThat(s => !s.contains('"') && !s.contains('\''))) { s =>
      val lines = Seq("nats:", s"""  url: "$s#frag"""")
      GraftConfig.parseYamlSubset(lines) match {
        case Right((kv, _)) => kv.get("nats.url").contains(s + "#frag")
        case Left(_) => false
      }
    }

  /** The SHARED escaper (graft.util.JsonText — used by the sink blocks,
    * logger records, and the oracle dump): output must parse back to the
    * input through a strict parser. */
  property("JsonText escaping round-trips through a strict parser") =
    forAll(Gen.oneOf(Gen.asciiStr, Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString))) { s =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readTree("{\"v\":" + graft.util.JsonText.quote(s) + "}")
        .get("v").asText() == s
    }

  /** Valid-unicode strings (no lone surrogates — Spark stores UTF-8, so
    * malformed UTF-16 cannot round-trip into an expression input at all). */
  private val validUnicodeStr: Gen[String] =
    Gen.listOf(Gen.choose(0, 0x10FFFF)
        .suchThat(cp => cp < 0xD800 || cp > 0xDFFF))
      .map(_.flatMap(Character.toChars(_).toSeq).mkString)

  /** PolyHash's kernel (eval and generated code both call it) against
    * the plain Scala model fold — exact for every representable string
    * (both walk UTF-16 code units, surrogate pairs included). */
  property("PolyHash expression == model fold for arbitrary strings") =
    forAll(Gen.oneOf(Gen.asciiStr, validUnicodeStr)) { s =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      val model = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
      graft.expressions.PolyHash(Literal(s)).eval(null) == model
    }

  /** The CDC cut rule, written here independently of the expression:
    * a cut falls after position j (8 ≤ j < n) when the rolling
    * polynomial fold of the 8 values before it is ≡ 0 (mod 32); the
    * chunk lengths run between cuts, the last one to n. */
  private def cdcModel(vs: Seq[Long]): Seq[Int] = {
    def fold(w: Seq[Long]) = w.foldLeft(0L)((h, v) => (h * 31 + v) % 1000000007L)
    val cuts = (8 until vs.length).filter(j => fold(vs.slice(j - 8, j)) % 32 == 0)
    if (vs.isEmpty) Nil
    else (cuts :+ vs.length).zip(0 +: cuts).map { case (end, start) => end - start }
  }

  /** CdcChunks against the window-hash model over UTF-16 code units on
    * arbitrary strings: identical chunk-length arrays, lengths sum to
    * the string length, and the empty string yields the empty array. */
  property("CdcChunks expression == cut-rule model for arbitrary strings") =
    forAll(Gen.oneOf(Gen.asciiStr, validUnicodeStr)) { s =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      val model = cdcModel(s.map(_.toLong))
      val got = graft.expressions.CdcChunks(Literal(s)).eval(null)
        .asInstanceOf[ArrayData].toIntArray()
      got.toSeq == model && model.sum == s.length &&
        (s.isEmpty == model.isEmpty)
    }

  /** The BINARY flavors of PolyHash/CdcChunks (the media-blob path) —
    * eval against the fold and window-hash models over unsigned bytes
    * on arbitrary byte arrays, including values ≥ 0x80 where a
    * signed-byte slip would diverge; chunk lengths sum to the array
    * length. */
  property("PolyHash/CdcChunks binary eval == unsigned-byte models") =
    forAll(Gen.listOf(Gen.choose(0, 255))) { vs =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      val b = vs.map(_.toByte).toArray
      val phModel = vs.foldLeft(0L)((a, v) => (a * 31 + v) % 1000000007L)
      val chunks = graft.expressions.CdcChunks(Literal(b)).eval(null)
        .asInstanceOf[ArrayData].toIntArray()
      graft.expressions.PolyHash(Literal(b)).eval(null) == phModel &&
        chunks.toSeq == cdcModel(vs.map(_.toLong)) &&
        chunks.sum == b.length
    }

  /** Strings biased toward space-adjacent edge cases (leading/trailing/
    * double spaces) plus arbitrary unicode — the token-boundary logic is
    * where a one-pass split implementation can drift from split(' '). */
  private val spaceyStr: Gen[String] = Gen.oneOf(
    Gen.asciiStr,
    validUnicodeStr,
    Gen.listOf(Gen.oneOf(Gen.const(" "), Gen.alphaNumChar.map(_.toString)))
      .map(_.mkString))

  /** One-pass SimHash64 against the compositional model (shared with the
    * unit spec — [[graft.SimHashModel]]): split(' ') with empty tokens
    * kept, four seeded per-token polyhashes, ±1 sign sums, 16-bit packs
    * concatenated. */
  property("SimHash64 expression == split+polyhash model for arbitrary strings") =
    forAll(spaceyStr) { s =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      graft.expressions.SimHash64(Literal(s)).eval(null) ==
        graft.SimHashModel.simhash(s)
    }

  /** AHash64's kernel against the driver-side bucket-mean model over
    * UNSIGNED UTF-8 BYTES, plus the invariants the dedup join relies
    * on: empty → 0, a constant byte stream → 0 (no bucket exceeds the
    * mean of itself), string input ≡ its UTF-8 bytes as binary input
    * (so a blob column and a text stand-in can never disagree), and
    * equal inputs → equal hashes (Hamming 0 — what makes byte-identical
    * blobs pair). */
  property("AHash64 expression == unsigned-byte bucket-mean model; " +
      "string == its UTF-8 bytes; constant streams hash to 0") =
    forAll(Gen.oneOf(Gen.asciiStr, validUnicodeStr)) { s =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = bytes.length
      val model =
        if (n == 0) 0L
        else {
          val sums = new Array[Long](64)
          val counts = new Array[Long](64)
          var total = 0L
          for (i <- 0 until n) {
            val v = (bytes(i) & 0xff).toLong
            val b = ((i.toLong * 64L) / n).toInt
            sums(b) += v
            counts(b) += 1L
            total += v
          }
          (0 until 64).foldLeft(0L) { (h, k) =>
            if (sums(k) * n > total * counts(k)) h | (1L << k) else h
          }
        }
      val got = graft.expressions.AHash64(Literal(s)).eval(null)
      val asBinary = graft.expressions.AHash64(Literal(bytes)).eval(null)
      val constant =
        if (n == 0) Array.empty[Byte] else Array.fill(n)(bytes(0))
      got == model && asBinary == got &&
        graft.expressions.AHash64(Literal(constant)).eval(null) == 0L &&
        graft.expressions.AHash64(Literal(s)).eval(null) == got
    }

  /** The 128-bit threshold compare AHash64 uses: exact against BigInt
    * for non-negative operands, INCLUDING products past Long.MaxValue —
    * the silent-wrap regime (streams ≥ ~9·10⁷ chars) where the old
    * 64-bit compare diverged from the oracle's checked arithmetic. */
  property("AHash64.gt128 == BigInt product compare incl. Long-overflow range") =
    forAll(
      Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(0L, Long.MaxValue),
      Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(0L, Long.MaxValue)) {
      (a, b, c, d) =>
        graft.expressions.AHash64.gt128(a, b, c, d) ==
          (BigInt(a) * BigInt(b) > BigInt(c) * BigInt(d)) &&
        // the realistic aHash magnitudes: char sums ≤ 65535·n, n ≤ 2³¹
        graft.expressions.AHash64.gt128(
          65535L * (a % 3000000000L), b % 3000000000L,
          65535L * (c % 3000000000L), d % 3000000000L) ==
          (BigInt(65535L) * BigInt(a % 3000000000L) * BigInt(b % 3000000000L) >
            BigInt(65535L) * BigInt(c % 3000000000L) * BigInt(d % 3000000000L))
    }

  private val neighbors: Gen[List[graft.functions.Neighbor]] =
    Gen.listOf(for {
      // few distinct scores → frequent cos ties exercising the id tiebreak
      cos <- Gen.oneOf(-1.0, -0.5, 0.0, 0.25, 0.5, 1.0)
      label <- Gen.chooseNum(0, 3)
    } yield (cos, label)).map(_.zipWithIndex.map { case ((c, l), i) =>
      graft.functions.Neighbor(c, i.toLong, l) // ids unique, like real rows
    })

  /** The bounded-heap aggregator must agree with the obvious spec —
    * sort everything by (cos DESC, id ASC), take k — for ANY partitioning
    * of the input into partial buffers and ANY merge order, since Spark
    * chooses both at runtime. */
  property("TopKByScore: reduce/merge over arbitrary partitionings == sort.take(k)") =
    forAll(neighbors, Gen.chooseNum(1, 7), Gen.chooseNum(1, 5)) { (xs, k, nparts) =>
      val agg = new graft.functions.TopKByScore(k)
      val expected = xs.sortWith { (a, b) =>
        val c = java.lang.Double.compare(b.cos, a.cos)
        c < 0 || (c == 0 && a.neighbor_id < b.neighbor_id)
      }.take(k)
      // simulate Spark: partial-reduce each partition, then merge
      val partials = xs.grouped(math.max(1, (xs.size + nparts - 1) / nparts))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      val mergedReversed = partials.reverse.foldLeft(agg.zero)(agg.merge)
      agg.finish(merged) == expected && agg.finish(mergedReversed) == expected
    }

  /** Pin the LSH operating point: NumMinhashes must equal the standard
    * recall derivation — smallest b with 1−(1−j₀)^b ≥ r₀ at the
    * documented (j₀=0.4 similarity, r₀=0.95 recall) target — so a
    * drive-by band-count edit shows up as a failed derivation, not a
    * silent recall change. */
  property("LSH band count == ceil(ln(1-recall)/ln(1-j)) at the documented target") =
    Prop {
      val derived = math.ceil(math.log(1 - 0.95) / math.log(1 - 0.4)).toInt
      derived == graft.operators.Dedup.NumMinhashes &&
        // and it is minimal: one band fewer misses the recall target
        1 - math.pow(1 - 0.4, derived - 1) < 0.95 &&
        1 - math.pow(1 - 0.4, derived) >= 0.95
    }

  /** Pin the corpus-derived IVF cell curve (max(16, ⌊√(N/8)⌋)):
    * monotone in N, floored at the historical 16 for every test-corpus
    * size (behavior-preserving at sf ≤ 0.1), and √N-family growth —
    * cells² stays within a constant factor of N/8, which is what keeps
    * candidate volume probes²·N²/cells sub-quadratic. */
  property("derived IVF cell count: floor at 16, sqrt-family growth") =
    forAll(Gen.chooseNum(1L, 2_000_000_000L)) { n =>
      def cells(x: Long): Long =
        math.max(16L, math.floor(math.sqrt(x.toDouble / 8.0)).toLong)
      val c = cells(n)
      val floored = n <= 2048 || c > 16 // 16 exactly until sqrt(N/8) > 16
      val sqrtFamily = c == 16L || (c * c <= n / 8 && (c + 1) * (c + 1) > n / 8)
      floored && sqrtFamily && cells(2000) == 16L && cells(20000) == 50L
    }

  /** Skewed term streams so some terms actually cross the N/(k+1)
    * threshold at the small k values below (uniform draws almost never
    * produce a heavy hitter, which would vacuously pass). */
  private val termStream: Gen[List[String]] = for {
    vocab <- Gen.choose(1, 8)
    n <- Gen.choose(0, 400)
    terms <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.const("hot"),
      3 -> Gen.oneOf((1 to vocab).map("w" + _)),
      1 -> Gen.identifier.map(_.take(4))))
  } yield terms

  /** The x65 exactness claim (Frequency.mgSurvivors doc), previously
    * fixture-tested only: for ANY stream, ANY partition split, and any
    * capacity k, the union of per-partition Misra–Gries survivors is a
    * SUPERSET of every global heavy hitter (count·(k+1) > N), and the
    * exact recount of survivors filtered at the threshold equals the
    * naive global groupBy — the two halves of "provably identical to
    * the naive plan". Partitionings 1/4/32 with random row assignment
    * cover the adversarial splits (a term's occurrences concentrated or
    * scattered arbitrarily). */
  property("x65 Misra-Gries: survivor union ⊇ global heavy hitters and " +
      "recount == naive groupBy at 1/4/32 partitions") =
    forAll(termStream, Gen.oneOf(1, 2, 3, 7), Gen.long) { (terms, k, seed) =>
      val rnd = new scala.util.Random(seed)
      val n = terms.size.toLong
      val counts: Map[String, Long] =
        terms.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val heavy = counts.collect {
        case (t, c) if c * (k + 1) > n => t
      }.toSet
      List(1, 4, 32).forall { p =>
        val assigned = terms.map(t => (t, rnd.nextInt(p)))
        val survivors = (0 until p).flatMap(i =>
          graft.operators.Frequency.mgSurvivors(k)(
            assigned.collect { case (t, q) if q == i => t }.iterator)).toSet
        val recount = counts.filter { case (t, c) =>
          survivors(t) && c * (k + 1) > n }
        heavy.subsetOf(survivors) && recount.keySet == heavy &&
          heavy.forall(t => recount(t) == counts(t))
      }
    }

  /** The x85 exactness claim (TopKStream.MgK doc): folding any stream
    * through the per-window summary (Frequency.mgStep at capacity `cap`,
    * the step x85 and x65 share) is EXACT (plain count map) whenever
    * distinct keys ≤ capacity — no decrement ever fires — and in
    * general every surviving counter obeys the Misra–Gries band
    * true − N/(cap+1) ≤ counter ≤ true. Order-insensitivity of the
    * exact case is checked by folding a shuffled copy. */
  property("x85 window summary: exact below capacity (any order), " +
      "MG undercount band above it") =
    forAll(termStream, Gen.oneOf(2, 3, 7, 64), Gen.long) { (terms, cap, seed) =>
      def fold(ts: Seq[String]): Map[String, Long] = {
        val s = new scala.collection.mutable.HashMap[String, Long]
        ts.foreach(graft.operators.Frequency.mgStep(s, cap, _))
        s.toMap
      }
      val counts = terms.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val got = fold(terms)
      if (counts.size <= cap) {
        val shuffled = fold(new scala.util.Random(seed).shuffle(terms))
        got == counts && shuffled == counts
      } else {
        val n = terms.size.toLong
        got.forall { case (t, c) =>
          c <= counts(t) && c >= counts(t) - n / (cap + 1)
        } && counts.forall { case (t, c) =>
          !(c * (cap + 1) > n) || got.contains(t)   // heavy ⇒ survives
        }
      }
    }
}
