package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded/feature-extracted per partition.
  *
  * The container has no image/audio codecs, so the decode itself is a
  * clearly-marked deterministic FAKE (see [[FakeDecoder.decode]]); the
  * Spark-side contract — binary column schema, per-partition batching,
  * typed output rows — is real and tested. A production build swaps
  * `FakeDecoder.decode` for a JNI/codec call and nothing else changes.
  */
object Multimodal {

  /** One media blob + metadata, as it would sit in a 100 TB lake table. */
  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])

  /** Typed features out of the decode stage. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
    width: Int, height: Int, n_frames: Int, feat_mean: Double)

  /** Video blobs pretend-decode to `1 + n_bytes % VideoFrameMod` frames —
    * shared by [[FakeDecoder.decode]] and the SQL-side [[frameSample]]. */
  val VideoFrameMod = 120

  /** doc_id → media_type assignment, shared by [[mediaTable]] and the
    * SQL-side operators so the rule can't silently diverge. */
  def mediaTypeOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(docId % 3 === 0, "image")
      .when(docId % 3 === 1, "audio")
      .otherwise("video")

  /** Per-type container MAGIC bytes (the real formats' signatures: PNG,
    * ID3v2, MP4 `ftyp`) prepended to every payload by [[blobOf]]. Every
    * blob therefore carries NON-ASCII bytes (0x89, 0x96, 0x00 runs), so
    * the byte-level semantics of the media family ([[graft.expressions.AHash64]]/
    * [[graft.expressions.PolyHash]]/[[graft.expressions.CdcChunks]] over
    * BINARY) are exercised on EVERY corpus — including the driver's
    * pure-ASCII one — rather than only when a payload happens to be
    * non-ASCII. */
  val MagicHex: Map[String, String] = Map(
    "image" -> "89504E470D0A1A0A", // PNG signature
    "audio" -> "494433960000",     // ID3v2-style header (raw 0x96 byte)
    "video" -> "0000001866747970") // MP4 'ftyp' box prefix

  /** The media BLOB column: typed container magic + the payload's UTF-8
    * bytes (the deterministic stand-in for real media bytes — the
    * driver's corpora carry no binary column, so the blob is DERIVED
    * identically in both engines: Spark `unhex(magic) || encode(text)`,
    * DuckDB `hex`-domain concatenation). Null text → null blob, like a
    * row whose media object is missing. A lake table with a physical
    * `blob BINARY` column drops in by replacing this derivation with
    * the column — every consumer below reads bytes either way. */
  private[graft] def blobOf(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      unhex(when(docId % 3 === 0, MagicHex("image"))
        .when(docId % 3 === 1, MagicHex("audio"))
        .otherwise(MagicHex("video"))),
      encode(text, "UTF-8"))

  /** STUB decoder — deterministic fake standing in for the real codec. */
  object FakeDecoder {
    /** Pretend-decode a blob: dimensions and a feature statistic derived
      * only from the byte content, so results are stable across runs. */
    def decode(mediaType: String, bytes: Array[Byte]): (Int, Int, Int, Double) = {
      val n = bytes.length
      val checksum = bytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
      val width = 16 + (checksum % 624).toInt
      val height = 16 + ((checksum / 624) % 464).toInt
      val frames = if (mediaType == "video") 1 + (n % VideoFrameMod) else 1
      val featMean = (checksum % 10000).toDouble / 10000.0
      (width, height, frames, featMean)
    }
  }

  /** Build a media table from `documents` ([[blobOf]]'s magic + payload
    * bytes standing in for media blobs — the schema is the point, not
    * the pixels). */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documentsParallel(spark, sfDir)
      .select(
        col("doc_id"),
        mediaTypeOf(col("doc_id")).as("media_type"),
        blobOf(col("doc_id"), col("text")).as("content"))
      .as[MediaRow]
  }

  /** Pure-SQL media metadata (byte size, 256-byte chunk count, content
    * digest) — the part of the multimodal path that IS oracle-checkable.
    * The digest is md5 over the blob's HEX form: DuckDB's md5 takes no
    * BLOB argument, and hashing the (identical, uppercase) hex string on
    * both sides keeps the gate exact without a cast that would reject
    * non-UTF-8 bytes. */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .select(
        col("doc_id"), col("media_type"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        ((octet_length(col("content")) + 255) / 256).cast("long")
          .as("n_chunks"),
        md5(hex(col("content"))).as("content_hash"))
      .orderBy("doc_id")

  /** [[frameSample]] keeps frames 0, FrameStride, 2·FrameStride, … */
  val FrameStride = 8

  /** [[resizePlan]]'s square output side, in pixels. */
  val ResizeTarget = 224

  /** Frame sampling over video blobs: every [[FrameStride]]-th frame with its
    * byte offset and a per-frame signature — the plan shape of a
    * frame-extraction pass (explode over a per-row frame range; no
    * shuffle). Frame count/signature come from the deterministic fake
    * decode, so the whole operator is oracle-checkable. The checksum is
    * [[graft.functions.TextFunctions.polyHash]] over the BLOB's bytes —
    * exactly [[FakeDecoder.decode]]'s fold, for any payload (the old
    * character fold matched it only while the corpus was ASCII). */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.polyHash
    Tables.documents(spark, sfDir)
      .filter(mediaTypeOf(col("doc_id")) === "video")
      .select(col("doc_id"),
        blobOf(col("doc_id"), col("text")).as("blob"))
      .select(col("doc_id"),
        octet_length(col("blob")).cast("long").as("n_bytes"),
        polyHash(col("blob")).as("checksum"))
      .withColumn("n_frames",
        (lit(1) + col("n_bytes") % VideoFrameMod).cast("int"))
      .withColumn("bytes_per_frame",
        (col("n_bytes") / col("n_frames")).cast("long"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(FrameStride))))
      .select(
        col("doc_id"), col("n_bytes"), col("n_frames"), col("frame_idx"),
        (col("bytes_per_frame") * col("frame_idx")).as("byte_offset"),
        ((col("checksum") + col("frame_idx")) % 1000000007L).as("frame_sig"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Resize planning over decoded dimensions: letterbox-fit every image/
    * video to [[ResizeTarget]]² preserving aspect ratio — the geometry a
    * real resize kernel would execute, computed as a narrow projection
    * (integer `div` only, so the oracle is bit-exact with no float
    * rounding concerns). Emits scaled dims, padding, and the output
    * byte estimate (RGB). Dimensions derive from the same deterministic
    * fake-decode checksum as [[decodeFeatures]]/[[frameSample]]. */
  def resizePlan(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.polyHash
    Tables.documents(spark, sfDir)
      .filter(mediaTypeOf(col("doc_id")) =!= "audio")
      .select(col("doc_id"), mediaTypeOf(col("doc_id")).as("media_type"),
        polyHash(blobOf(col("doc_id"), col("text"))).as("checksum"))
      .withColumn("width", (lit(16) + col("checksum") % 624).cast("int"))
      .withColumn("height",
        (lit(16) + expr("(checksum div 624) % 464")).cast("int"))
      .withColumn("fit", greatest(col("width"), col("height")))
      .withColumn("out_w", expr(s"int((width * $ResizeTarget) div fit)"))
      .withColumn("out_h", expr(s"int((height * $ResizeTarget) div fit)"))
      .select(
        col("doc_id"), col("media_type"), col("width"), col("height"),
        col("out_w"), col("out_h"),
        (lit(ResizeTarget) - col("out_w")).as("pad_x"),
        (lit(ResizeTarget) - col("out_h")).as("pad_y"),
        (col("out_w").cast("long") * col("out_h") * 3L).as("out_bytes"))
      .orderBy("doc_id")
  }

  /** x95: MEDIA near-duplicate pairs — perceptual-hash dedup for the
    * binary/media columns, the capability the text dedup family (x1–x5)
    * has no analogue for: re-encoded, renamed, or lightly-edited copies
    * of the same asset have different byte hashes (x1/mediaMeta's md5
    * misses them) but nearly identical DECODED content. The classical
    * recipe: a 64-bit average-hash ([[graft.functions.TextFunctions.ahash64]]
    * — 8×8-grid aHash over the deterministic stub decode's byte stream;
    * a production build feeds real decoded pixels into the same
    * bucketing) per blob, then near-pairs at Hamming ≤ 3.
    *
    * Output is PER BLOB — (doc_id, media_type, ahash, n_partners) — not
    * per pair: every blob's perceptual hash is oracle-verified
    * bit-for-bit (the pair relation alone would be vacuously empty on a
    * dup-free corpus slice and check nothing), and `n_partners` (the
    * blob's Hamming ≤ 3 within-type degree, x92's pattern) carries the
    * pairing semantics.
    *
    * Scale shape: REUSES x5's banded machinery verbatim
    * ([[Dedup.bandedHammingPairs]]) — the signature table is O(N)-narrow
    * (one codegen'd two-pass loop per blob, no shuffle), pairs form only
    * inside 16-bit chunk buckets under the [[Dedup.MaxBandBucket]] cap
    * (never an all-pairs join), and `media_type` rides the join key so
    * pairs stay within a modality (image↔image, never image↔audio) and
    * each type's buckets stay smaller. The degree fold is a doc-keyed
    * aggregate over pair endpoints (≤2 rows per surviving pair) left-
    * joined back to the O(N) signature table. */
  def mediaDups(spark: SparkSession, sfDir: String): DataFrame =
    mediaDupsFrom(Tables.documentsParallel(spark, sfDir))

  /** [[mediaDups]] over an arbitrary (doc_id, text) relation — the
    * testable core (fixtures plant byte-identical and lightly-edited
    * blobs and a cap-exceeding mass-duplicate family). */
  private[graft] def mediaDupsFrom(docs: DataFrame): DataFrame = {
    val sig = mediaSignatures(docs)
    val pairs = Dedup.bandedHammingPairs(sig, "ahash", "ahash",
      Seq("media_type"))
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_partners"))
    sig.join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("media_type"), col("ahash"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("doc_id")
  }

  /** O(N)-small (doc_id, media_type, ahash) signature table — persisted
    * because both sides of the banded join (and the degree join-back)
    * read it; same materialization rationale as x5's simhash table. */
  private def mediaSignatures(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.ahash64
    graft.util.OperatorCaches.persist(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), mediaTypeOf(col("doc_id")).as("media_type"),
          ahash64(blobOf(col("doc_id"), col("text"))).as("ahash")))
  }

  /** x96/x97 tuning constants — see the operators for semantics. */
  val FrameSliceBytes = 32
  val MinFrameMatches = 2
  val MinLandmarkBytes = 8
  val LandmarkVotes = 2

  /** x96: VIDEO frame-level near-dup — the aligned-content counterpart
    * of [[mediaDups]]'s whole-blob hash. Real near-duplicate videos
    * (re-encodes, watermarked copies, trailing-credits trims) share most
    * of their FRAMES even when the whole-file hash differs, so the
    * classical recipe fingerprints each frame and pairs videos whose
    * frame-signature SETS overlap. Here the stub decode's byte stream is
    * sliced into fixed [[FrameSliceBytes]]-char frames (the constant-
    * bytes-per-frame layout of a fixed-resolution raw stream; a real
    * build feeds decoded frames into the same bucketing) and each slice
    * gets a perceptual [[graft.functions.TextFunctions.ahash64]] — exact
    * hash equality then means "perceptually matching frame" (aHash
    * collides by design for near-identical content).
    *
    * A pair is a near-dup iff it shares m ≥ [[MinFrameMatches]] distinct
    * frame hashes AND containment ≥ 1/2 — decided in exact integer form
    * (`2·m ≥ min(nd_a, nd_b)`, no float threshold), so the oracle
    * reproduces every decision. Output is PER VIDEO (the x95 pattern —
    * per-pair output would be near-empty and verify nothing): frame
    * counts, the distinct-hash digest (BIGINT xor-fold — pins every
    * frame hash while staying in int64, so the verify gate's value
    * canonicalization is exact on both engines), and the near-dup
    * partner degree.
    *
    * Scale shape: the frame relation is ≤ ⌈len/32⌉ rows per video (a
    * narrow map-side explode, no shuffle), the pair join forms only
    * inside equal frame-hash buckets with frame hashes present in more
    * than [[Dedup.MaxBandBucket]] videos dropped first (mass-common
    * frames — blank/intro frames at 100 TB — are exactly x3/x68's
    * DF-cap stance: their membership is a mass family, not a pair list),
    * and every per-video reduction is a partial aggregate keyed by
    * doc_id. */
  def videoFrameDups(spark: SparkSession, sfDir: String): DataFrame =
    videoFrameDupsFrom(Tables.documentsParallel(spark, sfDir))

  /** [[videoFrameDups]] over an arbitrary (doc_id, text) relation
    * (blob-ified by [[blobOf]]) — the testable core (fixtures plant
    * frame-aligned partial copies and a mass-common frame). */
  private[graft] def videoFrameDupsFrom(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.ahash64
    // O(N·18)-narrow frame relation; read by the stats pass and both
    // sides of the pairing join — same materialization rationale as
    // mediaSignatures.
    val frames = graft.util.OperatorCaches.persist(
      docs.filter(col("text").isNotNull &&
          mediaTypeOf(col("doc_id")) === "video")
        .select(col("doc_id"),
          blobOf(col("doc_id"), col("text")).as("blob"))
        .select(col("doc_id"), col("blob"),
          explode(expr(s"sequence(bigint(0)," +
            s" bigint((octet_length(blob) - 1) div $FrameSliceBytes))"))
            .as("frame_idx"))
        .select(col("doc_id"), ahash64(expr(
          s"substring(blob, cast(frame_idx * $FrameSliceBytes + 1 as int)," +
            s" $FrameSliceBytes)")).as("fh")))
    val stats = frames.groupBy("doc_id").agg(
      count(lit(1)).as("n_frames"),
      count_distinct(col("fh")).as("n_distinct_frames"),
      expr("bit_xor(DISTINCT fh)").as("frame_digest"))
    // Persisted: the distinct frame-set relation is read THREE times
    // (the DF cut, both pairing sides via `cut`, and the per-video nd
    // counts) — unpersisted, the distinct shuffle re-ran per reference
    // (optimization round 14, guide §5).
    val sig = graft.util.OperatorCaches.persist(frames.distinct())
    val kept = sig.groupBy("fh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= Dedup.MaxBandBucket).select("fh")
    val cut = sig.join(kept, Seq("fh"))
    val nd = sig.groupBy("doc_id").agg(count(lit(1)).as("nd"))
    val pairs = cut.select(col("fh"), col("doc_id").as("doc_a"))
      .join(cut.select(col("fh"), col("doc_id").as("doc_b")), Seq("fh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("m"))
      .join(nd.select(col("doc_id").as("doc_a"), col("nd").as("nd_a")),
        Seq("doc_a"))
      .join(nd.select(col("doc_id").as("doc_b"), col("nd").as("nd_b")),
        Seq("doc_b"))
      .filter(col("m") >= MinFrameMatches &&
        col("m") * 2 >= least(col("nd_a"), col("nd_b")))
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_partners"))
    stats.join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_distinct_frames"),
        col("frame_digest"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("doc_id")
  }

  /** x97: OFFSET-ROBUST landmark fingerprint matching over AUDIO blobs —
    * the time-shift-tolerant member of the media-dedup family. [[mediaDups]]
    * (whole-blob aHash) and [[videoFrameDups]] (fixed-grid frames) both
    * break when a copy is shifted (an inserted intro/prefix moves every
    * byte); the classical fix (audio-fingerprinting's landmark scheme) is
    * to pick CONTENT-DEFINED anchor points, fingerprint a window at each,
    * and declare a match when many fingerprints agree at one consistent
    * time offset. Here the landmarks are the CDC chunks of
    * [[graft.expressions.CdcChunks]] (x87's oracle-mirrored cut rule —
    * boundaries move with content, so a prefix insertion shifts all
    * downstream chunk STARTS by a constant but preserves their content
    * and hashes), each chunk of length ≥ [[MinLandmarkBytes]]
    * fingerprinted by the chunk text's [[graft.functions.TextFunctions.polyHash]].
    * Two blobs match iff ≥ [[LandmarkVotes]] landmark pairs agree on ONE
    * offset delta (`start_a − start_b`) — the vote histogram is what
    * makes random hash collisions (uncorrelated deltas) harmless.
    *
    * Output is per blob (the x95/x96 pattern): chunk/landmark counts,
    * the landmark-hash digest (Σ polyhash < 2⁶³, exact long), and the
    * matched-partner degree.
    *
    * Scale shape: chunk derivation is a map-side explode (running-sum
    * starts via a per-row `aggregate` over the ≤⌈len/32⌉-entry lengths
    * array — no shuffle); pairs form only inside equal
    * (landmark-hash, length) buckets with buckets over
    * [[Dedup.MaxBandBucket]] dropped first; the vote histogram is a
    * partial aggregate keyed by (pair, delta). */
  def audioLandmarkDups(spark: SparkSession, sfDir: String): DataFrame =
    audioLandmarkDupsFrom(Tables.documentsParallel(spark, sfDir))

  /** [[audioLandmarkDups]] over an arbitrary (doc_id, text) relation —
    * the testable core (fixtures plant shifted copies that whole-blob
    * hashing misses). */
  private[graft] def audioLandmarkDupsFrom(docs: DataFrame): DataFrame = {
    val lm = audioLandmarkChunks(docs)
    val stats = lm.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      count(when(col("len") >= MinLandmarkBytes, 1)).as("n_landmarks"),
      coalesce(sum(when(col("len") >= MinLandmarkBytes, col("lhash"))),
        lit(0L)).as("lm_digest"))
    val marks = lm.filter(col("len") >= MinLandmarkBytes)
      .select("doc_id", "start", "len", "lhash")
    val kept = marks.groupBy("lhash", "len").agg(count(lit(1)).as("df"))
      .filter(col("df") <= Dedup.MaxBandBucket).select("lhash", "len")
    val cut = marks.join(kept, Seq("lhash", "len"))
    val pairs = cut.select(col("lhash"), col("len"),
        col("doc_id").as("doc_a"), col("start").as("start_a"))
      .join(cut.select(col("lhash"), col("len"),
        col("doc_id").as("doc_b"), col("start").as("start_b")),
        Seq("lhash", "len"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("start_a") - col("start_b")).as("delta"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= LandmarkVotes)
      .select("doc_a", "doc_b").distinct()
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_partners"))
    stats.join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_landmarks"),
        col("lm_digest"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"))
      .orderBy("doc_id")
  }

  /** Per-audio-blob CDC chunk relation (doc_id, start, len, lhash):
    * [[graft.functions.TextFunctions.cdcChunks]] lengths → 0-based start
    * offsets (running sum over the per-row lengths array) → chunk-text
    * polyhash. Persisted: read by the stats pass and both pairing
    * sides. */
  private def audioLandmarkChunks(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{cdcChunks, polyHash}
    graft.util.OperatorCaches.persist(
      docs.filter(col("text").isNotNull &&
          mediaTypeOf(col("doc_id")) === "audio")
        .select(col("doc_id"),
          blobOf(col("doc_id"), col("text")).as("blob"))
        .select(col("doc_id"), col("blob"), cdcChunks(col("blob")).as("lens"))
        .select(col("doc_id"), col("blob"), col("lens"),
          posexplode(col("lens")).as(Seq("pos", "len")))
        .withColumn("start",
          expr("aggregate(slice(lens, 1, pos), 0L, (a, x) -> a + bigint(x))"))
        .select(col("doc_id"), col("start"), col("len").cast("long").as("len"),
          polyHash(expr("substring(blob, cast(start + 1 as int), len)"))
            .as("lhash")))
  }

  /** The decode/feature-extract stage: `mapPartitions` so a real decoder
    * would amortize codec init per partition (the Scala analogue of a
    * pandas-batch UDF). Deterministic fake decode ⇒ rows-only check. */
  def decodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .mapPartitions { rows =>
        // Real impl: init codec once here, then stream the partition.
        rows.map { r =>
          val (w, h, f, m) = FakeDecoder.decode(r.media_type, r.content)
          MediaFeatures(r.doc_id, r.media_type, r.content.length.toLong,
            w, h, f, m)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }
}
