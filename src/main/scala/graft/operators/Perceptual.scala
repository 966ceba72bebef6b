package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual fingerprints over REAL decoded media — the multimodal arm
  * of the dedup family. Text near-dup is covered by MinHash/SimHash
  * (`TextOps`) and embeddings by cosine/SemDeDup (`VectorOps`); web-scale
  * image and audio corpora need the same operation on pixels and samples:
  * a tiny content-derived fingerprint whose Hamming distance survives
  * re-encoding, so duplicate media dedups WITHOUT comparing payload bytes.
  *
  * Image side: dHash (difference hash) — the public perceptual-hash
  * recipe: decode → downscale to a fixed 9×8 luma grid → one bit per
  * horizontally-adjacent pixel comparison → 64-bit fingerprint. Every
  * stage here is the repo's exact-integer machinery ([[Multimodal.Png]]
  * real decode, [[Multimodal.bilinearResample]] fixed-point resample), so
  * the full hash is DuckDB-replayable digit-for-digit (q165) — no other
  * perceptual-hash implementation can make that claim without golden
  * files.
  *
  * Audio side: frame-energy fingerprint — split PCM into fixed frames,
  * one bit per adjacent-frame energy comparison (the shape of published
  * audio fingerprinting, minus the FFT that JDK-only code keeps honest;
  * energies are exact int64 sums of int16², so again SQL-replayable).
  *
  * Scale shape (100 TB): fingerprinting is pure `mapPartitions` over the
  * binary column — map-side, scan-bandwidth, no shuffle. Pairing uses
  * 16-bit banding (4 bands over 64 bits): pigeonhole guarantees every
  * pair within Hamming distance ≤ 3 collides on ≥ 1 band, so candidates
  * come from an equi-join on band keys — never an all-pairs product —
  * and the exact `bit_count(xor)` filter keeps precision. Identical
  * contract to `TextOps.simhashHammingPairs` (q97), applied to media.
  */
object Perceptual {

  // ------------------------------------------------------------------
  // image dHash
  // ------------------------------------------------------------------

  /** dHash grid: 9 columns × 8 rows of luma → 8 comparisons per row. */
  val DhashW = 9
  val DhashH = 8

  /** Per-doc deterministic PNG synth with PLANTED near-duplicates: doc
    * 4k+3 renders doc 4k+2's image with the top-left pixel nudged by +3
    * luma (saturating — no mod-256 wrap, so the perturbation is small in
    * pixel space and flips at most the corner's few dHash bits). Pixel
    * values are quadratic in (x, y) so gradient signs — the dHash bits —
    * vary pseudo-randomly per doc: unrelated docs land ~32 bits apart,
    * planted pairs a handful. The quadratic COEFFICIENTS derive from the
    * doc — a merely additive doc term would cancel in the adjacent-pixel
    * comparisons and make every same-dims doc hash-identical. Grayscale
    * (r=g=b) keeps the luma step exact on both engines.
    */
  def synthDhashPng(docId: Long): Array[Byte] = {
    val base = if (docId % 4 == 3) docId - 1 else docId
    val w = (8 + base % 5).toInt
    val h = (8 + base % 3).toInt
    val (a, b, c) = (3 + base % 11, 5 + base % 7, 1 + base % 13)
    val (d, e) = (base % 17, base % 19)
    Multimodal.Png.encode(w, h, (x, y) => {
      val v0 = ((a * x * x + b * y * y + c * x * y + d * x + e * y +
        base * 37) % 256).toInt
      val v = if (docId % 4 == 3 && x == 0 && y == 0) math.min(v0 + 3, 255) else v0
      (v, v, v)
    })
  }

  /** 64-bit dHash of a decoded RGB grid, split (hi, lo) into two
    * non-negative 32-bit halves so SQL engines replay it without
    * touching the int64 sign bit. Bit i = y·8+x is set iff
    * luma(x+1, y) > luma(x, y) on the 9×8 resample; luma = channel 0
    * (callers feed grayscale synths; a production caller would insert
    * the ITU-R 601 integer luma first).
    */
  def dhashBits(w: Int, h: Int, rgb: Array[Byte]): (Long, Long) = {
    val g = Multimodal.bilinearResample(w, h, rgb, DhashW, DhashH)
    var hi = 0L; var lo = 0L
    var y = 0
    while (y < DhashH) {
      var x = 0
      while (x < DhashW - 1) {
        val a = g((y * DhashW + x) * 3) & 0xff
        val b = g((y * DhashW + x + 1) * 3) & 0xff
        if (b > a) {
          val i = y * 8 + x
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  /** doc_id, 32-bit hash halves, popcount. */
  case class ImageHash(doc_id: Long, dhash_hi: Long, dhash_lo: Long,
      bits_set: Long)

  /** dHash a BINARY image column: sniff the container, decode with the
    * matching real codec (PNG/BMP/GIF pixel grids), resample, hash.
    * Map-side only; the binary column never shuffles. Undecodable
    * payloads throw — gate with `Multimodal.decodeMedia`'s `decode_ok`
    * first (the q170 composition), exactly as a production pipeline
    * health-filters before fingerprinting.
    */
  def dhashFromBinary(df: DataFrame, idCol: String,
      binCol: String): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (w, h, rgb) = Multimodal.sniffFormat(bytes) match {
          case "png" => Multimodal.Png.pixels(id, bytes)
          case "bmp" => Multimodal.Bmp.pixels(id, bytes)
          case "gif" => Multimodal.Gif.pixels(id, bytes)
          case f => throw new IllegalArgumentException(
            s"dhashFromBinary: no pixel decoder for format '$f' (doc $id)")
        }
        val (hi, lo) = dhashBits(w, h, rgb)
        ImageHash(id, hi, lo, java.lang.Long.bitCount(hi) +
          java.lang.Long.bitCount(lo))
      })
  }

  /** documents → real PNG bytes → REAL decode → exact 9×8 resample →
    * dHash. Map-side only; the binary column never shuffles.
    */
  def imageDhash(ids: DataFrame, idCol: String): Dataset[ImageHash] = {
    val spark = ids.sparkSession
    import spark.implicits._
    dhashFromBinary(
      ids.select(col(idCol).cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, synthDhashPng(id))))
        .toDF("doc_id", "bin"),
      "doc_id", "bin")
  }

  /** Near-duplicate image pairs within `maxDist` Hamming bits: 4×16-bit
    * banded blocking over [[imageDhash]] fingerprints + exact
    * `bit_count(xor)` verify. Pigeonhole-EXACT for maxDist ≤ 3 (4 bands,
    * ≤ 3 differing bits → some band matches), so the banded plan returns
    * byte-identical results to the quadratic scan it replaces. Only
    * fingerprints shuffle (16 bytes/doc — at 100 TB of images the join
    * input is ~GBs).
    */
  def imageDhashPairs(ids: DataFrame, idCol: String,
      maxDist: Int = 3): DataFrame = graft.CacheScope.scoped { cs =>
    // pinned: both self-join sides read the fingerprints — without it the
    // whole decode+resample+hash pass runs twice (same contract as
    // TextOps.simhashHammingPairs; callers own the cache lifecycle)
    dhashPairsFromHashes(cs.cache(imageDhash(ids, idCol).toDF()), maxDist)
  }

  /** Banded Hamming pairs over an EXISTING fingerprint table
    * (doc_id, dhash_hi, dhash_lo) — the join half of [[imageDhashPairs]],
    * exposed so compositions that already hold fingerprints (q170's
    * decode-gated pipeline) don't recompute them.
    */
  def dhashPairsFromHashes(fp: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4x16-bit banding is exact only for maxDist <= 3, got $maxDist")
    val banded = fp.select(col("doc_id"), col("dhash_hi"), col("dhash_lo"),
        explode(array(
          struct(lit(0).as("band"), (col("dhash_lo") % 65536).as("bkey")),
          struct(lit(1).as("band"), (col("dhash_lo") / 65536).cast("long").as("bkey")),
          struct(lit(2).as("band"), (col("dhash_hi") % 65536).as("bkey")),
          struct(lit(3).as("band"), (col("dhash_hi") / 65536).cast("long").as("bkey"))
        )).as("b"))
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"),
        col("b.band").as("band"), col("b.bkey").as("bkey"))
    val x = banded.as("x"); val y = banded.as("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        (bit_count(expr("x.dhash_hi ^ y.dhash_hi")) +
          bit_count(expr("x.dhash_lo ^ y.dhash_lo"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------------------------
  // audio fingerprint
  // ------------------------------------------------------------------

  /** Per-doc WAV synth with PLANTED exact duplicates: doc 5k+4 re-renders
    * doc 5k+3's clip byte-for-byte (same samples, same rate) — the
    * "same master uploaded twice" case audio dedup exists for.
    */
  def synthWavDup(docId: Long): Array[Byte] = {
    val base = if (docId % 5 == 4) docId - 1 else docId
    Multimodal.synthWav(base)
  }

  /** documents → real WAV bytes → REAL PCM decode → (doc_id, fp,
    * n_samples, sum_sq, dup_of, is_dup): the frame-energy fingerprint,
    * exact content aggregates, and the canonical (minimum) doc_id among
    * identical-content clips.
    * Fingerprint: split the clip into `nFrames` contiguous frames
    * (boundaries k·n div nFrames), exact int64 energy per frame, bit k
    * set iff energy(k+1) > energy(k). Duplicate resolution groups on the
    * full content key (fp, n_samples, sum_sq, first, last) and elects
    * min(doc_id) — one shuffle of ~40-byte fingerprint rows, never
    * audio bytes.
    */
  def audioFingerprint(ids: DataFrame, idCol: String,
      nFrames: Int = 16): DataFrame = {
    require(nFrames >= 2 && nFrames <= 64, s"bad nFrames $nFrames")
    val spark = ids.sparkSession
    import spark.implicits._
    val fp = ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val (_, samples) = Multimodal.Wav.samples(id, synthWavDup(id))
        val n = samples.length
        val energy = new Array[Long](nFrames)
        var k = 0
        while (k < nFrames) {
          var i = k.toLong * n / nFrames
          val end = (k + 1).toLong * n / nFrames
          var e = 0L
          while (i < end) { val s = samples(i.toInt).toLong; e += s * s; i += 1 }
          energy(k) = e
          k += 1
        }
        var bits = 0L
        k = 0
        while (k < nFrames - 1) {
          if (energy(k + 1) > energy(k)) bits |= 1L << k
          k += 1
        }
        var sumSq = 0L
        var i = 0
        while (i < n) { val s = samples(i).toLong; sumSq += s * s; i += 1 }
        (id, bits, n.toLong, sumSq,
          if (n > 0) samples(0).toLong else 0L,
          if (n > 0) samples(n - 1).toLong else 0L)
      })
      .toDF("doc_id", "fp", "n_samples", "sum_sq", "first_s", "last_s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"), col("n_samples"), col("sum_sq"),
        col("first_s"), col("last_s"))
    fp.withColumn("dup_of", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("fp"), col("n_samples"), col("sum_sq"),
        col("dup_of"), (col("doc_id") =!= col("dup_of")).as("is_dup"))
  }

  // ------------------------------------------------------------------
  // video perceptual dedup (round 12): MP4 frame sampling × dHash —
  // closes the image/audio/video media-dedup triangle by COMPOSING the
  // real ISO-BMFF walker (Multimodal.Mp4.frameTable, q127's stts/stsz
  // machinery) with the image dHash above.
  // ------------------------------------------------------------------

  /** Sampled frames per synthesized video. */
  val VideoFrames = 3

  /** Per-doc deterministic MP4 synth with PLANTED near-duplicate
    * videos: a rawvideo track (track 1) of [[VideoFrames]] frames, each
    * frame exactly 9×8 grayscale bytes — the one uncompressed layout a
    * JDK-only pipeline can hash end-to-end honestly (compressed H.264
    * payloads stay library-bound per the MP4/FLAC honesty line; the
    * CONTAINER walk, frame slicing and hashing below are the real
    * production shape either way). Doc 3k+2 re-renders doc 3k+1's
    * frames with frame 0's top-left pixel nudged +3 (saturating) — the
    * re-encoded-upload case video dedup exists for: one frame hash
    * lands a few bits away, the rest identical. Frame pixels are
    * quadratic in (x, y) with frame-dependent coefficients, so every
    * frame of every unrelated video hashes ~32 bits apart. A second
    * track (ignored by the hasher) keeps the track-major mdat offsets
    * honest.
    */
  def synthDupVideo(docId: Long): Array[Byte] = {
    val base = if (docId % 3 == 2) docId - 1 else docId
    val nudge = docId % 3 == 2
    Multimodal.Mp4.encode(
      timescale = 1000, duration = 100L * VideoFrames,
      tracks = Seq(
        Multimodal.Mp4.Track(1, DhashW, DhashH,
          Seq.fill(VideoFrames)(DhashW * DhashH), 100),
        Multimodal.Mp4.Track(2, 0, 0, Seq(16, 16), 150)),
      mvhdV1 = docId % 2 == 1, mdatLen = 0,
      sampleByte = Some((trk, f, j) =>
        if (trk == 1) {
          val x = j % DhashW; val y = j / DhashW
          videoPixel(base, f, x, y, nudge && f == 0 && x == 0 && y == 0)
        } else ((j * 11 + f * 7) % 251)))
  }

  /** Frame-f pixel (x, y) of video `base`: quadratic in (x, y) with
    * frame-dependent coefficients (a constant-only frame term would
    * cancel in the adjacent-pixel comparisons and make every frame of a
    * video hash-identical). Exact-integer; the q189 oracle replays it
    * closed-form.
    */
  def videoPixel(base: Long, f: Int, x: Int, y: Int, nudge: Boolean): Int = {
    // coefficient ranges are chosen LARGE (primes 23..59) and base-
    // multiplied: the constant term cancels in dHash's adjacent-pixel
    // comparisons, so only the gradient coefficients decorrelate
    // unrelated videos — small ranges would land thousands of chance
    // pairs inside the Hamming-3 ball (measured while building q189)
    val a = 3 + (base * 3 + f * 5) % 23
    val b = 5 + (base * 5 + f * 7) % 29
    val c = 1 + (base * 7 + f * 11) % 37
    val d = (base * 11 + f * 13) % 47
    val e = (base * 13 + f * 17) % 59
    val v0 = ((a * x * x + b * y * y + c * x * y + d * x + e * y +
      base * 37 + f * 53) % 256).toInt
    if (nudge) math.min(v0 + 3, 255) else v0
  }

  /** doc_id, frame index, 32-bit dHash halves of that frame. */
  case class VideoFrameHash(doc_id: Long, frame_idx: Long,
      dhash_hi: Long, dhash_lo: Long)

  /** documents → real MP4 bytes → REAL ISO-BMFF frame-table walk →
    * slice every `everyN`th track-1 frame out of mdat (cumulative stsz
    * offsets, track-major single-chunk layout — [[Multimodal
    * .sampleFrames]]'s exact machinery) → per-frame dHash. Map-side
    * only: video bytes never shuffle, 16 bytes per sampled frame do.
    */
  def videoFrameDhash(ids: DataFrame, idCol: String,
      everyN: Int = 1): Dataset[VideoFrameHash] = {
    require(everyN > 0, s"everyN must be positive, got $everyN")
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val bytes = synthDupVideo(id)
        val ft = Multimodal.Mp4.frameTable(id, bytes)
        val trk = ft.tracks.head // track 1 = video, written first
        val offs = trk.sizes.scanLeft(0L)(_ + _)
        Iterator.range(0, trk.sizes.length, everyN).map { i =>
          val sz = trk.sizes(i).toInt
          require(sz == DhashW * DhashH,
            s"doc $id frame $i: expected ${DhashW * DhashH}-byte raw frame, got $sz")
          val off = (ft.mdatOff + offs(i)).toInt
          val rgb = new Array[Byte](sz * 3)
          var j = 0
          while (j < sz) {
            val g = bytes(off + j)
            rgb(j * 3) = g; rgb(j * 3 + 1) = g; rgb(j * 3 + 2) = g
            j += 1
          }
          val (hi, lo) = dhashBits(DhashW, DhashH, rgb)
          VideoFrameHash(id, i.toLong, hi, lo)
        }
      })
  }

  /** Near-duplicate VIDEO pairs: 4×16-bit banded blocking over
    * per-frame dHashes (pigeonhole-exact for `maxDist` ≤ 3 — identical
    * contract to [[dhashPairsFromHashes]]), frame-pair verify by exact
    * `bit_count(xor)`, then aggregation to the video level: a pair of
    * videos is emitted when ANY sampled frame pair matches, with the
    * matching-frame-pair count and the minimum Hamming distance. Only
    * 16-byte frame fingerprints shuffle; at 100 TB of video the join
    * input is ~GBs while the pixel mass stays map-side.
    */
  def videoDhashPairs(ids: DataFrame, idCol: String, everyN: Int = 1,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4x16-bit banding is exact only for maxDist <= 3, got $maxDist")
    val fp = videoFrameDhash(ids, idCol, everyN).toDF()
    val banded = fp.select(col("doc_id"), col("frame_idx"),
        col("dhash_hi"), col("dhash_lo"),
        explode(array(
          struct(lit(0).as("band"), (col("dhash_lo") % 65536).as("bkey")),
          struct(lit(1).as("band"), (col("dhash_lo") / 65536).cast("long").as("bkey")),
          struct(lit(2).as("band"), (col("dhash_hi") % 65536).as("bkey")),
          struct(lit(3).as("band"), (col("dhash_hi") / 65536).cast("long").as("bkey"))
        )).as("b"))
      .select(col("doc_id"), col("frame_idx"), col("dhash_hi"),
        col("dhash_lo"), col("b.band").as("band"), col("b.bkey").as("bkey"))
    val x = banded.as("x"); val y = banded.as("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        col("x.frame_idx").as("f1"), col("y.frame_idx").as("f2"),
        (bit_count(expr("x.dhash_hi ^ y.dhash_hi")) +
          bit_count(expr("x.dhash_lo ^ y.dhash_lo"))).cast("long").as("hamming"))
      .distinct() // one row per frame pair, however many bands collided
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_frame_pairs"),
        min(col("hamming")).as("min_hamming"))
  }
}
