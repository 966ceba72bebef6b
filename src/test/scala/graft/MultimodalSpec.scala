package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.Ingest

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Ingest.table(spark, "/root/testdata/sf0.001", "documents")
    .limit(50)
    .select(col("doc_id"), col("text").cast("binary").as("bin"))
    .cache()

  test("decode emits typed metadata per blob") {
    val out = Multimodal.decodeMedia(media, "doc_id", "bin")
    assert(out.count() == 50)
    val r = out.filter(col("doc_id") === 0).head()
    assert(r.byte_len > 0 && r.width == r.byte_len % 640)
    assert(r.head_hex.length == 16)
    // text bytes sniff as no known container: labeled fallback rows
    assert(r.format == "unknown" && !r.decode_ok)
  }

  test("resize really resamples pixels on decodable images") {
    // 2×1 → 3×1 bilinear over the REAL decoded pixel grid:
    // out = [p0, (p0+p1+1)/2-ish fixed point, p1]
    val png = Multimodal.Png.encode(2, 1, (x, _) => if (x == 0) (10, 40, 90) else (20, 60, 110))
    val (w, h, rgb) = Multimodal.Png.pixels(1L, png)
    val out = Multimodal.bilinearResample(w, h, rgb, 3, 1)
    def ch(px: Array[Byte], c: Int) = px.indices.filter(_ % 3 == c).map(px(_) & 0xff).sum
    // midpoint: fx=128 → (p0·128·256 + p1·128·256 + 32768) >> 16
    def mid(a: Int, b: Int) = (a * 128 * 256 + b * 128 * 256 + 32768) >> 16
    assert(out.length == 3 * 1 * 3)
    assert(ch(out, 0) == 10 + mid(10, 20) + 20)
    assert(ch(out, 1) == 40 + mid(40, 60) + 60)
    assert(ch(out, 2) == 90 + mid(90, 110) + 110)
    assert((out(0) & 0xff, out(1) & 0xff, out(2) & 0xff) == ((10, 40, 90)))
    // identity resize reproduces the source exactly (fx=fy=0 everywhere)
    val idm = Multimodal.bilinearResample(w, h, rgb, 2, 1)
    assert(ch(idm, 0) == 30 && ch(idm, 1) == 100 && ch(idm, 2) == 200)
  }


  test("frame sampling slices the REAL frame bytes out of mdat") {
    // two tracks, known sizes, known payload: every frame's byte window
    // and sum are hand-computable
    val enc = Multimodal.Mp4.encode(1000, 2000, Seq(
      Multimodal.Mp4.Track(1, 320, 240, sampleSizes = Seq(3, 2, 4), sampleDelta = 40),
      Multimodal.Mp4.Track(2, 640, 480, sampleSizes = Seq(5), sampleDelta = 100)),
      mvhdV1 = false, mdatLen = 0,
      sampleByte = Some((t, i, j) => 10 * t + 3 * i + j))
    val df = Seq((7L, enc)).toDF("doc_id", "bin")
    val rows = Multimodal.sampleFrames(df, "doc_id", "bin", 1).collect()
      .map(r => (r.track_idx, r.frame_idx) -> r).toMap
    assert(rows.size == 4)
    // track 1: offsets 0,3,5; sums of 10+3i+j over j<size
    assert(rows((1L, 0L)).offset == 0 && rows((1L, 0L)).size == 3 &&
      rows((1L, 0L)).byte_sum == 10 + 11 + 12)
    assert(rows((1L, 1L)).offset == 3 && rows((1L, 1L)).byte_sum == 13 + 14)
    assert(rows((1L, 2L)).offset == 5 && rows((1L, 2L)).byte_sum == 16 + 17 + 18 + 19)
    // track-major layout: track 2 starts after track 1's 9 bytes
    assert(rows((2L, 0L)).offset == 9 && rows((2L, 0L)).size == 5 &&
      rows((2L, 0L)).byte_sum == 20 + 21 + 22 + 23 + 24)
    // stts-derived presentation times: delta 40 ticks at timescale 1000
    assert(rows((1L, 0L)).pts_ms == 0 && rows((1L, 1L)).pts_ms == 40 &&
      rows((1L, 2L)).pts_ms == 80)
    // everyN = 2 keeps frames 0 and 2 of track 1, frame 0 of track 2
    val strided = Multimodal.sampleFrames(df, "doc_id", "bin", 2).collect()
    assert(strided.map(r => (r.track_idx, r.frame_idx)).toSet ==
      Set((1L, 0L), (1L, 2L), (2L, 0L)))
  }

  test("frame sampling handles multi-run stts and rejects corrupt tables") {
    // hand-built stts with TWO runs (our encoder writes one): 2×10 then
    // 1×50 ticks — a real decoder must expand runs, not assume one
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val enc = Multimodal.Mp4.encode(1000, 2000, Seq(
      Multimodal.Mp4.Track(1, 320, 240, sampleSizes = Seq(1, 1, 1))),
      mvhdV1 = false, mdatLen = 0, sampleByte = Some((_, _, _) => 1))
    // locate the encoder's one-run stts ((1, 3, 100)) and swap in 2 runs
    val sttsIdx = enc.indices.find(i => enc.slice(i, i + 4).sameElements("stts".getBytes)).get - 4
    val oldStts = 8 + 4 + 4 + 8 // hdr + verflags + count + one run
    val newStts = be32(8 + 4 + 4 + 16L) ++ "stts".getBytes ++
      Array[Byte](0, 0, 0, 0) ++ be32(2) ++
      be32(2) ++ be32(10) ++ be32(1) ++ be32(50)
    val spliced = enc.take(sttsIdx) ++ newStts ++ enc.drop(sttsIdx + oldStts)
    // fix enclosing box sizes (trak/mdia/minf/stbl each grow by 8)
    def patchSizes(b: Array[Byte]): Array[Byte] = {
      val out = b.clone()
      for (typ <- Seq("moov", "trak", "mdia", "minf", "stbl")) {
        val at = out.indices.find(i => out.slice(i, i + 4).sameElements(typ.getBytes)).get - 4
        val old = ((out(at) & 0xffL) << 24) | ((out(at + 1) & 0xffL) << 16) |
          ((out(at + 2) & 0xffL) << 8) | (out(at + 3) & 0xffL)
        be32(old + 8).copyToArray(out, at)
      }
      out
    }
    val fixed = patchSizes(spliced)
    val ft = Multimodal.Mp4.frameTable(9L, fixed)
    assert(ft.tracks.head.sttsRuns == Vector((2L, 10L), (1L, 50L)))
    val rows = Seq((9L, fixed)).toDF("doc_id", "bin")
    val pts = Multimodal.sampleFrames(rows, "doc_id", "bin", 1)
      .collect().sortBy(_.frame_idx).map(_.pts_ms)
    assert(pts.toSeq == Seq(0L, 10L, 20L)) // 0, 10, 10+10 (run 2 starts after)
    // a sample table that overruns the mdat must fail NonFatal, not read OOB
    val tooSmall = Multimodal.Mp4.encode(1000, 2000, Seq(
      Multimodal.Mp4.Track(1, 320, 240, sampleSizes = Seq(100))),
      mvhdV1 = false, mdatLen = 4) // filler mdat: 4 bytes < 100-byte sample
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(Seq((10L, tooSmall)).toDF("doc_id", "bin"),
        "doc_id", "bin", 1).collect()
    }
    assert(ex.getCause.getMessage.contains("overruns mdat"))
  }

  test("Wav decode parses a hand-built container our encoder never produces") {
    // RIFF with an UNKNOWN odd-size chunk before fmt/data: exercises the
    // chunk walk + word-alignment padding, and proves the decoder parses
    // the format, not just our encoder's fixed 44-byte layout.
    val samples = Array[Short](100, -200, 300)
    val junk = Array[Byte]('j', 'u', 'n', 'k', 5, 0, 0, 0, 1, 2, 3, 4, 5, 0) // size 5 + 1 pad
    val fmt = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(4000).putInt(8000).putShort(2).putShort(16)
      .array()
    val data = java.nio.ByteBuffer.allocate(8 + 6).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("data".getBytes("US-ASCII")).putInt(6)
      .putShort(100).putShort(-200).putShort(300).array()
    val body = junk ++ fmt ++ data
    val bytes = java.nio.ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(body).array()
    val m = Multimodal.Wav.decode(7L, bytes)
    assert(m.sample_rate == 4000 && m.n_samples == 3 && m.duration_ms == 0)
    assert(m.sum_sq == 100L * 100 + 200L * 200 + 300L * 300)
    assert(m.peak == 300 && m.first_sample == 100 && m.last_sample == 300)
    assert(samples.map(s => s.toLong * s).sum == m.sum_sq)
  }

  test("Wav encode∘decode is identity on metadata, and rejects non-WAV bytes") {
    val s = Array.tabulate(1001)(i => ((i * 37) % 65536 - 32768).toShort)
    val m = Multimodal.Wav.decode(1L, Multimodal.Wav.encode(s, 44100))
    assert(m.sample_rate == 44100 && m.n_samples == 1001 && m.bits_per_sample == 16)
    assert(m.duration_ms == 1001L * 1000 / 44100)
    assert(m.sum_sq == s.map(x => x.toLong * x).sum)
    assert(m.peak == s.map(x => math.abs(x.toLong)).max)
    intercept[IllegalArgumentException] {
      Multimodal.Wav.decode(2L, "definitely-not-a-riff-container".getBytes)
    }
  }

  test("Bmp decode handles bottom-up rows, padding, and top-down variants") {
    // w=3 → stride 12 (3 pad bytes per row): px00 must be the TOP-left
    // pixel even though the file stores the bottom row first.
    val enc = Multimodal.Bmp.encode(3, 2, (x, y) => (x + 10 * y, 100 + x, 200 + y))
    val m = Multimodal.Bmp.decode(3L, enc)
    assert(m.width == 3 && m.height == 2 && m.bits_per_pixel == 24)
    assert(m.px00 == 0L * 65536 + 100L * 256 + 200L)
    assert(m.sum_r == (0 + 1 + 2) + (10 + 11 + 12))
    assert(m.sum_g == 2 * (100 + 101 + 102) && m.sum_b == 3 * 200 + 3 * 201)
    // hand-flip to a TOP-DOWN file (negative height): same metadata
    val stride = 12
    val topDown = enc.clone()
    // height int32 at offset 22 ← −2 (LE) → rows stored top-first
    topDown(22) = 0xfe.toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    Array.copy(enc, 54 + stride, topDown, 54, stride) // swap the two rows
    Array.copy(enc, 54, topDown, 54 + stride, stride)
    val t = Multimodal.Bmp.decode(4L, topDown)
    assert(t.px00 == m.px00 && t.sum_r == m.sum_r && t.sum_g == m.sum_g)
    intercept[IllegalArgumentException] {
      Multimodal.Bmp.decode(5L, Array[Byte]('P', 'K', 1, 2, 3))
    }
  }

  test("Png encode∘decode is identity across all five scanline filters") {
    // h=7 → the per-row filter cycle (y mod 5) covers None/Sub/Up/
    // Average/Paeth plus two repeats; distinct channel affines catch
    // axis/channel swaps in the unfilter.
    val enc = Multimodal.Png.encode(5, 7, (x, y) => (x * 13 + y, 255 - x * 7, (x * y + 19) % 256))
    val m = Multimodal.Png.decode(11L, enc)
    assert(m.width == 5 && m.height == 7 && m.bit_depth == 8 && m.color_type == 2)
    assert(m.n_idat == 2) // the encoder always splits the zlib stream
    var sr, sg, sb = 0L
    for (y <- 0 until 7; x <- 0 until 5) {
      sr += x * 13 + y; sg += 255 - x * 7; sb += (x * y + 19) % 256
    }
    assert(m.sum_r == sr && m.sum_g == sg && m.sum_b == sb)
    assert(m.px00 == 0L * 65536 + 255L * 256 + 19L)
  }

  test("Png decode verifies chunk CRCs and rejects corrupt or foreign bytes") {
    val enc = Multimodal.Png.encode(4, 3, (x, y) => (x, y, x + y))
    // flip one bit inside the first IDAT's data: CRC must catch it
    val corrupt = enc.clone()
    val ihdrEnd = 8 + 12 + 13 // signature + IHDR chunk
    corrupt(ihdrEnd + 8 + 2) = (corrupt(ihdrEnd + 8 + 2) ^ 0x40).toByte
    val ex = intercept[IllegalArgumentException](Multimodal.Png.decode(1L, corrupt))
    assert(ex.getMessage.contains("CRC"))
    intercept[IllegalArgumentException] {
      Multimodal.Png.decode(2L, "GIF89a-definitely-not-png".getBytes)
    }
    // a single-IDAT stream from a foreign encoder shape still decodes:
    // REALLY rebuild the file with one IDAT (walk chunks, concatenate the
    // two zlib payload halves, recompute the CRC) — decoder must not
    // assume our encoder's two-chunk split
    val oneIdat = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(enc, 0, 8) // signature
      val idat = new java.io.ByteArrayOutputStream()
      var off = 8
      var wrote = false
      def writeChunk(typ: String, data: Array[Byte]): Unit = {
        val crc = new java.util.zip.CRC32()
        crc.update(typ.getBytes("US-ASCII")); crc.update(data)
        out.write(java.nio.ByteBuffer.allocate(12 + data.length)
          .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
          .putInt(crc.getValue.toInt).array())
      }
      while (off + 12 <= enc.length) {
        val len = java.nio.ByteBuffer.wrap(enc).getInt(off)
        val typ = new String(enc, off + 4, 4, "US-ASCII")
        typ match {
          case "IDAT" => idat.write(enc, off + 8, len)
          case "IEND" =>
            if (!wrote) { writeChunk("IDAT", idat.toByteArray); wrote = true }
            writeChunk("IEND", Array.emptyByteArray)
          case _ => out.write(enc, off, 12 + len)
        }
        off += 12 + len
      }
      out.toByteArray
    }
    val m = Multimodal.Png.decode(3L, oneIdat)
    assert(m.n_idat == 1) // proves the rebuild actually merged the chunks
    assert(m.sum_r == (0 + 1 + 2 + 3) * 3)
    assert(m == Multimodal.Png.decode(3L, enc).copy(n_idat = 1))
  }

  test("Jpeg encode∘decode is EXACT on the flat-gray envelope, bounded on color") {
    // flat-gray per-8x8-block: the lossless envelope (DC step 8 argument)
    val flat = Multimodal.Jpeg.encode(13, 10, (x, y) => {
      val v = (40 + (x / 8) * 31 + (y / 8) * 57) % 256; (v, v, v)
    })
    val m = Multimodal.Jpeg.decode(1L, flat)
    assert(m.width == 13 && m.height == 10 && m.n_components == 3)
    assert(m.n_blocks == 3 * 2 * 2)
    var s = 0L
    for (y <- 0 until 10; x <- 0 until 13) s += (40 + (x / 8) * 31 + (y / 8) * 57) % 256
    assert(m.sum_r == s && m.sum_g == s && m.sum_b == s)
    assert(m.px00 == 40L * 65536 + 40L * 256 + 40L)
    // smooth COLOR gradient: lossy path exercises AC coefficients and the
    // chroma planes; per-pixel mean abs error must stay within the AC
    // quant budget (step 16 → well under 8 for smooth content)
    val w = 24; val h = 16
    def px(x: Int, y: Int) = (10 * (x / 3), 255 - 10 * (y / 2), 5 * ((x + y) / 4))
    val dec = Multimodal.Jpeg.decode(2L, Multimodal.Jpeg.encode(w, h, px))
    var expR, expG, expB = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y); expR += r; expG += g; expB += b
    }
    val n = (w * h).toDouble
    assert(math.abs(dec.sum_r - expR) / n < 8.0, s"mean R err ${math.abs(dec.sum_r - expR) / n}")
    assert(math.abs(dec.sum_g - expG) / n < 8.0, s"mean G err ${math.abs(dec.sum_g - expG) / n}")
    assert(math.abs(dec.sum_b - expB) / n < 8.0, s"mean B err ${math.abs(dec.sum_b - expB) / n}")
  }

  test("Jpeg decoder is a real parser: skips APP/COM, rejects progressive and garbage") {
    val enc = Multimodal.Jpeg.encode(9, 7, (x, y) => { val v = (x * y * 5) % 256; (v, v, v) })
    val base = Multimodal.Jpeg.decode(1L, enc)
    // splice an APP0 + COM segment right after SOI: a marker WALKER must
    // decode identically; a fixed-offset reader breaks
    val app0 = Array(0xff, 0xe0, 0x00, 0x08, 'J', 'F', 'X', 'X', 0, 0).map(_.toByte)
    val com = Array(0xff, 0xfe, 0x00, 0x07, 'h', 'e', 'l', 'l', 'o').map(_.toByte)
    val spliced = enc.take(2) ++ app0 ++ com ++ enc.drop(2)
    val m = Multimodal.Jpeg.decode(2L, spliced)
    assert(m.sum_r == base.sum_r && m.px00 == base.px00 && m.n_blocks == base.n_blocks)
    // flip SOF0 (0xc0) to SOF2 (0xc2): must refuse with a real message
    val sofAt = spliced.indices.find(i =>
      (spliced(i) & 0xff) == 0xff && (spliced(i + 1) & 0xff) == 0xc0).get
    val prog = spliced.clone(); prog(sofAt + 1) = 0xc2.toByte
    val ex = intercept[IllegalArgumentException](Multimodal.Jpeg.decode(3L, prog))
    assert(ex.getMessage.contains("progressive"))
    intercept[IllegalArgumentException] {
      Multimodal.Jpeg.decode(4L, "RIFF-not-a-jpeg-at-all".getBytes)
    }
  }

  test("Mp4 decode walks the real box tree: both mvhd versions, largesize mdat") {
    val v0 = Multimodal.Mp4.encode(1000, 5000, Seq(Multimodal.Mp4.Track(1, 640, 480)),
      mvhdV1 = false, mdatLen = 16)
    val m0 = Multimodal.Mp4.decode(1L, v0)
    assert(m0.major_brand == "isom" && m0.timescale == 1000 && m0.duration_ms == 5000)
    assert(m0.n_tracks == 1 && m0.width == 640 && m0.height == 480)
    // ftyp, moov, mvhd, trak, tkhd, mdia, minf, stbl, stts, stsz, mdat
    assert(m0.n_boxes == 11)
    assert(m0.n_samples == 0 && m0.sample_bytes == 0) // empty sample table
    // mvhd v1 (64-bit fields) must parse to the same logical values
    val v1 = Multimodal.Mp4.encode(1000, 5000, Seq(Multimodal.Mp4.Track(1, 640, 480)),
      mvhdV1 = true, mdatLen = 16)
    val m1 = Multimodal.Mp4.decode(2L, v1)
    assert(m1.timescale == m0.timescale && m1.duration_ms == m0.duration_ms)
    // a box walker must skip an unknown box; splice one before moov
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes ++ Array[Byte](1, 2, 3, 4)
    val ftypLen = 28 // 8 hdr + brand 4 + minor 4 + 12 compatible brands
    val spliced = v0.take(ftypLen) ++ free ++ v0.drop(ftypLen)
    val ms = Multimodal.Mp4.decode(3L, spliced)
    assert(ms.duration_ms == m0.duration_ms && ms.n_boxes == m0.n_boxes + 1)
    intercept[IllegalArgumentException] {
      Multimodal.Mp4.decode(4L, "not-an-iso-bmff-file-at-all".getBytes)
    }
  }

  test("Mp4 stts/stsz sample tables yield real frame counts and byte totals") {
    val enc = Multimodal.Mp4.encode(1000, 2000, Seq(
      Multimodal.Mp4.Track(1, 320, 240, sampleSizes = Seq(100, 200, 300)),
      Multimodal.Mp4.Track(2, 640, 480, sampleSizes = Seq(7, 9))),
      mvhdV1 = false, mdatLen = 8)
    val m = Multimodal.Mp4.decode(1L, enc)
    assert(m.n_tracks == 2 && m.n_samples == 5)
    assert(m.sample_bytes == 100 + 200 + 300 + 7 + 9)
    // fixed-size stsz branch (sample_size != 0, no per-sample table):
    // hand-build one — our encoder never emits it, a real decoder reads it
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val fixedStsz = be32(28) ++ "stsz".getBytes ++
      Array[Byte](0, 0, 0, 0) ++ be32(25) ++ be32(4) ++ be32(0) ++ be32(0)
    // splice it as a top-level box (walker treats stsz wherever it appears)
    val withFixed = enc ++ fixedStsz
    val mf = Multimodal.Mp4.decode(2L, withFixed)
    assert(mf.sample_bytes == m.sample_bytes + 25 * 4)
  }

  test("Gif LZW is the real algorithm: KwKwK, width growth, CLEAR-on-full") {
    // KwKwK: aaaa… forces the code-being-defined case immediately
    val runs = Array.fill(40)(1)
    assert(Multimodal.Gif.lzwDecode(1L, 2,
      Multimodal.Gif.lzwEncode(2, runs), runs.length).toSeq == runs.toSeq)
    // width growth to 12 bits + dictionary-full CLEAR: a long
    // low-repetition byte stream at minCode 8 adds thousands of entries
    val big = Array.tabulate(60000)(i => (i * 131 + (i * i % 251)) % 256)
    assert(Multimodal.Gif.lzwDecode(2L, 8,
      Multimodal.Gif.lzwEncode(8, big), big.length).toSeq == big.toSeq)
    // empty stream round-trips (CLEAR + EOI only)
    assert(Multimodal.Gif.lzwDecode(3L, 2,
      Multimodal.Gif.lzwEncode(2, Array.empty), 0).isEmpty)
  }

  test("Gif encode∘decode is identity, walks extensions, rejects garbage") {
    val m5 = Multimodal.Gif.decode(5L, Multimodal.synthGif(5L))
    // doc 5: w=9, h=8, odd → 8 colors + GCE ext → GIF89a
    assert(m5.version == "GIF89a" && m5.width == 9 && m5.height == 8)
    assert(m5.n_colors == 8 && m5.n_ext == 1)
    // exact palette sums: replay the synth formulas
    val expect = (for (x <- 0 until 9; y <- 0 until 8)
      yield (5L + 3 * x + 7 * y) % 8).toSeq
    assert(m5.sum_r == expect.map(c => (5 * 5 + c * 11) % 256).sum)
    assert(m5.sum_g == expect.map(c => (5 * 3 + c * 17) % 256).sum)
    assert(m5.sum_b == expect.map(c => (5 * 7 + c * 23) % 256).sum)
    // doc 6: even + div-3 → 4 colors, comment ext only, still 89a
    val m6 = Multimodal.Gif.decode(6L, Multimodal.synthGif(6L))
    assert(m6.version == "GIF89a" && m6.n_colors == 4 && m6.n_ext == 1)
    // doc 2: even, not div-3 → bare GIF87a, no extensions
    val m2 = Multimodal.Gif.decode(2L, Multimodal.synthGif(2L))
    assert(m2.version == "GIF87a" && m2.n_ext == 0)
    // px00 pins pixel order: first index is doc_id % ncol
    val c0 = (2L % 4).toInt
    assert(m2.px00 == ((2 * 5 + c0 * 11) % 256) * 65536L
      + ((2 * 3 + c0 * 17) % 256) * 256L + (2 * 7 + c0 * 23) % 256)
    // a >255-byte LZW stream must split into multiple sub-blocks and
    // reassemble: 100x80 image → thousands of codes
    val wide = Multimodal.Gif.encode(100, 80, 8,
      c => (c * 30, c * 20, c * 10), (x, y) => (x * x + y * 3) % 8)
    val mw = Multimodal.Gif.decode(7L, wide)
    assert(mw.width == 100 && mw.height == 80)
    val wsum = (for (x <- 0 until 100; y <- 0 until 80)
      yield ((x * x + y * 3) % 8) * 30L).sum
    assert(mw.sum_r == wsum)
    // garbage and truncation fail as NonFatal requires
    intercept[IllegalArgumentException] {
      Multimodal.Gif.decode(8L, "GIF87a-but-truncated".getBytes)
    }
    intercept[IllegalArgumentException] {
      Multimodal.Gif.decode(9L, "not a gif at all, clearly".getBytes)
    }
    // decodeMedia routes GIFs to the real codec
    import spark.implicits._
    val routed = Multimodal.decodeMedia(
      Seq((11L, Multimodal.synthGif(11L))).toDF("doc_id", "bin"), "doc_id", "bin")
      .collect().head
    assert(routed.format == "gif" && routed.decode_ok &&
      routed.width == 4 + 11 % 9 && routed.n_frames == 1)
    // and GIFs decode to a pixel grid the real resample consumes
    val (gw, gh, grgb) = Multimodal.Gif.pixels(12L, Multimodal.synthGif(12L))
    assert(grgb.length == gw * gh * 3)
    assert(Multimodal.bilinearResample(gw, gh, grgb, 4, 4).length == 4 * 4 * 3)
  }

  test("Flac decode unpacks the bit-packed STREAMINFO exactly") {
    // hand values hitting byte-boundary crossings: 20-bit rate with a
    // live low nibble, 36-bit sample count above 2^32
    val md5 = Array.tabulate(16)(i => (i * 7).toByte)
    val enc = Multimodal.Flac.encode(44100, 2, 24, (1L << 33) + 12345, md5,
      withComment = true, withPadding = true, frameBytes = Array[Byte](1, 2, 3))
    val m = Multimodal.Flac.decode(1L, enc)
    assert(m.sample_rate == 44100 && m.channels == 2 && m.bits_per_sample == 24)
    assert(m.total_samples == (1L << 33) + 12345)
    assert(m.duration_ms == ((1L << 33) + 12345) * 1000 / 44100)
    assert(m.n_blocks == 3) // STREAMINFO + comment + padding
    assert(m.audio_md5 == md5.map(b => f"${b & 0xff}%02x").mkString)
    // minimal file: STREAMINFO only, last-block flag on it
    val bare = Multimodal.Flac.decode(2L, Multimodal.Flac.encode(
      8000, 1, 16, 100, new Array[Byte](16),
      withComment = false, withPadding = false, frameBytes = Array.empty))
    assert(bare.n_blocks == 1 && bare.duration_ms == 12) // 100*1000/8000
    // synth round-trip incl. the 36-bit path (doc 7 → n > 2^32)
    val m7 = Multimodal.Flac.decode(7L, Multimodal.synthFlac(7L))
    assert(m7.total_samples == (1L << 32) + 7 % 1000)
    // garbage and truncation fail NonFatal
    intercept[IllegalArgumentException] {
      Multimodal.Flac.decode(3L, "fLaC".getBytes ++ Array[Byte](0, 0, 0))
    }
    intercept[IllegalArgumentException] {
      Multimodal.Flac.decode(4L, "RIFFnotflac-at-all-here-padpadpadpadpadpad".getBytes)
    }
    // dispatcher routes FLAC to the real codec
    import spark.implicits._
    val routed = Multimodal.decodeMedia(
      Seq((10L, Multimodal.synthFlac(10L))).toDF("doc_id", "bin"), "doc_id", "bin")
      .collect().head
    assert(routed.format == "flac" && routed.decode_ok &&
      routed.n_frames == 10000 + 10 % 90000)
  }

  test("corrupt container headers fail fast as NonFatal, not OOM/StackOverflow") {
    import spark.implicits._
    // PNG claiming 50000×50000 dims in a 100-byte file: must refuse
    // BEFORE allocating ~7.5 GB of scanlines
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    val hugeIhdr = java.nio.ByteBuffer.allocate(13)
      .putInt(50000).putInt(50000).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val hugePng = sig ++ chunk("IHDR", hugeIhdr) ++ chunk("IDAT", Array[Byte](1, 2)) ++
      chunk("IEND", Array.emptyByteArray)
    val ex = intercept[IllegalArgumentException](Multimodal.Png.decode(1L, hugePng))
    assert(ex.getMessage.contains("implausible"))
    // JPEG claiming 65000×65000 in the SOF: same contract
    val j = Multimodal.Jpeg.encode(4, 4, (_, _) => (1, 2, 3))
    val sofAt = j.indices.find(i =>
      (j(i) & 0xff) == 0xff && (j(i + 1) & 0xff) == 0xc0).get
    val hugeJ = j.clone()
    hugeJ(sofAt + 5) = 0xfd.toByte; hugeJ(sofAt + 6) = 0xe8.toByte // h = 65000
    hugeJ(sofAt + 7) = 0xfd.toByte; hugeJ(sofAt + 8) = 0xe8.toByte // w = 65000
    val exJ = intercept[IllegalArgumentException](Multimodal.Jpeg.decode(2L, hugeJ))
    assert(exJ.getMessage.contains("implausible"))
    // MP4 of 64 nested moov boxes: depth cap must fire, not StackOverflow
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(512)
    val nested = (1 to 64).foldLeft(Array.emptyByteArray) { (inner, _) =>
      be32(inner.length + 8L) ++ "moov".getBytes ++ inner
    }
    val exM = intercept[IllegalArgumentException](
      Multimodal.Mp4.decode(3L, ftyp ++ nested))
    assert(exM.getMessage.contains("nesting"))
    // truncated tkhd (size 12 passes the generic check): must refuse
    // rather than read its own header bytes as 16.16 dims
    val shortTkhd = be32(12) ++ "tkhd".getBytes ++ be32(0)
    // box = 8 hdr + 20 payload (version/flags, ctime, mtime, ts, dur)
    val mvhd = be32(28) ++ "mvhd".getBytes ++ Array[Byte](0, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(1000) ++ be32(5000)
    val moov = be32(8L + mvhd.length + shortTkhd.length) ++ "moov".getBytes ++
      mvhd ++ shortTkhd
    val exT = intercept[IllegalArgumentException](
      Multimodal.Mp4.decode(4L, ftyp ++ moov))
    assert(exT.getMessage.contains("tkhd"))
    // end-to-end: ALL of these route to the flagged fallback in decodeMedia
    val df = Seq((1L, hugePng), (2L, hugeJ), (3L, ftyp ++ nested),
      (4L, ftyp ++ moov)).toDF("doc_id", "bin")
    val out = Multimodal.decodeMedia(df, "doc_id", "bin").collect()
    assert(out.length == 4 && out.forall(!_.decode_ok))
    assert(out.map(_.format).sorted.toSeq == Seq("jpeg", "mp4", "mp4", "png"))
  }

  test("decodeMedia dispatches on magic bytes and falls back on garbage") {
    // one real payload per format → real metadata
    assert(Multimodal.sniffFormat(Multimodal.synthWav(5)) == "wav")
    assert(Multimodal.sniffFormat(Multimodal.synthBmp(5)) == "bmp")
    assert(Multimodal.sniffFormat(Multimodal.synthPng(5)) == "png")
    assert(Multimodal.sniffFormat(Multimodal.synthJpeg(5)) == "jpeg")
    assert(Multimodal.sniffFormat(Multimodal.synthMp4(5)) == "mp4")
    assert(Multimodal.sniffFormat("plain text".getBytes) == "unknown")
    // corrupt-but-sniffable payload must FALL BACK, not fail the batch:
    // "BM" + garbage sniffs as bmp, fails the real parse, gets the fake
    val garbage = "BMgarbage-not-a-real-bitmap".getBytes
    val mixed = Seq((1L, Multimodal.synthBmp(1L)), (2L, garbage))
    import spark.implicits._
    val out = Multimodal.decodeMedia(mixed.toDF("doc_id", "bin"), "doc_id", "bin")
      .collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 3 + 1 % 6 && out(1L).n_frames == 1) // real decode
    assert(out(1L).format == "bmp" && out(1L).decode_ok)
    val len = garbage.length.toLong
    assert(out(2L).width == len % 640 && out(2L).n_frames == len % 30) // fake path
    // the fallback is MEASURABLE: sniffed format survives, decode_ok=false
    assert(out(2L).format == "bmp" && !out(2L).decode_ok)
  }

  test("real-codec round-trips run distributed over the documents table") {
    val docs = Ingest.table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    val wav = Multimodal.wavRoundTrip(docs, "doc_id").collect()
    assert(wav.length == 40)
    assert(wav.forall(r => r.n_samples == 800 + r.doc_id % 400))
    assert(wav.forall(r => r.duration_ms == r.n_samples * 1000 / r.sample_rate))
    val bmp = Multimodal.bmpRoundTrip(docs, "doc_id").collect()
    assert(bmp.length == 40)
    assert(bmp.forall(r => r.width == 3 + r.doc_id % 6 && r.height == 2 + r.doc_id % 4))
    assert(bmp.forall(r => r.px00 ==
      (r.doc_id % 256) * 65536 + (2 * r.doc_id % 256) * 256 + (5 * r.doc_id % 256)))
    val png = Multimodal.pngRoundTrip(docs, "doc_id").collect()
    assert(png.length == 40)
    assert(png.forall(r => r.width == 3 + r.doc_id % 7 && r.height == 2 + r.doc_id % 5))
    assert(png.forall(r => r.px00 ==
      (r.doc_id % 256) * 65536 + (3 * r.doc_id % 256) * 256 + (9 * r.doc_id % 256)))
    assert(png.forall(_.n_idat == 2))
    val jpg = Multimodal.jpegRoundTrip(docs, "doc_id").collect()
    assert(jpg.length == 40)
    assert(jpg.forall(r => r.width == 5 + r.doc_id % 20 && r.height == 4 + r.doc_id % 13))
    assert(jpg.forall(r => r.n_components == 3 &&
      r.n_blocks == 3 * ((r.width + 7) / 8) * ((r.height + 7) / 8)))
    val mp4 = Multimodal.mp4RoundTrip(docs, "doc_id").collect()
    assert(mp4.length == 40)
    assert(mp4.forall(r => r.n_tracks == 1 + r.doc_id % 2 && r.major_brand == "isom"))
    assert(mp4.forall(r => r.n_boxes == 4 + 7 * r.n_tracks))
    assert(mp4.forall(r => r.n_samples ==
      (1 to r.n_tracks.toInt).map(t => 8 + (r.doc_id + t) % 5).sum))
    assert(mp4.forall(r => r.sample_bytes ==
      (1 to r.n_tracks.toInt).flatMap(t =>
        (0 until (8 + (r.doc_id + t) % 5).toInt).map(i =>
          1 + (r.doc_id + 7 * t + 3 * i) % 50)).sum))
  }

  test("Webp decodes all three flavors and rejects corrupt containers") {
    // flavor coverage: vp8 (id 3), vp8l (id 4), vp8x (id 5)
    val m3 = Multimodal.Webp.decode(3L, Multimodal.synthWebp(3L))
    assert(m3.format == "vp8" && m3.width == 19 && m3.height == 11 && !m3.has_alpha)
    val m4 = Multimodal.Webp.decode(4L, Multimodal.synthWebp(4L))
    assert(m4.format == "vp8l" && m4.has_alpha && m4.n_chunks == 1)
    val m5 = Multimodal.Webp.decode(5L, Multimodal.synthWebp(5L))
    assert(m5.format == "vp8x" && !m5.has_alpha && m5.n_chunks == 2)
    // declared RIFF size must match the actual byte count
    val enc = Multimodal.synthWebp(3L)
    val truncated = enc.dropRight(1)
    intercept[IllegalArgumentException](Multimodal.Webp.decode(3L, truncated))
    // corrupt the VP8 start code
    val bad = enc.clone()
    bad(12 + 8 + 3) = 0x00 // first VP8 payload byte + 3 = 0x9d start code
    intercept[IllegalArgumentException](Multimodal.Webp.decode(3L, bad))
    // the dispatcher downgrades both to the labeled fallback, no task failure
    val out = Multimodal.decodeMedia(
      Seq((3L, truncated), (4L, Multimodal.synthWebp(4L))).toDF("doc_id", "bin"),
      "doc_id", "bin").collect().sortBy(_.doc_id)
    assert(!out(0).decode_ok && out(0).format == "webp")
    assert(out(1).decode_ok && out(1).width == m4.width)
  }

  test("Exif: APP1 TIFF block round-trips under both byte orders") {
    for (id <- Seq(0L, 1L, 7L, 42L)) {
      val m = Multimodal.Exif.parse(id, Multimodal.synthExifJpeg(id))
      assert(m.byte_order == (if (id % 2 == 0) "II" else "MM"))
      assert(m.make == s"maker${id % 5}" && m.model == s"model${id % 7}")
      assert(m.orientation == 1 + id % 8)
      assert(m.iso == 100 * (1 + id % 16))
      assert(m.pixel_x == 5 + id % 20)
      assert(m.n_ifd0 == 4 && m.n_exif == 2)
    }
  }

  test("Exif: splice leaves the underlying JPEG decodable and its width matches PixelXDimension") {
    val id = 13L
    val withExif = Multimodal.synthExifJpeg(id)
    // the pixel decoder skips APPn segments, so the spliced file still decodes
    val jm = Multimodal.Jpeg.decode(id, withExif)
    val em = Multimodal.Exif.parse(id, withExif)
    assert(jm.width == em.pixel_x)
  }

  test("Exif: doc-tagged errors for missing APP1 and truncated block") {
    val plain = Multimodal.synthJpeg(5L)
    val e1 = intercept[IllegalArgumentException](Multimodal.Exif.parse(5L, plain))
    assert(e1.getMessage.contains("doc 5"))
    val ok = Multimodal.synthExifJpeg(6L)
    // truncate inside the APP1 segment: the segment length now overruns
    val cut = ok.take(20)
    val e2 = intercept[IllegalArgumentException](Multimodal.Exif.parse(6L, cut))
    assert(e2.getMessage.contains("doc 6"))
  }
}
