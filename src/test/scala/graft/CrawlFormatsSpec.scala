package graft

import graft.operators.CrawlFormats
import graft.operators.CrawlFormats.{Gzip, Warc}

/** Adversarial-input gates for the crawl-transport codecs (q135/q136):
  * the oracle proves the happy path byte-exact; these prove the
  * total-decode contract — every malformed input fails with a NonFatal,
  * doc-tagged error (dispatcher-catchable), never a hang, OOM, or
  * silent garbage.
  */
class CrawlFormatsSpec extends SparkSpec {

  private def bad(f: => Any): String =
    intercept[IllegalArgumentException](f).getMessage

  // ---------------------------------------------------------------- gzip

  test("gzip round-trips text byte-exact with all optional fields") {
    val text = "the quick brown fox é中" // non-ASCII: UTF-8 path
    val enc = Gzip.encode(text.getBytes("UTF-8"), mtime = 42L, os = 3,
      fname = Some("a.txt"), extra = Some(Array[Byte](1, 2)), withHcrc = true)
    val m = Gzip.decode(7L, enc)
    assert(m.mtime == 42L && m.os == 3 && m.fname == "a.txt")
    assert(m.flg == (2 | 4 | 8) && m.n_extra == 2)
    assert(m.n_bytes == text.getBytes("UTF-8").length && m.crc_ok)
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(m.text_md5 == expectMd5)
  }

  test("gzip rejects bad magic, truncation, and reserved flags") {
    val ok = CrawlFormats.synthGzip(3L, "hello world")
    assert(bad(Gzip.decode(3L, ok.take(10))).contains("doc 3"))
    val magic = ok.clone(); magic(0) = 0x1e
    assert(bad(Gzip.decode(3L, magic)).contains("magic"))
    val flg = ok.clone(); flg(3) = (flg(3) | 0x80).toByte
    assert(bad(Gzip.decode(3L, flg)).contains("reserved"))
  }

  test("gzip FHCRC catches header corruption; body corruption fails decode") {
    val enc = CrawlFormats.synthGzip(7L, "abcdefgh" * 10) // %7==0 → FHCRC on
    val hdr = enc.clone(); hdr(4) = (hdr(4) ^ 1).toByte // mtime bit flip
    assert(bad(Gzip.decode(7L, hdr)).contains("FHCRC"))
    // flip a byte mid-DEFLATE: either the inflater throws or CRC/ISIZE trips
    val body = enc.clone(); body(enc.length - 12) = (body(enc.length - 12) ^ 0x5a).toByte
    val r = scala.util.Try(Gzip.decode(7L, body))
    assert(r.isFailure || !r.get.crc_ok)
  }

  test("gzip bomb: declared ISIZE over the cap fails BEFORE allocation") {
    val enc = Gzip.encode(Array.fill(1000)('a'.toByte), 0L, 3, None, None, withHcrc = false)
    // forge the ISIZE trailer to claim 1 GiB
    val forged = enc.clone()
    forged(enc.length - 4) = 0; forged(enc.length - 3) = 0
    forged(enc.length - 2) = 0; forged(enc.length - 1) = 0x40
    assert(bad(Gzip.decode(1L, forged, maxBytes = 1 << 20)).contains("cap"))
    // and a true stream that inflates past the cap trips the running check
    assert(bad(Gzip.decode(1L, enc, maxBytes = 100)).contains("cap"))
  }

  // ---------------------------------------------------------------- WARC

  test("WARC body containing 'WARC/1.0' does not split the record") {
    val trap = "see WARC/1.0\r\n\r\nWARC-Type: response\r\n\r\n inside body"
    val rec = Warc.encodeRecord(5L, "https://x/5", 200, trap.getBytes("UTF-8")) ++
      Warc.encodeRecord(6L, "https://x/6", 200, "second".getBytes("UTF-8"))
    val out = Warc.parseFile(0L, rec)
    assert(out.map(_.doc_id) == Seq(5L, 6L))
    assert(out.head.body_bytes == trap.getBytes("UTF-8").length)
  }

  test("WARC truncated body and missing separator are doc-tagged errors") {
    val rec = Warc.encodeRecord(9L, "https://x/9", 200, "hello".getBytes)
    assert(bad(Warc.parseFile(1L, rec.dropRight(6))).nonEmpty)
    val noVersion = "WARC/0.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes("US-ASCII")
    assert(bad(Warc.parseFile(1L, noVersion)).contains("version"))
  }

  // ----------------------------------------------------------------- tar

  test("tar: header checksum verifies; corruption flips checksum_ok only") {
    val a = CrawlFormats.Tar.encodeMember("shard/doc_5.txt", '0', "hello".getBytes) ++
      CrawlFormats.Tar.Terminator
    val ok = CrawlFormats.Tar.parseArchive(0L, a)
    assert(ok.length == 1 && ok.head.checksum_ok && ok.head.size == 5)
    val bad = a.clone(); bad(100) = '7'.toByte // mode field byte: sum changes
    val r = CrawlFormats.Tar.parseArchive(0L, bad)
    assert(r.length == 1 && !r.head.checksum_ok)
  }

  test("tar: payload digest is size-framed, not block-framed") {
    // two members whose payloads differ only past the first's size field
    val m = CrawlFormats.Tar.encodeMember("shard/doc_1.txt", '0', "abc".getBytes)
    // the 512-block padding after "abc" is zeros; digest must cover 3 bytes only
    val rec = CrawlFormats.Tar.parseArchive(0L, m ++ CrawlFormats.Tar.Terminator).head
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes).map(b => f"${b & 0xff}%02x").mkString
    assert(rec.payload_md5 == expect)
    val big = CrawlFormats.Tar.encodeMember("shard/doc_2.txt", '0',
      Array.fill(600)('x'.toByte))
    assert(bad(CrawlFormats.Tar.parseArchive(0L, big.take(700))).contains("overruns"))
  }

  test("readTarShards: binaryFile scan over shard FILES, no fixture groupBy") {
    SparkSpec.withTempDir("shards") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      (0 until 3).foreach { s =>
        val members = (0 until 4).map { i =>
          val id = s * 4 + i
          CrawlFormats.Tar.encodeMember(s"d/doc_$id.txt", '0',
            s"payload $id".getBytes("UTF-8"))
        }
        java.nio.file.Files.write(dir.resolve(f"shard-$s%05d.tar"),
          (members.flatten ++ CrawlFormats.Tar.Terminator).toArray)
      }
      val out = CrawlFormats.readTarShards(spark, dir.toString).collect()
      assert(out.length == 12)
      assert(out.map(_.doc_id).sorted.toSeq == (0L until 12L))
      assert(out.forall(_.checksum_ok))
      val r7 = out.find(_.doc_id == 7).get
      assert(r7.size == "payload 7".length)
    }
  }

  test("readTarShards: .tar.gz shards with MULTI-member gzip streams") {
    SparkSpec.withTempDir("gzshards") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      (0 until 2).foreach { s =>
        val members = (0 until 3).map { i =>
          val id = s * 3 + i
          CrawlFormats.Tar.encodeMember(s"d/doc_$id.txt", '0',
            s"gz payload $id".getBytes("UTF-8"))
        }
        val tar = (members.flatten ++ CrawlFormats.Tar.Terminator).toArray
        // split the tar across TWO concatenated gzip members (cat a.gz b.gz)
        val half = tar.length / 2
        val gz = CrawlFormats.Gzip.encode(tar.take(half), s.toLong, 3, None, None, withHcrc = false) ++
          CrawlFormats.Gzip.encode(tar.drop(half), s.toLong, 3, None, None, withHcrc = false)
        java.nio.file.Files.write(dir.resolve(f"shard-$s%05d.tar.gz"), gz)
      }
      val out = CrawlFormats.readTarShards(spark, dir.toString).collect()
      assert(out.length == 6)
      assert(out.map(_.doc_id).sorted.toSeq == (0L until 6L))
      assert(out.forall(_.checksum_ok))
    }
  }

  // ----------------------------------------------------------------- zip

  test("zip: EOCD backward scan survives payloads containing the signature") {
    val trap = Array[Byte](0x50, 0x4b, 0x05, 0x06) ++ "decoy eocd in payload".getBytes
    val z = CrawlFormats.Zip.encode(Seq(
      ("doc_1.txt", trap, false), ("doc_2.txt", "plain".getBytes, true)))
    val out = CrawlFormats.Zip.decode(0L, z).sortBy(_.doc_id)
    assert(out.length == 2 && out.forall(_.crc_ok))
    assert(out(0).method == 0 && out(0).uncomp_size == trap.length)
    assert(out(1).method == 8 && out(1).uncomp_size == 5)
  }

  test("zip: stored+deflated round-trip exact; corrupt CRC reported not fatal") {
    val z = CrawlFormats.Zip.encode(Seq(("doc_9.txt", "payload nine".getBytes, true)))
    val good = CrawlFormats.Zip.decode(1L, z).head
    assert(good.crc_ok)
    // flip a stored-CRC byte in the central directory (last copy wins in
    // decode, so corrupt BOTH local and central copies deterministically:
    // find and flip every le32(crc) occurrence)
    val crcLe = {
      val c = new java.util.zip.CRC32; c.update("payload nine".getBytes)
      val v = c.getValue
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    }
    val bad2 = z.clone()
    var i = 0
    while (i + 4 <= bad2.length) {
      if (bad2(i) == crcLe(0) && bad2(i + 1) == crcLe(1) &&
        bad2(i + 2) == crcLe(2) && bad2(i + 3) == crcLe(3)) bad2(i) = (bad2(i) ^ 1).toByte
      i += 1
    }
    val r = CrawlFormats.Zip.decode(1L, bad2).head
    assert(!r.crc_ok) // reported, batch survives
    assert(bad(CrawlFormats.Zip.decode(1L, z.take(10))).contains("central"))
  }

  test("warcExtract parses every record of multi-record grouped files") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"text body $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = CrawlFormats.warcExtract(docs, "doc_id", "text", "source")
      .collect().sortBy(_.doc_id)
    assert(out.length == 20)
    assert(out.forall(_.warc_type == "response"))
    assert(out(7).http_status == 404 && out(7).body_bytes == 0)
    assert(out(17).http_status == 404)
    assert(out(3).http_status == 200 && out(3).body_bytes == "text body 3".length)
    assert(out(3).target_uri == "https://src0.example.com/doc/3")
  }
}
