package graft.operators

import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Crawl-transport formats (round 10): the two layers every web-scale
  * training corpus passes through BEFORE any text operator applies —
  * gzip members (RFC 1952) and WARC/1.0 records (ISO 28500). Both are
  * REAL codecs with the same honesty contract as the media set: the
  * container layer (gzip member header/trailer, WARC header block +
  * Content-Length framing, embedded HTTP response) is hand-parsed
  * byte-for-byte; the one JDK delegation is raw-DEFLATE itself
  * (`java.util.zip.Inflater`, same line the PNG codec draws —
  * re-implementing Huffman inflate buys no Spark insight).
  *
  * Scale shape: both operators are `mapPartitions` map-side transforms —
  * no shuffle, no driver state — so at 100 TB they run at scan
  * bandwidth, the same profile q118–q122 measured for the media codecs
  * (SCALE.md exponents 0.10–0.18).
  */
object CrawlFormats {

  // ========================================================================
  // gzip — RFC 1952
  // ========================================================================

  /** Decoded gzip-member metadata. `flg` is the raw FLG byte (FTEXT=1,
    * FHCRC=2, FEXTRA=4, FNAME=8, FCOMMENT=16); `crc_ok` is the
    * recomputed-vs-stored CRC32 verdict over the INFLATED bytes, and
    * `text_md5` digests those bytes — it can only match the oracle's
    * `md5(text)` if the DEFLATE stream was inflated byte-exact.
    */
  case class GzipMeta(doc_id: Long, mtime: Long, flg: Long, os: Long,
      fname: String, n_extra: Long, n_bytes: Long, crc_ok: Boolean,
      text_md5: String)

  object Gzip {
    private val Fhcrc = 2
    private val Fextra = 4
    private val Fname = 8
    private val Fcomment = 16

    /** Little-endian u32 write. */
    private def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

    /** Encode one gzip member around `payload`: 10-byte fixed header
      * (magic 1f 8b, CM=8/deflate, doc-keyed MTIME, OS), optional
      * FEXTRA/FNAME/FHCRC fields, raw-DEFLATE body, CRC32 + ISIZE
      * trailer. FHCRC is the CRC32-of-header low 16 bits per RFC 1952
      * §2.3.1 — a real bit of the spec most writers skip.
      */
    def encode(payload: Array[Byte], mtime: Long, os: Int,
        fname: Option[String], extra: Option[Array[Byte]],
        withHcrc: Boolean): Array[Byte] = {
      val flg = (if (fname.isDefined) Fname else 0) |
        (if (extra.isDefined) Fextra else 0) |
        (if (withHcrc) Fhcrc else 0)
      val out = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
      out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
      out.write(le32(mtime), 0, 4)
      out.write(0) // XFL
      out.write(os)
      extra.foreach { x =>
        out.write(x.length & 0xff); out.write((x.length >> 8) & 0xff)
        out.write(x, 0, x.length)
      }
      fname.foreach { n =>
        val b = n.getBytes("ISO-8859-1"); out.write(b, 0, b.length); out.write(0)
      }
      if (withHcrc) {
        val c = new CRC32; c.update(out.toByteArray)
        out.write((c.getValue & 0xff).toInt); out.write(((c.getValue >> 8) & 0xff).toInt)
      }
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true) // raw deflate
      d.setInput(payload); d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      val crc = new CRC32; crc.update(payload)
      out.write(le32(crc.getValue), 0, 4)
      out.write(le32(payload.length.toLong & 0xffffffffL), 0, 4)
      out.toByteArray
    }

    /** Parse + inflate one member. Total-decode contract: every
      * malformed input fails with a doc-tagged IllegalArgumentException
      * (NonFatal, catchable by a dispatcher); inflated size is bounded
      * by `maxBytes` BEFORE allocation so a gzip bomb cannot OOM the
      * executor (the ADVICE-hardening rule the media codecs follow).
      */
    def decode(id: Long, bytes: Array[Byte],
        maxBytes: Int = 1 << 26): GzipMeta = {
      require(bytes.length >= 18, s"gzip member shorter than 18 bytes (doc $id)")
      require((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b,
        s"bad gzip magic (doc $id)")
      require((bytes(2) & 0xff) == 8, s"unsupported CM=${bytes(2)} (doc $id)")
      val flg = bytes(3) & 0xff
      require((flg & 0xe0) == 0, s"reserved FLG bits set (doc $id)")
      def u32le(off: Int): Long =
        ((bytes(off) & 0xffL)) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      val mtime = u32le(4)
      val os = bytes(9) & 0xff
      var p = 10
      var nExtra = 0L
      if ((flg & Fextra) != 0) {
        require(bytes.length >= p + 2, s"truncated FEXTRA (doc $id)")
        nExtra = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2
        require(bytes.length >= p + nExtra, s"truncated FEXTRA body (doc $id)")
        p += nExtra.toInt
      }
      var fname = ""
      if ((flg & Fname) != 0) {
        val z = bytes.indexOf(0.toByte, p)
        require(z >= 0, s"unterminated FNAME (doc $id)")
        fname = new String(bytes, p, z - p, "ISO-8859-1")
        p = z + 1
      }
      if ((flg & Fcomment) != 0) {
        val z = bytes.indexOf(0.toByte, p)
        require(z >= 0, s"unterminated FCOMMENT (doc $id)")
        p = z + 1
      }
      if ((flg & Fhcrc) != 0) {
        require(bytes.length >= p + 2, s"truncated FHCRC (doc $id)")
        val c = new CRC32; c.update(bytes, 0, p)
        val stored = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        require((c.getValue & 0xffff) == stored, s"FHCRC mismatch (doc $id)")
        p += 2
      }
      require(bytes.length >= p + 8, s"member truncated before trailer (doc $id)")
      val isize = u32le(bytes.length - 4)
      require(isize <= maxBytes,
        s"declared inflated size $isize exceeds cap $maxBytes (doc $id)")
      val inf = new Inflater(true)
      inf.setInput(bytes, p, bytes.length - p - 8)
      val outBuf = new java.io.ByteArrayOutputStream(
        math.min(isize, bytes.length.toLong * 4).toInt + 64)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0) // 0 with more stream expected = truncated input
            require(inf.finished(), s"truncated DEFLATE stream (doc $id)")
          else {
            outBuf.write(buf, 0, n)
            require(outBuf.size() <= maxBytes, s"inflated past cap (doc $id)")
          }
        }
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"corrupt DEFLATE (doc $id): ${e.getMessage}")
      } finally inf.end()
      val inflated = outBuf.toByteArray
      require((inflated.length.toLong & 0xffffffffL) == isize,
        s"ISIZE ${isize} != inflated ${inflated.length} (doc $id)")
      val crc = new CRC32; crc.update(inflated)
      val crcOk = crc.getValue == u32le(bytes.length - 8)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(inflated).map(b => f"${b & 0xff}%02x").mkString
      GzipMeta(id, mtime, flg.toLong, os.toLong, fname, nExtra,
        inflated.length.toLong, crcOk, md5)
    }
  }

  /** Doc-keyed gzip synth over the REAL document text: MTIME = doc_id,
    * OS = 3 (unix), FNAME on ids % 3 == 0, a 4-byte FEXTRA on % 5 == 0,
    * FHCRC on % 7 == 0 — every optional field the parser handles gets
    * exercised on a closed-form schedule the oracle can replay.
    */
  def synthGzip(docId: Long, text: String): Array[Byte] =
    Gzip.encode(text.getBytes("UTF-8"), mtime = docId, os = 3,
      fname = if (docId % 3 == 0) Some(s"doc_$docId.txt") else None,
      extra = if (docId % 5 == 0)
        Some(Array[Byte]('G', 'R', 2, 0)) else None,
      withHcrc = docId % 7 == 0)

  /** documents.text → real gzip member → full parse + inflate + CRC
    * verify → exact metadata incl. the inflated payload's md5. Map-side
    * only (one `mapPartitions`), scan-bandwidth at scale.
    */
  def gzipRoundTrip(df: DataFrame, idCol: String, textCol: String): Dataset[GzipMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        Gzip.decode(id, synthGzip(id, text))
      })
  }

  // ========================================================================
  // WARC/1.0 — ISO 28500
  // ========================================================================

  /** One parsed WARC record: named header fields, the embedded HTTP
    * status, and the body digest (md5 over exactly Content-Length-framed
    * body bytes — the only correct way to slice a WARC stream; scanning
    * for the next "WARC/1.0" would mis-split any body containing that
    * string).
    */
  case class WarcRecord(doc_id: Long, warc_type: String, target_uri: String,
      content_length: Long, n_headers: Long, http_status: Long,
      body_bytes: Long, body_md5: String)

  object Warc {
    private val Crlf = "\r\n"

    /** Serialize one response record (WARC header block + HTTP response
      * block, Content-Length framing both).
      */
    def encodeRecord(docId: Long, uri: String, status: Int,
        body: Array[Byte]): Array[Byte] = {
      val statusLine = status match {
        case 200 => "HTTP/1.1 200 OK"
        case 404 => "HTTP/1.1 404 Not Found"
        case s => s"HTTP/1.1 $s Status"
      }
      val http = (statusLine + Crlf +
        "Content-Type: text/plain" + Crlf +
        s"Content-Length: ${body.length}" + Crlf + Crlf).getBytes("US-ASCII") ++ body
      val hdr = ("WARC/1.0" + Crlf +
        "WARC-Type: response" + Crlf +
        s"WARC-Record-ID: <urn:graft:doc-$docId>" + Crlf +
        s"WARC-Target-URI: $uri" + Crlf +
        "WARC-Date: 2026-01-01T00:00:00Z" + Crlf +
        "Content-Type: application/http; msgtype=response" + Crlf +
        s"Content-Length: ${http.length}" + Crlf + Crlf).getBytes("US-ASCII")
      hdr ++ http ++ (Crlf + Crlf).getBytes("US-ASCII")
    }

    /** Split a concatenated WARC file into records and parse each:
      * version line, header block to the blank line, then EXACTLY
      * Content-Length body bytes, then the two-CRLF record separator.
      * The embedded HTTP response is parsed the same way (status line +
      * headers + Content-Length-framed body). Bounded allocations; all
      * failures are doc-tagged IllegalArgumentException (NonFatal).
      */
    def parseFile(groupId: Long, bytes: Array[Byte]): Seq[WarcRecord] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
      var p = 0
      def findCrlfCrlf(from: Int): Int = {
        var i = from
        while (i + 3 < bytes.length) {
          if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
            bytes(i + 2) == '\r' && bytes(i + 3) == '\n') return i
          i += 1
        }
        -1
      }
      while (p < bytes.length) {
        val hdrEnd = findCrlfCrlf(p)
        require(hdrEnd >= 0, s"no header terminator after offset $p (group $groupId)")
        val headerBlock = new String(bytes, p, hdrEnd - p, "US-ASCII")
        val lines = headerBlock.split("\r\n", -1)
        require(lines.head == "WARC/1.0",
          s"bad WARC version line '${lines.head}' (group $groupId)")
        val fields = lines.tail.map { ln =>
          val i = ln.indexOf(':')
          require(i > 0, s"malformed header '$ln' (group $groupId)")
          ln.substring(0, i) -> ln.substring(i + 1).trim
        }.toMap
        val clen = fields.getOrElse("Content-Length",
          throw new IllegalArgumentException(s"missing Content-Length (group $groupId)")).toLong
        require(clen >= 0 && clen <= bytes.length, s"bad Content-Length $clen (group $groupId)")
        val bodyStart = hdrEnd + 4
        require(bodyStart + clen + 4 <= bytes.length,
          s"record body truncated (group $groupId)")
        val recId = fields.getOrElse("WARC-Record-ID", "")
        val docId = {
          val m = "<urn:graft:doc-(\\d+)>".r.findFirstMatchIn(recId)
          require(m.isDefined, s"unparseable record id '$recId' (group $groupId)")
          m.get.group(1).toLong
        }
        // embedded HTTP response, Content-Length-framed again
        val httpEnd = bodyStart + clen.toInt
        val httpHdrEnd = findCrlfCrlf(bodyStart)
        require(httpHdrEnd >= 0 && httpHdrEnd < httpEnd,
          s"no HTTP header terminator (doc $docId)")
        val httpLines = new String(bytes, bodyStart, httpHdrEnd - bodyStart,
          "US-ASCII").split("\r\n", -1)
        val statusParts = httpLines.head.split(" ", 3)
        require(statusParts.length >= 2 && statusParts(0).startsWith("HTTP/"),
          s"bad HTTP status line (doc $docId)")
        val status = statusParts(1).toLong
        val httpFields = httpLines.tail.map { ln =>
          val i = ln.indexOf(':')
          require(i > 0, s"malformed HTTP header '$ln' (doc $docId)")
          ln.substring(0, i) -> ln.substring(i + 1).trim
        }.toMap
        val bodyLen = httpFields.getOrElse("Content-Length",
          throw new IllegalArgumentException(s"missing HTTP Content-Length (doc $docId)")).toInt
        val httpBodyStart = httpHdrEnd + 4
        require(httpBodyStart + bodyLen == httpEnd,
          s"HTTP body length ${bodyLen} disagrees with record framing (doc $docId)")
        val md5 = java.security.MessageDigest.getInstance("MD5")
        md5.update(bytes, httpBodyStart, bodyLen)
        val bodyMd5 = md5.digest().map(b => f"${b & 0xff}%02x").mkString
        out += WarcRecord(docId, fields.getOrElse("WARC-Type", ""),
          fields.getOrElse("WARC-Target-URI", ""), clen,
          (lines.length - 1).toLong, status, bodyLen.toLong, bodyMd5)
        // record separator: two CRLFs after the body
        require(bytes(httpEnd) == '\r' && bytes(httpEnd + 1) == '\n' &&
          bytes(httpEnd + 2) == '\r' && bytes(httpEnd + 3) == '\n',
          s"missing record separator (doc $docId)")
        p = httpEnd + 4
      }
      out.toSeq
    }
  }

  /** Doc-keyed WARC synth: uri from the doc's source, ids % 10 == 7 are
    * 404s with empty bodies (the parser must trust Content-Length, not
    * content), everything else a 200 carrying the REAL document text.
    */
  def synthWarcUri(docId: Long, source: String): String =
    s"https://$source.example.com/doc/$docId"

  /** documents → grouped concatenated WARC files (8 records per file,
    * the multi-record framing a real crawl segment has) → split + parse
    * every record → per-record exact metadata. The groupBy models
    * crawl-segment file boundaries; at 100 TB the input IS files, so the
    * production shape is a binaryFile scan followed by the same
    * flatMap — one shuffle here only to BUILD the fixture, none to
    * parse it.
    */
  def warcExtract(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): Dataset[WarcRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"),
        col(srcCol).cast("string"))
      .as[(Long, String, String)]
      .groupByKey(_._1 / 8)
      .mapGroups { (gid, it) =>
        val recs = it.toSeq.sortBy(_._1).map { case (id, text, src) =>
          val status = if (id % 10 == 7) 404 else 200
          val body = if (status == 404) Array.empty[Byte]
            else text.getBytes("UTF-8")
          Warc.encodeRecord(id, synthWarcUri(id, src), status, body)
        }
        (gid, recs.flatten.toArray)
      }
      .flatMap { case (gid, fileBytes) => Warc.parseFile(gid, fileBytes) }
  }

  // ========================================================================
  // TAR — POSIX ustar (the WebDataset shard format)
  // ========================================================================

  /** One parsed tar member. `checksum_ok` verifies the header's octal
    * checksum field (sum of header bytes with the checksum field
    * blanked — the spec's self-check most quick parsers skip);
    * `payload_md5` digests the member's exactly-size-framed bytes.
    */
  case class TarMember(doc_id: Long, name: String, size: Long,
      typeflag: String, checksum_ok: Boolean, payload_md5: String)

  object Tar {
    private val Block = 512

    private def octal(v: Long, width: Int): Array[Byte] = {
      val s = java.lang.Long.toOctalString(v)
      val pad = "0" * (width - 1 - s.length) + s
      (pad + " ").getBytes("US-ASCII")
    }

    /** Serialize one ustar member (header block + zero-padded payload). */
    def encodeMember(name: String, typeflag: Char, payload: Array[Byte]): Array[Byte] = {
      val hdr = new Array[Byte](Block)
      def put(off: Int, bytes: Array[Byte]): Unit =
        System.arraycopy(bytes, 0, hdr, off, bytes.length)
      put(0, name.getBytes("US-ASCII"))
      put(100, octal(420, 8)) // mode 0644
      put(108, octal(0, 8)); put(116, octal(0, 8)) // uid/gid
      put(124, octal(payload.length.toLong, 12))
      put(136, octal(0, 12)) // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // checksum blanked
      hdr(156) = typeflag.toByte
      put(257, "ustar ".getBytes("US-ASCII"))
      put(263, "00".getBytes("US-ASCII"))
      val sum = hdr.map(_ & 0xff).sum.toLong
      put(148, (("%06o".format(sum)) + "  ").getBytes("US-ASCII"))
      val padded = (payload.length + Block - 1) / Block * Block
      hdr ++ payload ++ new Array[Byte](padded - payload.length)
    }

    /** Terminal: two zero blocks. */
    val Terminator: Array[Byte] = new Array[Byte](2 * Block)

    /** Walk a tar stream: per member, parse the NUL-terminated name, the
      * octal size, verify the header checksum (re-sum with the field
      * blanked), digest exactly `size` payload bytes, and advance by the
      * 512-rounded frame. Stops at the all-zero terminator block.
      */
    def parseArchive(groupId: Long, bytes: Array[Byte]): Seq[TarMember] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[TarMember]
      var p = 0
      def cstr(off: Int, max: Int): String = {
        var e = off
        while (e < off + max && bytes(e) != 0) e += 1
        new String(bytes, off, e - off, "US-ASCII")
      }
      while (p + Block <= bytes.length && !(bytes(p) == 0 && cstr(p, 100).isEmpty)) {
        val name = cstr(p, 100)
        val sizeStr = cstr(p + 124, 12).trim
        require(sizeStr.nonEmpty && sizeStr.forall(c => c >= '0' && c <= '7'),
          s"bad octal size '$sizeStr' in '$name' (group $groupId)")
        val size = java.lang.Long.parseLong(sizeStr, 8)
        require(size >= 0 && p + Block + size <= bytes.length,
          s"member '$name' overruns archive (group $groupId)")
        val storedSum = java.lang.Long.parseLong(cstr(p + 148, 8).trim, 8)
        var sum = 0L
        var i = 0
        while (i < Block) {
          sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(p + i) & 0xff)
          i += 1
        }
        val typeflag = (bytes(p + 156) & 0xff).toChar.toString
        val md5 = java.security.MessageDigest.getInstance("MD5")
        md5.update(bytes, p + Block, size.toInt)
        val docId = {
          val m = "doc_(\\d+)\\.".r.findFirstMatchIn(name)
          require(m.isDefined, s"unparseable member name '$name' (group $groupId)")
          m.get.group(1).toLong
        }
        out += TarMember(docId, name, size, typeflag, sum == storedSum,
          md5.digest().map(b => f"${b & 0xff}%02x").mkString)
        p += Block + ((size + Block - 1) / Block * Block).toInt
      }
      out.toSeq
    }
  }

  /** documents → grouped tar shards (8 members per shard, the
    * WebDataset shape) → REAL ustar walk: names, octal sizes, header
    * checksums, size-framed payload digests. Like [[warcExtract]], the
    * groupBy exists only to build the fixture; production reads shard
    * FILES and the parse itself is a map-side flatMap.
    */
  def tarExtract(df: DataFrame, idCol: String, textCol: String): Dataset[TarMember] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .groupByKey(_._1 / 8)
      .mapGroups { (gid, it) =>
        val members = it.toSeq.sortBy(_._1).map { case (id, text) =>
          Tar.encodeMember(s"shard/doc_$id.txt", '0', text.getBytes("UTF-8"))
        }
        (gid, (members.flatten ++ Tar.Terminator).toArray)
      }
      .flatMap { case (gid, bytes) => Tar.parseArchive(gid, bytes) }
  }

  /** Inflate a (possibly multi-member) gzip stream to raw bytes —
    * RFC 1952 §2.2 allows concatenated members and `gzip`/`cat` produce
    * them routinely, so a shard reader that stops at the first trailer
    * silently truncates. Reuses the single-member parser: decode one
    * member, find where its DEFLATE stream ended via the Inflater's
    * consumed-byte count, continue at the next member boundary.
    */
  private[operators] def gunzipAll(id: Long, bytes: Array[Byte],
      maxBytes: Int = 1 << 26): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length * 3)
    var p = 0
    while (p < bytes.length) {
      require(bytes.length - p >= 18, s"trailing garbage after member (doc $id)")
      // parse header fields to find the DEFLATE start (same walk as decode)
      val flg = bytes(p + 3) & 0xff
      var q = p + 10
      if ((flg & 4) != 0) {
        val n = (bytes(q) & 0xff) | ((bytes(q + 1) & 0xff) << 8); q += 2 + n
      }
      if ((flg & 8) != 0) { val z = bytes.indexOf(0.toByte, q); require(z >= 0, s"doc $id"); q = z + 1 }
      if ((flg & 16) != 0) { val z = bytes.indexOf(0.toByte, q); require(z >= 0, s"doc $id"); q = z + 1 }
      if ((flg & 2) != 0) q += 2
      val inf = new Inflater(true)
      inf.setInput(bytes, q, bytes.length - q - 8)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0) require(inf.finished(), s"truncated member (doc $id)")
          else { out.write(buf, 0, n); require(out.size() <= maxBytes, s"cap (doc $id)") }
        }
        p = q + inf.getBytesRead.toInt + 8 // trailer: CRC32 + ISIZE
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"corrupt member (doc $id): ${e.getMessage}")
      } finally inf.end()
    }
    out.toByteArray
  }

  /** PRODUCTION tar-shard source: a `binaryFile` scan over a shard
    * directory, one task per shard, flatMapped through the real ustar
    * walk — the WebDataset ingestion path with no fixture groupBy.
    * Shards may be plain `.tar` or gzip-compressed `.tar.gz` (detected
    * by magic, multi-member streams handled — the actual WebDataset
    * wire format). At 100 TB this is the whole plan: shard files are
    * the parallelism unit (thousands of multi-hundred-MB shards spread
    * across executors), the walk is sequential WITHIN a shard by
    * design (that's the format's contract), and nothing shuffles until
    * a downstream operator asks for it.
    */
  def readTarShards(spark: org.apache.spark.sql.SparkSession,
      dir: String): Dataset[TarMember] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // group id = stable hash of the shard path, for error tags
        val gid = path.hashCode.toLong
        val tar =
          if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
            (bytes(1) & 0xff) == 0x8b) gunzipAll(gid, bytes)
          else bytes
        Tar.parseArchive(gid, tar)
      }
  }

  // ========================================================================
  // ZIP — central-directory walk (PKWARE APPNOTE)
  // ========================================================================

  /** One parsed zip entry, read via the CENTRAL DIRECTORY (the correct
    * path — local headers may lag behind data-descriptor writers).
    * `crc_ok` recomputes CRC32 over the extracted payload; `stored`
    * distinguishes method 0 from method 8 (raw deflate via the JDK,
    * same line as gzip/PNG).
    */
  case class ZipEntry(doc_id: Long, name: String, method: Long,
      comp_size: Long, uncomp_size: Long, crc_ok: Boolean, payload_md5: String)

  object Zip {
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

    /** Build an archive: local headers + payloads, central directory,
      * end-of-central-directory. Method 0 (stored) or 8 (deflate).
      */
    def encode(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val central = new java.io.ByteArrayOutputStream()
      var count = 0
      entries.foreach { case (name, payload, deflate) =>
        val nameB = name.getBytes("US-ASCII")
        val crc = new CRC32; crc.update(payload)
        val data = if (deflate) {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(payload); d.finish()
          val buf = new Array[Byte](8192)
          val b = new java.io.ByteArrayOutputStream()
          while (!d.finished()) b.write(buf, 0, d.deflate(buf))
          d.end(); b.toByteArray
        } else payload
        val method = if (deflate) 8 else 0
        val offset = out.size()
        // local file header
        out.write(le32(0x04034b50L), 0, 4)
        out.write(le16(20), 0, 2); out.write(le16(0), 0, 2)
        out.write(le16(method), 0, 2)
        out.write(le16(0), 0, 2); out.write(le16(0), 0, 2) // time/date
        out.write(le32(crc.getValue), 0, 4)
        out.write(le32(data.length.toLong), 0, 4)
        out.write(le32(payload.length.toLong), 0, 4)
        out.write(le16(nameB.length), 0, 2); out.write(le16(0), 0, 2)
        out.write(nameB, 0, nameB.length)
        out.write(data, 0, data.length)
        // central directory record
        central.write(le32(0x02014b50L), 0, 4)
        central.write(le16(20), 0, 2); central.write(le16(20), 0, 2)
        central.write(le16(0), 0, 2); central.write(le16(method), 0, 2)
        central.write(le16(0), 0, 2); central.write(le16(0), 0, 2)
        central.write(le32(crc.getValue), 0, 4)
        central.write(le32(data.length.toLong), 0, 4)
        central.write(le32(payload.length.toLong), 0, 4)
        central.write(le16(nameB.length), 0, 2)
        central.write(le16(0), 0, 2); central.write(le16(0), 0, 2)
        central.write(le16(0), 0, 2); central.write(le16(0), 0, 2)
        central.write(le32(0L), 0, 4)
        central.write(le32(offset.toLong), 0, 4)
        central.write(nameB, 0, nameB.length)
        count += 1
      }
      val cdOff = out.size()
      val cd = central.toByteArray
      out.write(cd, 0, cd.length)
      // EOCD
      out.write(le32(0x06054b50L), 0, 4)
      out.write(le16(0), 0, 2); out.write(le16(0), 0, 2)
      out.write(le16(count), 0, 2); out.write(le16(count), 0, 2)
      out.write(le32(cd.length.toLong), 0, 4)
      out.write(le32(cdOff.toLong), 0, 4)
      out.write(le16(0), 0, 2)
      out.toByteArray
    }

    /** Decode via EOCD → central directory → local headers → payload
      * (stored copied, deflated inflated with a size cap), CRC32
      * verified per entry. The EOCD is found by scanning BACKWARD for
      * its signature (the spec's method — a trailing comment makes a
      * fixed offset wrong).
      */
    def decode(groupId: Long, bytes: Array[Byte],
        maxBytes: Int = 1 << 26): Seq[ZipEntry] = {
      def u16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
      def u32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      var eocd = bytes.length - 22
      while (eocd >= 0 && u32(eocd) != 0x06054b50L) eocd -= 1
      require(eocd >= 0, s"no end-of-central-directory (group $groupId)")
      val n = u16(eocd + 10)
      var p = u32(eocd + 16).toInt
      val out = scala.collection.mutable.ArrayBuffer.empty[ZipEntry]
      (0 until n).foreach { _ =>
        require(u32(p) == 0x02014b50L, s"bad central-directory signature (group $groupId)")
        val method = u16(p + 10)
        val crcStored = u32(p + 16)
        val compSize = u32(p + 20)
        val uncompSize = u32(p + 24)
        val nameLen = u16(p + 28)
        val extraLen = u16(p + 30)
        val commentLen = u16(p + 32)
        val lho = u32(p + 42).toInt
        val name = new String(bytes, p + 46, nameLen, "US-ASCII")
        require(uncompSize <= maxBytes,
          s"entry '$name' declares $uncompSize bytes past cap (group $groupId)")
        // local header: skip its (possibly different) name/extra lengths
        require(u32(lho) == 0x04034b50L, s"bad local header for '$name' (group $groupId)")
        val dataOff = lho + 30 + u16(lho + 26) + u16(lho + 28)
        require(dataOff + compSize <= bytes.length,
          s"entry '$name' data overruns archive (group $groupId)")
        val payload: Array[Byte] = method match {
          case 0 =>
            require(compSize == uncompSize, s"stored sizes disagree for '$name'")
            java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + compSize.toInt)
          case 8 =>
            val inf = new Inflater(true)
            inf.setInput(bytes, dataOff, compSize.toInt)
            val b = new java.io.ByteArrayOutputStream(uncompSize.toInt + 16)
            val buf = new Array[Byte](8192)
            try {
              while (!inf.finished()) {
                val k = inf.inflate(buf)
                if (k == 0) require(inf.finished(), s"truncated deflate in '$name'")
                else { b.write(buf, 0, k); require(b.size() <= maxBytes, "cap") }
              }
            } catch {
              case e: java.util.zip.DataFormatException =>
                throw new IllegalArgumentException(s"corrupt deflate in '$name': ${e.getMessage}")
            } finally inf.end()
            b.toByteArray
          case m => throw new IllegalArgumentException(s"unsupported method $m for '$name'")
        }
        require(payload.length.toLong == uncompSize,
          s"inflated size mismatch for '$name' (group $groupId)")
        val crc = new CRC32; crc.update(payload)
        val docId = {
          val m = "doc_(\\d+)\\.".r.findFirstMatchIn(name)
          require(m.isDefined, s"unparseable entry name '$name' (group $groupId)")
          m.get.group(1).toLong
        }
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(payload).map(b => f"${b & 0xff}%02x").mkString
        out += ZipEntry(docId, name, method.toLong, compSize, uncompSize,
          crc.getValue == crcStored, md5)
        p += 46 + nameLen + extraLen + commentLen
      }
      out.toSeq
    }
  }

  /** documents → grouped zip archives (8 entries each; even ids stored,
    * odd ids deflated) → REAL central-directory decode with per-entry
    * CRC verification. comp_size for deflated entries depends on the
    * compressor and is NOT part of the oracle contract — the query
    * projects it away; uncomp_size, method, and the payload digest are
    * exact.
    */
  def zipExtract(df: DataFrame, idCol: String, textCol: String): Dataset[ZipEntry] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .groupByKey(_._1 / 8)
      .mapGroups { (gid, it) =>
        val entries = it.toSeq.sortBy(_._1).map { case (id, text) =>
          (s"doc_$id.txt", text.getBytes("UTF-8"), id % 2 == 1)
        }
        (gid, Zip.encode(entries))
      }
      .flatMap { case (gid, bytes) => Zip.decode(gid, bytes) }
  }

  // ========================================================================
  // UTF-8 validation + repair
  // ========================================================================

  /** Encoding-repair result: `n_invalid` counts malformed-sequence
    * EVENTS (not bytes), `repaired_md5` digests the repaired text's
    * UTF-8 bytes — each malformed sequence replaced by exactly one
    * U+FFFD, the W3C/WHATWG policy every production decoder follows.
    */
  case class Utf8Meta(doc_id: Long, n_bytes: Long, n_invalid: Long,
      valid: Boolean, repaired_md5: String)

  object Utf8 {
    import java.nio.charset.{CodingErrorAction, StandardCharsets}
    import java.nio.{ByteBuffer, CharBuffer}

    /** Decode with REPORT-mode error handling and replace each
      * malformed/unmappable sequence with ONE U+FFFD, counting events —
      * REPLACE mode would hide the count, and counting U+FFFD in the
      * output would miscount documents that legitimately contain it.
      */
    def repair(bytes: Array[Byte]): (String, Int) = {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val in = ByteBuffer.wrap(bytes)
      val out = CharBuffer.allocate(bytes.length + 2)
      val sb = new StringBuilder
      var events = 0
      var done = false
      while (!done) {
        val r = dec.decode(in, out, true)
        if (r.isMalformed || r.isUnmappable) {
          out.flip(); sb.append(out); out.clear()
          sb.append('�')
          events += 1
          in.position(in.position() + r.length())
        } else if (r.isOverflow) {
          out.flip(); sb.append(out); out.clear()
        } else { // underflow: input fully consumed
          done = true
        }
      }
      var flushed = false
      while (!flushed) {
        val r = dec.flush(out)
        out.flip(); sb.append(out); out.clear()
        if (!r.isOverflow) flushed = true
      }
      (sb.toString, events)
    }
  }

  /** Doc-keyed corruption synth: UTF-8 of the real text, plus a lone
    * continuation byte (0x80) on ids % 3 == 0 and a truncated two-byte
    * lead (0xC3 at end-of-input) on ids % 4 == 0 — the two malformed
    * shapes a crawler sees most (mid-stream mojibake and records cut at
    * a byte boundary).
    */
  def synthCorruptUtf8(docId: Long, text: String): Array[Byte] = {
    val base = text.getBytes("UTF-8")
    val tail = Array.empty[Byte] ++
      (if (docId % 3 == 0) Array(0x80.toByte) else Array.empty[Byte]) ++
      (if (docId % 4 == 0) Array(0xc3.toByte) else Array.empty[Byte])
    base ++ tail
  }

  /** documents.text → corrupted byte column → REAL validate + repair →
    * exact repair metadata (the oracle reconstructs the repaired string
    * with chr(65533) and digest-matches it). Map-side only.
    */
  def utf8Sanitize(df: DataFrame, idCol: String, textCol: String): Dataset[Utf8Meta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = synthCorruptUtf8(id, text)
        val (repaired, events) = Utf8.repair(bytes)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(repaired.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        Utf8Meta(id, bytes.length.toLong, events.toLong, events == 0, md5)
      })
  }
}
