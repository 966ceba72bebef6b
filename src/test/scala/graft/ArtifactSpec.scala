package graft

import graft.operators.{TokenizerArtifact, UnigramLm}
import graft.operators.UnigramLm.Piece
import graft.streaming.VersionedLedger

/** Gates for the versioned tokenizer-artifact interface (round 15):
  * byte-identical re-export, lossless parse round trips, digest
  * correctness, the two-phase commit's crash window, and version GC.
  * The cross-engine serialization contract itself is oracle-pinned by
  * q221/q222; this spec owns the artifact lifecycle.
  */
class ArtifactSpec extends SparkSpec {

  private val uniVocab = Seq(Piece("b", 7, -120000L), Piece("a", 9, -100000L),
    Piece("ab", 5, -150000L), Piece("<0x00>", 0, -20000000L))
  private val merges = Seq("t" -> "h", "th" -> "e", "Ġ" -> "t")
  private val wpVocab = Seq("a", "b", "##a", "##b", "ab", "##ab")

  test("serialization is deterministic and byte-identical on re-export") {
    val c1 = TokenizerArtifact.serializeUnigram(uniVocab)
    val c2 = TokenizerArtifact.serializeUnigram(uniVocab.reverse)
    assert(c1 == c2, "entry order in memory must not leak into the bytes")
    assert(c1.startsWith("graft-tokenizer\tv2\tunigram\t4\t4\n" +
      "special\t0\tpad\t[PAD]\nspecial\t1\tunk\t[UNK]\n" +
      "special\t2\tbos\t[BOS]\nspecial\t3\teos\t[EOS]\n"))
    assert(c1.endsWith("\n"))
    // canonical piece-ascending order (skip header + 4 specials)
    val lines = c1.dropRight(1).split('\n').drop(5)
    assert(lines.map(_.split('\t')(0)).toSeq == lines.map(_.split('\t')(0)).sorted.toSeq)
    assert(TokenizerArtifact.serializeMerges(merges) ==
      TokenizerArtifact.serializeMerges(merges))
  }

  test("parse is the exact inverse of serialize, all three families") {
    assert(TokenizerArtifact.parseUnigram(
      TokenizerArtifact.serializeUnigram(uniVocab)) == uniVocab.sortBy(_.piece))
    assert(TokenizerArtifact.parseMerges(
      TokenizerArtifact.serializeMerges(merges)) == merges)
    assert(TokenizerArtifact.parseWordPiece(
      TokenizerArtifact.serializeWordPiece(wpVocab)) == wpVocab)
    // a second serialize of the parse is byte-identical (full round trip)
    val c = TokenizerArtifact.serializeUnigram(uniVocab)
    assert(TokenizerArtifact.serializeUnigram(
      TokenizerArtifact.parseUnigram(c)) == c)
  }

  test("family detection and cross-family parse rejection") {
    val c = TokenizerArtifact.serializeMerges(merges)
    assert(TokenizerArtifact.family(c) == "bytebpe")
    intercept[IllegalArgumentException] {
      TokenizerArtifact.parseUnigram(c)
    }
    intercept[IllegalArgumentException] {
      TokenizerArtifact.parseUnigram("not an artifact\n")
    }
  }

  test("a v1 artifact fails with an explicit migration error, not 'bad header' (r16 ADVICE)") {
    // the pre-registry v1 header had 4 fields (no k); a deployment still
    // pointing at one must be told the remedy — retrain/recommit — not
    // handed a generic require failure
    val v1 = "graft-tokenizer\tv1\tunigram\t1\n" + "a\t9\t-100000\n"
    val e = intercept[IllegalArgumentException] {
      TokenizerArtifact.family(v1)
    }
    assert(e.getMessage.contains("unsupported artifact version 'v1'"))
    assert(e.getMessage.contains("recommit"))
    // anything else malformed still gets the generic fence
    intercept[IllegalArgumentException] {
      TokenizerArtifact.family("graft-tokenizer\tv3\tunigram\t1\t0\n")
    }
  }

  test("digest is md5 of the exact UTF-8 bytes") {
    val c = TokenizerArtifact.serializeWordPiece(wpVocab)
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(c.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(TokenizerArtifact.digest(c) == want)
    // moving one byte moves the digest
    assert(TokenizerArtifact.digest(c + " ") != want)
  }

  test("commit/load round trip; versions bump; GC keeps current + previous") {
    SparkSpec.withTempDir("tok-art") { tmp =>
      val dir = s"$tmp/a"
      val c1 = TokenizerArtifact.serializeUnigram(uniVocab)
      assert(TokenizerArtifact.load(spark, dir).isEmpty)
      assert(TokenizerArtifact.commit(spark, dir, c1) == 0L)
      assert(TokenizerArtifact.load(spark, dir).contains(c1))
      val c2 = TokenizerArtifact.serializeMerges(merges)
      assert(TokenizerArtifact.commit(spark, dir, c2) == 1L)
      assert(TokenizerArtifact.commit(spark, dir, c1) == 2L)
      assert(TokenizerArtifact.load(spark, dir).contains(c1))
      val vdirs = new java.io.File(dir).listFiles()
        .map(_.getName).filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      assert(vdirs.sorted.toSeq == Seq("v1", "v2"), s"GC left ${vdirs.toSeq}")
    }
  }

  test("a writer killed between snapshot write and pointer swap leaves readers on the old version") {
    SparkSpec.withTempDir("tok-art-crash") { tmp =>
      val dir = s"$tmp/a"
      val c1 = TokenizerArtifact.serializeUnigram(uniVocab)
      TokenizerArtifact.commit(spark, dir, c1)
      // simulate the crash: orphan v1 snapshot, pointer still at 0
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v1"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/v1/tokenizer.txt"), "garbage half-write")
      assert(VersionedLedger.currentVersion(spark, dir).contains(0L))
      assert(TokenizerArtifact.load(spark, dir).contains(c1))
      // the recovered writer simply rewrites v1 and swaps — standard commit
      val c2 = TokenizerArtifact.serializeMerges(merges)
      assert(TokenizerArtifact.commit(spark, dir, c2) == 1L)
      assert(TokenizerArtifact.load(spark, dir).contains(c2))
    }
  }

  test("malformed artifacts are refused at commit time") {
    SparkSpec.withTempDir("tok-art-bad") { tmp =>
      val dir = s"$tmp/a"
      intercept[IllegalArgumentException] {
        TokenizerArtifact.commit(spark, dir, "free-form text\n")
      }
      assert(TokenizerArtifact.load(spark, dir).isEmpty)
    }
  }

  test("pieces that would break the line format are refused at serialize time") {
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeUnigram(Seq(Piece("a\tb", 1, -1L)))
    }
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeWordPiece(Seq("ok", "bad\npiece"))
    }
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeUnigram(
        Seq(Piece("a", 1, -1L), Piece("a", 2, -2L))) // duplicate piece
    }
    // round-16 advice: a space would serialize cleanly but make the
    // space-joined pieces_md5 digests ambiguous — refused like tab/LF
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeUnigram(Seq(Piece("a b", 1, -1L)))
    }
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeMerges(Seq(("a", "b c")))
    }
  }

  test("canonical unigram order is code-point (UTF-8 byte) order, not UTF-16") {
    // round-16 advice: DuckDB's ORDER BY piece compares UTF-8 bytes.
    // Java String natural order compares UTF-16 code units, where the
    // astral-plane emoji (U+1F602, surrogates D83D DE02) sorts BELOW a
    // private-use BMP piece (U+E000) — the wrong order. Code-point order
    // puts U+E000 first, matching UTF-8 byte order.
    val emoji = new String(Character.toChars(0x1F602)) // 😂
    val pua = "\uE000"
    val vocab = Seq(Piece(emoji, 1, -1L), Piece(pua, 2, -2L), Piece("z", 3, -3L))
    val c = TokenizerArtifact.serializeUnigram(vocab)
    val order = c.dropRight(1).split('\n').drop(5).map(_.split('\t')(0)).toSeq
    assert(order == Seq("z", pua, emoji),
      s"expected code-point order, got ${order.map(_.codePoints.toArray.toSeq)}")
    // and it really is UTF-8 byte order
    val byByte = vocab.map(_.piece).sortBy(_.getBytes("UTF-8").map(b => b & 0xff).toSeq)(
      math.Ordering.Implicits.seqOrdering)
    assert(order == byByte)
    // while UTF-16 natural order would have disagreed
    assert(vocab.map(_.piece).sorted != byByte,
      "fixture must actually distinguish the two orders")
  }

  test("v2 special-token registry: explicit ids, role lookup, round trip, collision fence") {
    val c = TokenizerArtifact.serializeWordPiece(wpVocab)
    // ids are explicit in the bytes and dense from 0
    assert(TokenizerArtifact.specialTokens(c) == Seq(
      (0L, "pad", "[PAD]"), (1L, "unk", "[UNK]"),
      (2L, "bos", "[BOS]"), (3L, "eos", "[EOS]")))
    assert(TokenizerArtifact.specialToken(c, "unk") == "[UNK]")
    intercept[IllegalArgumentException] {
      TokenizerArtifact.specialToken(c, "cls") // not registered
    }
    // parse skips the registry and still round-trips the entries
    assert(TokenizerArtifact.parseWordPiece(c) == wpVocab)
    // a trained piece colliding with a registered special is refused —
    // its id would be ambiguous
    intercept[IllegalArgumentException] {
      TokenizerArtifact.serializeWordPiece(wpVocab :+ "[UNK]")
    }
    // a custom registry serializes and reads back
    val c2 = TokenizerArtifact.serializeMerges(merges,
      specials = Seq("unk" -> "<unk>"))
    assert(TokenizerArtifact.specialTokens(c2) == Seq((0L, "unk", "<unk>")))
    assert(TokenizerArtifact.parseMerges(c2) == merges)
  }

  test("linear family: weight vectors round-trip byte-identically") {
    val w = Seq(0L, -134883L, 123037L, 46L)
    val c = TokenizerArtifact.serializeLinear(w)
    assert(TokenizerArtifact.family(c) == "linear")
    assert(TokenizerArtifact.specialTokens(c).isEmpty)
    assert(TokenizerArtifact.parseLinear(c) == w)
    assert(TokenizerArtifact.serializeLinear(
      TokenizerArtifact.parseLinear(c)) == c)
    // bucket-gap / cross-family parses are refused
    intercept[IllegalArgumentException] {
      TokenizerArtifact.parseLinear(TokenizerArtifact.serializeMerges(merges))
    }
  }

  test("applying from a parsed artifact equals applying from the in-memory vocab") {
    import spark.implicits._
    val docs = Seq((0L, "ab a b"), (1L, "ba ab")).toDF("doc_id", "text")
    val direct = UnigramLm.apply(docs, "doc_id", "text",
      uniVocab.filterNot(_.piece.startsWith("<0x")), 3).orderBy("doc_id").collect()
    val parsed = TokenizerArtifact.parseUnigram(
      TokenizerArtifact.serializeUnigram(
        uniVocab.filterNot(_.piece.startsWith("<0x"))))
    val viaArtifact = UnigramLm.apply(docs, "doc_id", "text", parsed, 3)
      .orderBy("doc_id").collect()
    assert(direct.toSeq == viaArtifact.toSeq)
  }

  test("artifactScope: injective on short dirs, bounded + distinct on long ones") {
    def component(scope: String): String = scope.split('/').last
    // short dirs: the readable injective encoding, verbatim
    val a = Queries.artifactScope("t", "/data/sf0.01")
    val b = Queries.artifactScope("t", "/data/sf0.1")
    assert(a != b)
    assert(component(a) == "_x002fdata_x002fsf0.01")
    // a path long enough that the 6x-expanding escape would blow the
    // 255-byte filename-component limit: the digest form kicks in
    val long1 = "/" + ("dir ü/" * 12) + "x"
    val long2 = "/" + ("dir ü/" * 12) + "y"
    val c1 = component(Queries.artifactScope("t", long1))
    val c2 = component(Queries.artifactScope("t", long2))
    assert(c1.length <= 255 && c2.length <= 255)
    assert(c1 != c2, "distinct long dirs must keep distinct scopes")
    // deterministic: same dir, same scope
    assert(Queries.artifactScope("t", long1)
      == Queries.artifactScope("t", long1))
  }
}
