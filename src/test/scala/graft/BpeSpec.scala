package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainPrep

/** Gate for the BPE apply face and the distributed byte-level BPE
  * trainer: tokenization must equal, token for token, what the textbook
  * single-machine algorithm produces, and the learned merge list must
  * equal it merge for merge (word-freq table; count adjacent symbol
  * pairs weighted by frequency; merge the most frequent, ties broken
  * lexicographically; repeat). The trainer loop is not SQL-expressible,
  * so THIS is its oracle; the per-round pair-count building block is
  * oracle-checked as q152.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Textbook reference: in-memory BPE with the same determinism
    * contract (max by (count, then lexicographic (a, b) ascending),
    * greedy leftmost-first merge within a word). */
  private def referenceBpe(corpus: Seq[String], nMerges: Int)
      : Seq[(String, String, Long)] = {
    val wordFreq = corpus
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var syms: Map[Vector[String], Long] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
        .groupBy(_._1).map { case (k, vs) => k -> vs.values.sum }
    val out = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val counts = collection.mutable.Map[(String, String), Long]()
      for ((s, f) <- syms; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((a, b, c))
        def merge(s: Vector[String]): Vector[String] = {
          val buf = Vector.newBuilder[String]
          var k = 0
          while (k < s.length) {
            if (k < s.length - 1 && s(k) == a && s(k + 1) == b) {
              buf += a + b; k += 2
            } else { buf += s(k); k += 1 }
          }
          buf.result()
        }
        syms = syms.toSeq.map { case (s, f) => merge(s) -> f }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        i += 1
      }
    }
    out.result()
  }

  /** Textbook apply: run each trained merge over a word's symbol
    * sequence with the same greedy leftmost-first semantics the trainer
    * uses. */
  private def referenceApply(word: String,
      merges: Seq[(String, String)]): Vector[String] = {
    var s = word.map(_.toString).toVector :+ "</w>"
    for ((a, b) <- merges) {
      val buf = Vector.newBuilder[String]
      var k = 0
      while (k < s.length) {
        if (k < s.length - 1 && s(k) == a && s(k + 1) == b) { buf += a + b; k += 2 }
        else { buf += s(k); k += 1 }
      }
      s = buf.result()
    }
    s
  }

  test("bpeApply round-trip: trained merges tokenize token-for-token; detokenize restores the words") {
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest newest newest newest newest",
      "widest widest widest",
      "the quick brown fox jumps over the lazy dog",
      "she sells sea shells by the sea shore")
    // the merge list a textbook trainer learns on this corpus
    val merges = referenceBpe(corpus, 20).map { case (a, b, _) => (a, b) }
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TrainPrep.bpeApply(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id")).collect()
    corpus.zipWithIndex.foreach { case (text, i) =>
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      val expected = words.flatMap(referenceApply(_, merges))
      val gotToks = got(i).getSeq[String](4).toVector
      assert(gotToks == expected, s"doc $i tokens diverged:\n$gotToks\n$expected")
      assert(got(i).getLong(2) == expected.size)
      // detokenize identity: concatenated tokens split on the word-end
      // marker reproduce the original word sequence exactly
      val rebuilt = gotToks.mkString("").split("</w>", -1).filter(_.nonEmpty).toVector
      assert(rebuilt == words, s"doc $i detokenize diverged")
    }
    // the trained merges must actually bite (multi-token compression)
    val totalToks = got.map(_.getLong(2)).sum
    val totalChars = corpus.map(_.toLowerCase.count(!_.isWhitespace)).sum
    assert(totalToks < totalChars, "apply produced no compression")
  }

  // ======================= byte-level BPE (round 13) =======================

  /** Reference pre-tokenizer: the TRUE GPT-2 pattern — WITH the
    * `(?!\S)` lookahead, which Java regex supports (round 14: the spec
    * now checks the lookahead-free pattern + post-pass against the
    * real thing, not against a re-implementation of the post-pass). */
  private def refPreTokens(text: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(TrainPrep.gpt2TruePattern)
      .matcher(text)
    val raw = collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) raw += m.group()
    raw.toSeq
  }

  private def refByteChars(tok: String): Seq[String] =
    tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => TrainPrep.gpt2ByteToUnicode(b & 0xFF)).toSeq

  /** Textbook byte-level reference trainer: pre-token frequencies,
    * byte-char symbols, no end-of-word marker, same tie rules. */
  private def referenceByteBpe(corpus: Seq[String], nMerges: Int)
      : Seq[(String, String, Long)] = {
    val ptFreq = corpus.flatMap(refPreTokens)
      .groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
    var syms: Map[Vector[String], Long] =
      ptFreq.map { case (p, f) => refByteChars(p).toVector -> f }
        .groupBy(_._1).map { case (k, vs) => k -> vs.values.sum }
    val out = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val counts = collection.mutable.Map[(String, String), Long]()
      for ((s, f) <- syms; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((a, b, c))
        def merge(s: Vector[String]): Vector[String] = {
          val buf = Vector.newBuilder[String]
          var k = 0
          while (k < s.length) {
            if (k < s.length - 1 && s(k) == a && s(k + 1) == b) {
              buf += a + b; k += 2
            } else { buf += s(k); k += 1 }
          }
          buf.result()
        }
        syms = syms.toSeq.map { case (s, f) => merge(s) -> f }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        i += 1
      }
    }
    out.result()
  }

  test("gpt2PreTokens: hand cases — spacing, contractions, multi-byte, variant corner") {
    val cases = Seq(
      "Hello world", "a  bb", "don't stop", "x  ", " 'tis", "",
      "tab\there new\nline", "naïve café 🙂 €9", "UPPER lower 42x",
      // round 14 — the classes the advisor flagged + the fidelity fix:
      "a  's",        // space run before a contraction (reproduced deviation)
      "x  'styx",     // donated-space contraction fusing a bare letter run
      "a\t\tb",       // non-space run: split, NO donation
      "a\tb",         // single non-space ws char stands alone
      "w \t's",       // run ending in tab before a contraction
      "a  'd's ok",   // contraction chain after a donated space
      "vtx   y") // \x0B — the Java-\s vs RE2-\s byte
    val got = cases.toDF("text")
      .select(TrainPrep.gpt2PreTokens(col("text")))
      .as[Seq[String]].collect()
    cases.zip(got).foreach { case (txt, g) =>
      assert(g == refPreTokens(txt), s"'$txt': $g != ${refPreTokens(txt)}")
      assert(g.mkString("") == txt, s"'$txt' does not reassemble") // lossless
    }
    // pinned expectations, not just reference agreement (refPreTokens IS
    // the true lookahead pattern, so these pin true GPT-2 behavior)
    assert(refPreTokens("Hello world") == Seq("Hello", " world"))
    assert(refPreTokens("a  bb") == Seq("a", " ", " bb"))      // run donates last space
    assert(refPreTokens("don't stop") == Seq("don", "'t", " stop"))
    assert(refPreTokens("x  ") == Seq("x", "  "))              // trailing ws kept whole
    assert(refPreTokens(" 'tis") == Seq(" '", "tis"))          // punct branch beats ws; == true GPT-2
    assert(refPreTokens("UPPER lower 42x") ==
      Seq("UPPER", " lower", " 42", "x"))                      // no lowercasing; N/L split
    assert(refPreTokens("a  's") == Seq("a", " ", " '", "s"))  // NOT ("a", " ", " 's")
    assert(refPreTokens("x  'styx") == Seq("x", " ", " '", "styx")) // letters fuse
    assert(refPreTokens("a\t\tb") == Seq("a", "\t", "\t", "b")) // tab is never donated
    assert(refPreTokens("w \t's") == Seq("w", " ", "\t", "'s")) // contraction survives after tab
  }

  test("byteChars: identity bytes, shifted bytes, multi-byte code points") {
    val got = Seq("A", " ", "é", "🙂").toDF("t")
      .select(TrainPrep.byteChars(col("t"))).as[Seq[String]].collect()
    assert(got(0) == Seq("A"))
    assert(got(1) == Seq("Ġ")) // space byte 0x20 → Ġ (256+32)
    assert(got(2) == refByteChars("é") && got(2).length == 2)
    assert(got(3) == refByteChars("🙂") && got(3).length == 4)
    // table is a bijection over 256 byte values
    assert(TrainPrep.gpt2ByteToUnicode.distinct.length == 256)
  }

  test("byteBpeTrain matches the byte-level textbook reference, non-ASCII included") {
    val corpus = Seq(
      "the cat the hat", "naïve naïve café", "don't don't stop",
      "low lower 🙂 🙂 🙂")
    val merges = TrainPrep.byteBpeTrain(corpus.toDF("text"), "text", 12)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges == referenceByteBpe(corpus, 12),
      s"trained $merges\nref ${referenceByteBpe(corpus, 12)}")
  }

  test("byteBpePairCounts: the argmax IS the trainer's first merge (q210 contract)") {
    val corpus = Seq("the cat the hat", "naïve naïve café", "low low lower")
    val top = TrainPrep.byteBpePairCounts(corpus.toDF("text"), "text")
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()(0)
    val ref = referenceByteBpe(corpus, 1).head
    assert((top.getString(0), top.getString(1), top.getLong(2)) == ref)
    // and byteBpeTokenCount with NO merges counts exactly the UTF-8 bytes
    val n = corpus.toDF("text")
      .select(TrainPrep.byteBpeTokenCount(col("text"), Seq.empty))
      .as[Long].collect()
    corpus.zip(n).foreach { case (txt, c) =>
      assert(c == txt.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    }
  }

  test("byteBpeApply round-trips ANY text exactly — the property the word model lacks") {
    val texts = Seq(
      "Mixed CASE with  double  spaces",
      "unicode: naïve café über żółć 🙂🙃 €99",
      "punct…—brackets[]{}’quotes“”",
      "\ttabs\nand\nnewlines  ")
    val merges = TrainPrep.byteBpeTrain(texts.toDF("text"), "text", 8)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = TrainPrep.byteBpeApply(texts.toDF("doc_id").withColumn("text", col("doc_id")),
      "doc_id", "text", merges) // doc_id IS the text here
      .select(col("doc_id"), col("toks"))
      .as[(String, Seq[String])].collect().toMap
    texts.foreach { txt =>
      val toks = out(txt)
      val bytes = toks.flatMap(_.map(ch =>
        TrainPrep.gpt2UnicodeToByte(ch.toString).toByte))
      val back = new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8)
      assert(back == txt, s"round-trip failed for '$txt' -> '$back'")
    }
    // and the old word model provably CANNOT represent these: it
    // lowercases and drops whitespace runs
    val wordToks = TrainPrep.bpeApply(texts.toDF("text")
        .withColumn("doc_id", col("text")), "doc_id", "text", bpeFixtureMerges)
      .select(col("doc_id"), col("toks")).as[(String, Seq[String])].collect().toMap
    val lossy = wordToks("Mixed CASE with  double  spaces").mkString("")
    assert(lossy != "Mixed CASE with  double  spaces")
  }

  private val bpeFixtureMerges = Seq("t" -> "h", "th" -> "e")
}
