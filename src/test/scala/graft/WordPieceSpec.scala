package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainPrep

/** Gates for the WordPiece tokenizer family (round 14 — the third
  * published tokenizer next to BPE and unigram): the trainer against a
  * naive single-machine reference running the published
  * count(ab)/(count(a)·count(b)) criterion with the same integer
  * quantization, and the greedy longest-match apply against the
  * published reference algorithm's hand cases (continuation `##`
  * pieces, [UNK] on miss, max_input_chars_per_word collapse).
  */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  private val ScoreScale = BigInt("1000000000000")

  /** Naive reference trainer — same word model, same quantized score,
    * same tie rules, independent code path. */
  private def refTrain(corpus: Seq[String], nMerges: Int)
      : Seq[(String, String, String, Long, Long, Long, Long)] = {
    val wf = corpus.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var syms: Map[Vector[String], Long] = wf.toSeq.map { case (w, f) =>
      (w.substring(0, 1) +: w.drop(1).map(c => "##" + c).toVector) -> f
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val out = Seq.newBuilder[(String, String, String, Long, Long, Long, Long)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val pc = collection.mutable.Map[(String, String), Long]()
      val uc = collection.mutable.Map[String, Long]()
      for ((s, f) <- syms) {
        s.foreach(u => uc(u) = uc.getOrElse(u, 0L) + f)
        for (j <- 0 until s.length - 1)
          pc((s(j), s(j + 1))) = pc.getOrElse((s(j), s(j + 1)), 0L) + f
      }
      if (pc.isEmpty) done = true
      else {
        val scored = pc.toSeq.map { case ((a, b), cab) =>
          val sq = (BigInt(cab) * ScoreScale / (BigInt(uc(a)) * BigInt(uc(b)))).toLong
          (a, b, cab, uc(a), uc(b), sq)
        }
        val (a, b, cab, ca, cb, sq) =
          scored.minBy { case (x, y, _, _, _, s) => (-s, x, y) }
        val m = TrainPrep.wordPieceMerged(a, b)
        out += ((a, b, m, cab, ca, cb, sq))
        def merge(s: Vector[String]): Vector[String] = {
          val buf = Vector.newBuilder[String]
          var k = 0
          while (k < s.length) {
            if (k < s.length - 1 && s(k) == a && s(k + 1) == b) {
              buf += m; k += 2
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

  test("wordPieceTrain matches the reference merge-for-merge, scores included") {
    val corpus = Seq(
      "the cat sat on the mat", "that hat is the hat",
      "hugs bugs hug bug", "unaffable unable unafraid")
    val got = TrainPrep.wordPieceTrain(corpus.toDF("text"), "text", 12)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == refTrain(corpus, 12),
      s"trained:\n$got\nreference:\n${refTrain(corpus, 12)}")
  }

  test("the normalized score is NOT the raw pair count (the criterion that makes it WordPiece)") {
    // (a,##a) has the higher raw count but the fatter denominators;
    // WordPiece must pick the rarer-but-tighter (x,##z) first
    val corpus = Seq.fill(10)("aa") ++ Seq.fill(3)("xz")
    val first = TrainPrep.wordPieceTrain(corpus.toDF("text"), "text", 1)
      .collect()(0)
    assert((first.getString(1), first.getString(2)) == (("x", "##z")),
      s"picked ${first.getString(1)}+${first.getString(2)}")
    // raw-count argmax would have been (a, ##a) at cab=10 vs 3: the
    // second merge is (a, ##a), whose count the first merge left intact
    val stats = TrainPrep.wordPieceTrain(corpus.toDF("text"), "text", 2)
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
    assert(stats(("a", "##a")) == 10L && stats(("x", "##z")) == 3L)
  }

  test("wordPieceWord: published hand cases — longest match, ##, [UNK], overlong collapse") {
    val vocab = Set("un", "##aff", "##able", "aff", "##ffa", "ab",
      "a", "##b", "##c", "hug", "##s")
    def seg(w: String, maxChars: Int = 100) =
      TrainPrep.wordPieceWord(w, vocab, maxChars, "[UNK]")
    assert(seg("unaffable") == Seq("un", "##aff", "##able")) // the BERT-paper example
    assert(seg("hugs") == Seq("hug", "##s"))
    assert(seg("abc") == Seq("ab", "##c"))  // "ab" (len 2) beats "a" (len 1)
    assert(seg("az") == Seq("[UNK]"))       // dead end mid-word -> whole word UNK
    assert(seg("qqq") == Seq("[UNK]"))      // no match at position 0
    assert(seg("a" * 101) == Seq("[UNK]"))  // default max_input_chars_per_word = 100
    assert(seg("ab", maxChars = 1) == Seq("[UNK]")) // explicit cap collapse
    assert(seg("") == Seq.empty)
  }

  test("wordPieceApply: distinct-word segmentation reassembles per-doc streams in order") {
    val vocab = Seq("un", "##aff", "##able", "hug", "##s", "a", "##b", "ab")
    val docs = Seq(
      (0L, "unaffable hugs"),
      (1L, "hugs hugs zz"),
      (2L, "")).toDF("doc_id", "text")
    val got = TrainPrep.wordPieceApply(docs, "doc_id", "text", vocab)
      .orderBy(col("doc_id")).collect()
    def md5of(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 0: un ##aff ##able hug ##s
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 5L &&
      got(0).getLong(3) == 0L)
    assert(got(0).getString(4) == md5of("un ##aff ##able hug ##s"))
    // doc 1: hug ##s hug ##s [UNK]
    assert(got(1).getLong(2) == 5L && got(1).getLong(3) == 1L)
    assert(got(1).getString(4) == md5of("hug ##s hug ##s [UNK]"))
    // doc 2: empty
    assert(got(2).getLong(1) == 0L && got(2).getLong(2) == 0L &&
      got(2).getString(4) == md5of(""))
  }

  test("wordPieceVocabFromTrain: alphabet + merge outputs; the trained vocab tokenizes losslessly") {
    val corpus = Seq("the cat sat on the mat", "that hat is the hat")
    val vocab = TrainPrep.wordPieceVocabFromTrain(corpus.toDF("text"), "text", 5)
    val merges = refTrain(corpus, 5).map(_._3)
    merges.foreach(m => assert(vocab.contains(m), s"missing merge output $m"))
    // alphabet coverage: every first char bare, every later char ##-form
    val words = corpus.flatMap(_.toLowerCase.split("\\s+")).distinct
    words.foreach { w =>
      assert(vocab.contains(w.substring(0, 1)))
      w.drop(1).foreach(c => assert(vocab.contains("##" + c)))
    }
    // with full alphabet coverage tokenization is total and lossless
    val vset = vocab.toSet
    words.foreach { w =>
      val toks = TrainPrep.wordPieceWord(w, vset, 100, "[UNK]")
      assert(toks != Seq("[UNK]"))
      assert(toks.map(_.stripPrefix("##")).mkString("") == w)
    }
  }
}
