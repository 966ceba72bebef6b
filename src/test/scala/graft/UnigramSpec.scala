package graft

import org.apache.spark.sql.functions._
import graft.operators.UnigramLm
import graft.operators.UnigramLm.Piece

/** Gates for the unigram-LM tokenizer (q191/q192 check seed + apply
  * against DuckDB; these pin what SQL can't reach — the DP against an
  * independent exhaustive search, the hard-EM refinement against its
  * monotonicity guarantee, and the round-trip contract).
  */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "aaa abab banana aaa"),
    (1L, "ban ana nab aaa abab"),
    (2L, "banana banana ban aaa"),
    (3L, "")
  ).toDF("doc_id", "text")

  private def exhaustiveBest(word: String, lp: Map[String, Long])
      : (Seq[String], Long) = {
    // every segmentation via boundary masks; the q192 oracle's total
    // order: score desc, fewer pieces, lexicographically smallest
    // REVERSED start list
    val n = word.length
    val segs = (0 until (1 << math.max(n - 1, 0))).flatMap { mask =>
      val starts = 0 +: (1 until n).filter(p => ((mask >> (p - 1)) & 1) == 1)
      val pieces = starts.zip(starts.drop(1) :+ n)
        .map { case (a, b) => word.substring(a, b) }
      if (pieces.forall(lp.contains))
        Some((pieces, pieces.map(lp).sum, starts.reverse.toList))
      else None
    }
    val best = segs.minBy { case (p, s, rs) =>
      (-s, p.length, rs.map(x => f"$x%05d").mkString(","))
    }
    (best._1, best._2)
  }

  test("Viterbi DP equals exhaustive enumeration, including tie cases") {
    // scores crafted so "aaa" ties: [a][aa] and [aa][a] have equal score
    // and equal piece count → the reversed-starts rule must pick [a][aa]
    val lp = Map("a" -> -100L, "aa" -> -150L, "b" -> -200L, "ab" -> -250L,
      "ba" -> -260L, "ban" -> -300L, "ana" -> -310L, "n" -> -220L)
    val words = Seq("aaa", "abab", "banana", "ban", "ana", "nab", "a", "b")
    words.foreach { w =>
      val dp = UnigramLm.viterbiWord(w, lp, maxPieceLen = 4)
      val ex = exhaustiveBest(w, lp)
      assert(dp == ex, s"'$w': DP $dp != exhaustive $ex")
    }
    // the tie case explicitly: score([a,aa]) == score([aa,a]) == -250,
    // np 2 both → reversed starts [1,0] < [2,0] → [a][aa]
    assert(UnigramLm.viterbiWord("aaa", lp, 4)._1 == Seq("a", "aa"))
  }

  test("corpus words always round-trip: concat(pieces) == word") {
    val vocab = UnigramLm.collectVocab(
      UnigramLm.seedVocab(docs, "text", maxPieceLen = 4, vocabSize = 20))
    val words = UnigramLm.wordFreqs(docs, "text")
    val seg = UnigramLm.segmentWords(words, vocab, 4)
      .select(col("w"), col("pieces")).as[(String, Seq[String])].collect()
    assert(seg.nonEmpty)
    seg.foreach { case (w, pieces) =>
      assert(pieces.mkString("") == w, s"'$w' -> $pieces does not round-trip")
    }
  }

  test("hard-EM: corpus likelihood is non-decreasing; unused multis pruned") {
    val words = UnigramLm.wordFreqs(docs, "text").localCheckpoint()
    def corpusScore(vocab: Seq[Piece]): Long =
      UnigramLm.segmentWords(words, vocab, 4)
        .join(words, "w")
        .select(sum(col("score_micro") * col("f")))
        .collect().head.getLong(0)
    var vocab = UnigramLm.collectVocab(
      UnigramLm.seedVocab(docs, "text", 4, 20))
    var prev = corpusScore(vocab)
    (1 to 3).foreach { r =>
      vocab = UnigramLm.emRound(words, vocab, 4)
      val cur = corpusScore(vocab)
      info(s"EM round $r: corpus score $prev -> $cur (micros)")
      // Viterbi-EM guarantee: re-scoring concentrates mass on the pieces
      // the best segmentations actually use — the corpus-best score under
      // the refined model can only improve or hold
      assert(cur >= prev, s"EM round $r regressed corpus likelihood")
      prev = cur
    }
    // every single char survives; every multi-char piece that survived is
    // genuinely used by some best segmentation
    val chars = vocab.filter(_.piece.length == 1).map(_.piece).toSet
    val corpusChars = docs.select(explode(graft.operators.TextOps.tokens(col("text")))
      .as("w")).as[String].collect().flatMap(_.toSeq).map(_.toString).toSet
    assert(corpusChars.subsetOf(chars))
    val usedPieces = UnigramLm.segmentWords(words, vocab, 4)
      .select(explode(col("pieces"))).as[String].collect().toSet
    vocab.filter(_.piece.length > 1).foreach { p =>
      assert(usedPieces(p.piece), s"unused multi '${p.piece}' not pruned")
    }
  }

  test("train composes seed + EM; apply matches a hand-checked empty doc") {
    val vocab = UnigramLm.train(docs, "text", maxPieceLen = 4,
      vocabSize = 20, emRounds = 2)
    val out = UnigramLm.apply(docs, "doc_id", "text", vocab, 4)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val empty = out(3)
    assert(empty.getAs[Long]("n_words") == 0L &&
      empty.getAs[Long]("n_pieces") == 0L &&
      empty.getAs[Long]("nll_micro") == 0L)
    def md5of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(empty.getAs[String]("pieces_md5") == md5of(""))
    // non-empty docs: piece streams concatenate back to their word streams
    val toks = docs.select(col("doc_id"),
      graft.operators.TextOps.tokens(col("text")).as("ws"))
      .as[(Long, Seq[String])].collect().toMap
    out.take(3).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_words") == toks(id).length.toLong)
      assert(r.getAs[Long]("n_pieces") >= r.getAs[Long]("n_words"))
    }
  }

  test("soft-EM expected counts: hand-computed micro rationals on a 2-seg lattice") {
    // word "aa" (freq 3), vocab {a:-100, aa:-150} micros.
    // segs: [a,a] score -200, [aa] score -150 (max). weights:
    //   [aa] -> round(exp(0)*1e6) = 1000000
    //   [a,a] -> round(exp(-50/1e6)*1e6) = round(999950.00125) = 999950
    // D = 1999950; U(a) = 2*999950 = 1999900; U(aa) = 1000000
    // ec(a)  = round_half_up(3 * 1999900 * 1e6 / 1999950) = 2999925
    // ec(aa) = round_half_up(3 * 1000000 * 1e6 / 1999950) = 1500038
    val words = Seq(("aa", 3L)).toDF("w", "f")
    val vocab = Seq(Piece("a", 1, -100L), Piece("aa", 1, -150L))
    val out = UnigramLm.softEmRound(words, vocab, maxPieceLen = 4)
      .select(col("piece"), col("ec_micro"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 2999925L, "aa" -> 1500038L), s"got $out")
    // lp re-score: ln(ec/total) micro — verify one against first principles
    val lp = UnigramLm.softEmRound(words, vocab, maxPieceLen = 4)
      .select(col("piece"), col("lp_micro")).as[(String, Long)].collect().toMap
    val tot = 2999925.0 + 1500038.0
    assert(lp("a") == math.round(math.log(2999925.0 / tot) * 1e6))
  }

  test("soft-EM: chars floored, zero-mass multis dropped, overlong words excluded") {
    // "zq" never segments with piece 'zzzz' → zzzz carries no mass → drops;
    // chars keep >= 1 micro. A 17-char word is excluded from the stats.
    val words = Seq(("zq", 5L), ("a" * 17, 100L)).toDF("w", "f")
    val vocab = Seq(Piece("z", 1, -100L), Piece("q", 1, -100L),
      Piece("a", 1, -50L), Piece("zzzz", 1, -300L))
    val out = UnigramLm.softEmRound(words, vocab, maxPieceLen = 4)
      .select(col("piece"), col("ec_micro")).as[(String, Long)].collect().toMap
    assert(!out.contains("zzzz"), "zero-mass multi must drop")
    assert(out("z") == 5000000L && out("q") == 5000000L) // whole mass, one seg
    assert(out("a") == 1L, "char absent from in-cap words floors at 1 micro")
  }

  test("loss-based pruning: exact leave-one-out losses, ordering, monotonicity") {
    val words = UnigramLm.wordFreqs(docs, "text").localCheckpoint()
    val seed = UnigramLm.collectVocab(UnigramLm.seedVocab(docs, "text", 4, 30))
    val vocab = UnigramLm.collectSoftRound(words, seed, 4)
    val losses = UnigramLm.pruneLosses(words, vocab, 4)
      .as[(String, Long)].collect().toMap
    // independent check: loss(p) must equal corpusLogZ(vocab) minus
    // corpusLogZ over the lattice with p unavailable (scores fixed) —
    // remove p from the map and re-sum
    val full = UnigramLm.corpusLogZ(words, vocab, 4)
    losses.take(4).foreach { case (p, loss) =>
      val without = UnigramLm.corpusLogZ(words, vocab.filter(_.piece != p), 4)
      assert(full - without == loss,
        s"loss('$p') $loss != Z-difference ${full - without}")
    }
    // prune to 3 multis: kept losses >= every dropped loss; chars survive
    val pruned = UnigramLm.pruneVocab(words, vocab, 4, targetMultis = 3)
    val keptM = pruned.filter(_.piece.length > 1).map(_.piece).toSet
    assert(keptM.size == 3)
    assert(pruned.count(_.piece.length == 1) == vocab.count(_.piece.length == 1))
    val keptMin = keptM.map(losses).min
    val droppedMax = (losses.keySet -- keptM).map(losses)
      .foldLeft(Long.MinValue)(math.max)
    assert(keptMin >= droppedMax,
      s"kept min loss $keptMin < dropped max $droppedMax")
    // monotonicity gates: removing pieces can only shrink every word's
    // lattice sum (exact, quantized-ln is monotone); one soft-EM round on
    // the pruned vocab re-concentrates mass and must not regress
    val zPruned = UnigramLm.corpusLogZ(words, pruned, 4)
    assert(zPruned <= full, "pruning cannot increase the lattice sum")
    val reest = UnigramLm.collectSoftRound(words, pruned, 4)
    val zReest = UnigramLm.corpusLogZ(words, reest, 4)
    info(s"corpus logZ full=$full pruned=$zPruned re-estimated=$zReest (micros)")
    assert(zReest >= zPruned, "soft-EM round after pruning regressed logZ")
  }

  test("out-of-vocab characters skip, never crash, in every soft-EM consumer (round-14 advice)") {
    // 'z' has no piece in this vocab → zero valid segmentations; the
    // public APIs must skip the word (the d <= 0 path), not throw from
    // segWeights' .max inside an executor task
    val words = Seq(("az", 3L), ("aa", 2L)).toDF("w", "f")
    val vocab = Seq(Piece("a", 4, -200000L), Piece("aa", 2, -400000L))
    val ec = UnigramLm.softEmRound(words, vocab, 3)
      .select(col("piece"), col("ec_micro")).as[(String, Long)].collect().toMap
    assert(ec.contains("a") && ec("aa") > 0L) // 'aa' still trains
    val losses = UnigramLm.pruneLosses(words, vocab, 3)
      .as[(String, Long)].collect().toMap
    assert(losses.keySet == Set("aa"))
    val z = UnigramLm.corpusLogZ(words, vocab, 3)
    val zOnlyAa = UnigramLm.corpusLogZ(
      Seq(("aa", 2L)).toDF("w", "f"), vocab, 3)
    assert(z == zOnlyAa, "the oov word must contribute exactly nothing")
  }

  test("byte fallback: DP equals exhaustive enumeration with the fallback rule, emoji included") {
    val byteLp = -20000000L
    val vocab = Seq(Piece("a", 9, -100000L), Piece("b", 7, -120000L),
      Piece("ab", 5, -150000L), Piece("e", 4, -110000L),
      Piece("t", 4, -115000L), Piece("eta", 2, -160000L))
    val lp = vocab.map(p => p.piece -> p.lp_micro).toMap
    // exhaustive reference over code points, same total order:
    // score desc, EXPANDED token count asc, reversed start list asc
    def enumerate(w: String): (Seq[String], Long, Long) = {
      val cps = w.codePoints.toArray
      val n = cps.length
      def sub(i: Int, j: Int) = new String(cps, i, j - i)
      val all = (0L until (1L << (n - 1))).flatMap { mask =>
        val starts = 0 +: (1 until n).filter(p => ((mask >> (p - 1)) & 1L) == 1L)
        val bounds = starts :+ n
        val segs = bounds.sliding(2).map(x => (x(0), x(1))).toSeq
        // valid ⇔ every piece is a vocab piece or a single code point
        // (no vocab piece exceeds maxPieceLen=3, mirroring q219's oracle)
        val ok = segs.forall { case (i, j) =>
          lp.contains(sub(i, j)) || j - i == 1 }
        if (!ok) None
        else {
            var score = 0L; var nf = 0L
            val toks = Seq.newBuilder[String]
            segs.foreach { case (i, j) =>
              val p = sub(i, j)
              lp.get(p) match {
                case Some(v) => score += v; toks += p
                case None =>
                  val bp = UnigramLm.bytePiecesOf(cps(i))
                  score += bp.size.toLong * byteLp; nf += bp.size; toks ++= bp
              }
            }
            Some((toks.result(), score, nf, starts.map(_ + 1)))
        }
      }
      val best = all.minBy { case (tk, s, _, st) =>
        (-s, tk.size, st.reverse.map(x => f"$x%05d").mkString(","))
      }
      (best._1, best._2, best._3)
    }
    // mixes of covered pieces and 1/2/3/4-byte fallbacks; "🙂ab" has an
    // astral-plane code point (two Java chars) at position 0
    for (w <- Seq("ab", "abe", "xab", "naïve", "東ab", "🙂ab", "βeta", "zz", "🙂")) {
      val got = UnigramLm.viterbiWordBytes(w, lp, 3, byteLp)
      val want = enumerate(w)
      assert(got == want, s"word '$w': DP $got vs enumeration $want")
    }
  }

  test("byte fallback: no word is ever unsegmentable; fallback tokens round-trip to the word's bytes") {
    val docs = Seq((0L, "héllo 東京 🙂"), (1L, ""), (2L, "xz αβγ plain"))
      .toDF("doc_id", "text")
    val vocab = Seq(Piece("p", 1, -100000L), Piece("l", 1, -100000L),
      Piece("a", 1, -100000L), Piece("i", 1, -100000L), Piece("n", 1, -100000L))
    val out = UnigramLm.applyBytes(docs, "doc_id", "text", vocab, 4)
      .orderBy("doc_id").collect()
    // doc 0: every word needs fallback; héllo = h é(2) l l o → some mix
    assert(out(0).getAs[Long]("n_pieces") > 0L)
    assert(out(0).getAs[Long]("n_fallback") > 0L)
    assert(out(1).getAs[Long]("n_pieces") == 0L) // empty doc, not a crash
    assert(out(2).getAs[Long]("n_pieces") > 0L)
    // segment-level round trip: decoding the emitted byte pieces (plus
    // vocab pieces verbatim) must reproduce each word's exact UTF-8 bytes
    val segs = UnigramLm.segmentWordsBytes(
      UnigramLm.wordFreqs(docs, "text"), vocab, 4).collect()
    assert(segs.nonEmpty)
    segs.foreach { r =>
      val w = r.getAs[String]("w")
      val pieces = r.getSeq[String](1)
      assert(pieces.nonEmpty, s"'$w' got an empty segmentation")
      val bytes = pieces.flatMap { p =>
        if (p.matches("<0x[0-9A-F]{2}>"))
          Seq(Integer.parseInt(p.substring(3, 5), 16).toByte)
        else p.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
      }
      assert(bytes == w.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq,
        s"'$w' did not round-trip from $pieces")
    }
  }

  test("byte pieces are unprunable and survive the full train -> byteFallbackVocab -> apply composition") {
    // pruning must exempt reserved byte pieces the way it
    // exempts chars: byte pieces never match raw text, so every loss pass
    // sees them at zero and an unguarded top-k would drop them first
    val words = Seq(("ab", 9L), ("ba", 4L)).toDF("w", "f")
    val vocab = UnigramLm.byteFallbackVocab(
      Seq(Piece("a", 9, -100000L), Piece("b", 9, -110000L),
        Piece("ab", 5, -150000L), Piece("ba", 2, -170000L)))
    val pruned = UnigramLm.pruneVocab(words, vocab, 3, targetMultis = 1)
    assert(pruned.count(p => UnigramLm.isBytePiece(p.piece)) == 256,
      "pruning dropped reserved byte pieces")
    assert(pruned.count(p => p.piece.length > 1 &&
      !UnigramLm.isBytePiece(p.piece)) == 1)
    // published composition order: train, then attach byte pieces to the
    // FINAL artifact — then NOTHING in an out-of-alphabet corpus is
    // unsegmentable (train on ASCII; apply sees accents/emoji)
    val trainCorpus = Seq((0L, "abab baba ab")).toDF("doc_id", "text")
    val trained = UnigramLm.train(trainCorpus, "text", maxPieceLen = 3,
      vocabSize = 5, emRounds = 2)
    val art = UnigramLm.byteFallbackVocab(trained)
    assert(art.count(p => UnigramLm.isBytePiece(p.piece)) == 256)
    val corpus = Seq((0L, "abab baba"), (1L, "héllo 🙂 ab")).toDF("doc_id", "text")
    val out = UnigramLm.applyBytes(corpus, "doc_id", "text", art, 3)
      .orderBy("doc_id").collect()
    assert(out.forall(_.getAs[Long]("n_pieces") > 0L))
    assert(out(1).getAs[Long]("n_fallback") > 0L) // é/🙂 went through bytes
    // and the artifact round-trips through the serialized form
    import graft.operators.TokenizerArtifact
    assert(TokenizerArtifact.parseUnigram(
      TokenizerArtifact.serializeUnigram(art)) == art.sortBy(_.piece))
  }

  test("isBytePiece accepts exactly the 256 reserved pieces (round-16 advice)") {
    // shape-only matching would let a corpus piece like '<0xzz>' (or
    // lowercase '<0xab>') slip into the unprunable set
    assert(UnigramLm.bytePieceTable.forall(UnigramLm.isBytePiece))
    assert(!UnigramLm.isBytePiece("<0xzz>"))
    assert(!UnigramLm.isBytePiece("<0xab>")) // lowercase hex: not reserved
    assert(!UnigramLm.isBytePiece("<0xG1>"))
    assert(!UnigramLm.isBytePiece("<0x0>"))
    assert(!UnigramLm.isBytePiece(""))
    // and a '<0xzz>'-shaped corpus piece IS prunable: it gets no
    // byte-piece exemption in pruneVocab
    // "ab" is attractive (high frequency, beats its char path) while the
    // fake byte-shaped piece scores far below its own char path, so its
    // removal loss is ~0 — with targetMultis = 1 it must be the one
    // pruned; the old shape-match exemption kept it unconditionally
    val words = Seq(("<0xzz>", 1L), ("ab", 9L)).toDF("w", "f")
    val vocab = Seq(Piece("a", 9, -100000L), Piece("b", 9, -100000L),
      Piece("<", 1, -900000L), Piece("0", 1, -900000L), Piece("x", 1, -900000L),
      Piece("z", 1, -900000L), Piece(">", 1, -900000L),
      Piece("ab", 9, -150000L), Piece("<0xzz>", 1, -9000000L))
    val pruned = UnigramLm.pruneVocab(words, vocab, maxPieceLen = 6,
      targetMultis = 1)
    assert(!pruned.exists(_.piece == "<0xzz>"),
      "a fake byte-shaped piece must not be exempt from pruning")
    assert(pruned.exists(_.piece == "ab"))
  }

  test("tokenize word-length fence: >24-code-point words drop from stats on the engine side (r16 verdict item 2, tightened per r16 ADVICE)") {
    // the cross-engine oracles verify apply faces by exhaustive
    // enumeration (2^(n-1) masks). The fence must clear BOTH oracle
    // constraints: DuckDB's BIGINT shift hard-errors already at n = 64
    // (1 << 63 is out of range — the old fence of 64 admitted a word
    // the oracle could not start on), and enumeration cost explodes far
    // earlier. MaxTokenizeWordLen = 24 fences BOTH sides identically,
    // so engine and oracle agree on any corpus. n_words still counts
    // the long word (it is the raw token count); pieces/digest/nll
    // exclude it.
    assert(UnigramLm.MaxTokenizeWordLen == 24)
    val long = "a" * 70
    val vocab = Seq(Piece("a", 9, -100000L), Piece("b", 5, -150000L))
    val withLong = Seq((0L, s"ab $long ba")).toDF("doc_id", "text")
    val without = Seq((0L, "ab ba")).toDF("doc_id", "text")
    val rWith = UnigramLm.apply(withLong, "doc_id", "text", vocab, 2)
      .collect().head
    val rWithout = UnigramLm.apply(without, "doc_id", "text", vocab, 2)
      .collect().head
    assert(rWith.getAs[Long]("n_words") == 3L)
    assert(rWithout.getAs[Long]("n_words") == 2L)
    assert(rWith.getAs[Long]("n_pieces") == rWithout.getAs[Long]("n_pieces"))
    assert(rWith.getAs[String]("pieces_md5") == rWithout.getAs[String]("pieces_md5"))
    assert(rWith.getAs[Long]("nll_micro") == rWithout.getAs[Long]("nll_micro"))
    // byte-fallback face: same fence
    val bWith = UnigramLm.applyBytes(withLong, "doc_id", "text", vocab, 2)
      .collect().head
    val bWithout = UnigramLm.applyBytes(without, "doc_id", "text", vocab, 2)
      .collect().head
    assert(bWith.getAs[String]("pieces_md5") == bWithout.getAs[String]("pieces_md5"))
    assert(bWith.getAs[Long]("n_fallback") == bWithout.getAs[Long]("n_fallback"))
    // a word AT the fence is IN contract on both faces; one past drops.
    // 25–64 cp is the band the old fence wrongly admitted (the oracle
    // would need 2^24..2^63 masks, erroring outright at n = 64): a
    // 30-cp word must be OUT of stats like the 70-cp one (the q219
    // fixture plants both and the DuckDB oracle mirrors the fence)
    val edge = Seq((0L, "a" * UnigramLm.MaxTokenizeWordLen))
      .toDF("doc_id", "text")
    assert(UnigramLm.apply(edge, "doc_id", "text", vocab, 2)
      .collect().head.getAs[Long]("n_pieces") ==
        UnigramLm.MaxTokenizeWordLen.toLong)
    val past = Seq((0L, "a" * 30)).toDF("doc_id", "text")
    val pr = UnigramLm.apply(past, "doc_id", "text", vocab, 2).collect().head
    assert(pr.getAs[Long]("n_words") == 1L)
    assert(pr.getAs[Long]("n_pieces") == 0L)
  }

  test("lattices index code points, not UTF-16 units (round-16 advice): astral chars align with the oracle's substr space") {
    // U+1F602 is ONE code point (two Java chars). A vocab containing the
    // emoji and 'a' must segment "😂a" as [😂, a] — char-indexed
    // substrings would try to split the surrogate pair.
    val emoji = new String(Character.toChars(0x1F602))
    val lp = Map(emoji -> -100000L, "a" -> -120000L, (emoji + "a") -> -300000L)
    val (pieces, score) = UnigramLm.viterbiWord(emoji + "a", lp, 2)
    assert(pieces == Seq(emoji, "a"))
    assert(score == -220000L)
    // enumeration face agrees (it feeds the soft-EM oracles)
    val segs = UnigramLm.enumerateSegs(emoji + "a", lp)
    assert(segs.map(_._1).toSet ==
      Set(Seq(emoji, "a"), Seq(emoji + "a")))
    // cap counts code points: a 16-cp word with an astral char (17 Java
    // chars) stays IN the 16-cap training statistics
    val w16 = emoji + "a" * 15
    assert(UnigramLm.cpLen(w16) == 16 && w16.length == 17)
    val words = Seq((w16, 1L)).toDF("w", "f")
    val vocab = Seq(Piece("a", 9, -100000L), Piece(emoji, 1, -100000L))
    val z = UnigramLm.corpusLogZ(words, vocab, maxPieceLen = 1, maxWordLen = 16)
    assert(z != 0L, "16-code-point word must be inside the cap")
  }

  test("byteFallbackVocab: 256 reserved pieces, idempotent, flat floor score") {
    val base = Seq(Piece("a", 3, -100000L))
    val v1 = UnigramLm.byteFallbackVocab(base, -20000000L)
    assert(v1.size == 257)
    assert(v1.count(_.piece.matches("<0x[0-9A-F]{2}>")) == 256)
    assert(v1.filter(_.piece.startsWith("<0x")).forall(_.lp_micro == -20000000L))
    val v2 = UnigramLm.byteFallbackVocab(v1, -20000000L)
    assert(v2.size == 257, "must be idempotent")
  }

  test("sampleSegments: md5-deterministic draws, CDF-exact picks, resample share tracks the weights") {
    // "aa" lattice: mask 0 = [aa] (score -500000, the Viterbi pick),
    // mask 1 = [a,a] (score -800000). alpha = 0.5 weights:
    // w0 = 1e6, w1 = round(exp(0.5*(-300000)/1e6)*1e6) = round(exp(-0.15)*1e6)
    val w1 = math.round(math.exp(0.5 * -300000.0 / 1e6) * 1e6)
    val d = 1000000L + w1
    val docs = (0L until 400L).map(i => (i, "aa")).toDF("doc_id", "text")
    val vocab = Seq(Piece("a", 1, -400000L), Piece("aa", 1, -500000L))
    val out = UnigramLm.sampleSegments(docs, "doc_id", "text", vocab,
      maxPieceLen = 2, seed = "s", alpha = 0.5)
      .orderBy(col("doc_id")).collect()
    assert(out.length == 400)
    // per-doc exact check against the pick formula: u = md5("s:<id>:1")
    // first-15-hex mod 1e6; pick [aa] iff cum0*1e6 > u*d
    def md5u(input: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(input.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 1000000L
    }
    var resampled = 0
    out.foreach { r =>
      val id = r.getLong(0)
      val expectBest = 1000000L * 1000000L > md5u(s"s:$id:1") * d
      val np = r.getLong(2)
      assert(np == (if (expectBest) 1L else 2L), s"doc $id pick diverged")
      assert(r.getLong(4) == (if (expectBest) 0L else 1L))
      if (!expectBest) resampled += 1
    }
    // share of resamples tracks the CDF mass of the non-best segment
    val expected = w1.toDouble / d.toDouble
    assert(math.abs(resampled / 400.0 - expected) < 0.08,
      s"resample share ${resampled / 400.0} vs expected $expected")
    // reproducibility: the same seed regenerates identical digests;
    // a different seed moves at least one document
    val again = UnigramLm.sampleSegments(docs, "doc_id", "text", vocab,
      maxPieceLen = 2, seed = "s", alpha = 0.5)
      .orderBy(col("doc_id")).collect()
    assert(out.map(_.getString(3)).toSeq == again.map(_.getString(3)).toSeq)
    val other = UnigramLm.sampleSegments(docs, "doc_id", "text", vocab,
      maxPieceLen = 2, seed = "t", alpha = 0.5)
      .orderBy(col("doc_id")).collect()
    assert(out.map(_.getString(3)).toSeq != other.map(_.getString(3)).toSeq)
  }
}
