package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("wordNgrams: short docs empty, distinct sliding windows otherwise") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    val df = Seq("", "a b", "a b c d", "x y x y x y").toDF("t")
      .select(TextOps.wordNgrams(TextOps.tokens(col("t")), 3).as("ng"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq.empty && out(1) == Seq.empty)
    assert(out(2) == Seq("a b c", "b c d"))
    // distinct: "x y x" and "y x y" each appear twice in the slide
    assert(out(3) == Seq("x y x", "y x y"))
  }

  test("bigrams: empty / one-token docs yield empty shingle sets") {
    val df = Seq("", "one", "one two", "a b c").toDF("t")
    val out = df.select(TextOps.wordBigrams(TextOps.tokens(col("t"))))
      .collect().map(_.getSeq[String](0).toSet)
    assert(out(0) == Set())
    assert(out(1) == Set())
    assert(out(2) == Set("one two"))
    assert(out(3) == Set("a b", "b c"))
  }

  test("decontaminate: probe n-gram hits, self-matches excluded, clean docs absent") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),    // shares "quick brown fox" with probe 10
      (2L, "totally unrelated words here"), // clean
      (3L, "quick brown fox quick brown fox again"), // same hit, twice in text → counted once
      (10L, "benchmark quick brown fox prompt")      // the probe itself
    ).toDF("doc_id", "text")
    val probes = corpus.where(col("doc_id") === 10)
    val out = TextOps.decontaminate(corpus, probes, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    // doc 10 is the probe: its self-match is excluded, so only 1 and 3 flag
    assert(out.map(_._1).toSeq == Seq(1L, 3L))
    assert(out.forall { case (_, nProbes, nGrams) => nProbes == 1 && nGrams == 1 })
  }

  test("minhash: identical sets → identical signatures; supersets differ") {
    val df = Seq(
      ("d1", Seq("x y", "y z")), ("d2", Seq("y z", "x y")), ("d3", Seq("x y", "q r"))
    ).toDF("id", "sh")
    val sigs = df.select(col("id"),
        TextOps.minhashSignature(TextOps.shingleHashes(col("sh")), 4))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("d1") == sigs("d2")) // order-insensitive
    assert(sigs("d1") != sigs("d3"))
    assert(sigs("d1").forall(h => h >= 0 && h < TextOps.MinhashP))
  }

  test("minhash: one evaluation of the hashes equals the per-coefficient form") {
    // the form that re-evaluates `hashes` once per coefficient
    def perCoefficient(hashes: org.apache.spark.sql.Column, n: Int) =
      array(TextOps.MinhashCoeffs.take(n).map { case (a, b) =>
        array_min(transform(hashes, h => pmod(h * a + b, lit(TextOps.MinhashP))))
      }: _*)
    val docs = Seq[(Int, String)]((1, "the quick brown fox jumps"), (2, "the quick brown fox"),
      (3, "one"), (4, ""), (5, null), (6, "zz yy zz yy zz"))
      .toDF("id", "t")
      .withColumn("sh", TextOps.wordBigrams(TextOps.tokens(col("t"))))
      .withColumn("hv", when(col("id") === 5, lit(null))
        .otherwise(TextOps.shingleHashes(col("sh"))))
    for (n <- Seq(1, 4, 8)) {
      val out = docs.select(col("id"),
          TextOps.minhashSignature(col("hv"), n).as("new_hv"),
          perCoefficient(col("hv"), n).as("old_hv"),
          TextOps.minhashSignature(TextOps.shingleHashes(col("sh")), n).as("new_sh"),
          perCoefficient(TextOps.shingleHashes(col("sh")), n).as("old_sh"))
        .orderBy("id").collect()
      assert(out.length == 6)
      out.foreach { r =>
        assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"n=$n id=${r.getInt(0)}")
        assert(r.getSeq[Any](3) == r.getSeq[Any](4), s"n=$n id=${r.getInt(0)}")
        assert(r.getSeq[Any](1).size == n)
      }
      // empty (ids 3, 4) and null (id 5) hash arrays: n nulls, as before
      out.filter(r => Set(3, 4, 5)(r.getInt(0)))
        .foreach(r => assert(r.getSeq[Any](1).forall(_ == null)))
      assert(out.head.getSeq[Any](1).forall(_ != null))
    }
  }

  test("simhash: deterministic, identical for identical token bags") {
    val df = Seq((1L, "spark scan join"), (2L, "spark scan join"),
      (3L, "totally different words here"), (4L, "")).toDF("id", "t")
    val out = TextOps.simhash(df, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    assert(out(1L) >= 0 && out(1L) <= 0xFFFFFFFFL)
    assert(out(4L) == 0L) // empty doc → zero fingerprint
  }

  test("langid: marker voting with first-match tie-break") {
    val df = Seq("the cat and the dog", "el gato de la casa", "nothing matching")
      .toDF("t")
    val out = df.select(TextOps.predictLang(col("t"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("fingerprint normalizes whitespace and case") {
    val df = Seq(("A  b\tc", "a b c")).toDF("x", "y")
    val r = df.select(
      TextOps.fingerprint(col("x")) === TextOps.fingerprint(col("y"))).head()
    assert(r.getBoolean(0))
  }

  test("extractHtml strips markup bodily and decodes entities once") {
    val cases = Seq(
      // script/style bodies vanish ENTIRELY (incl. a bare < inside js)
      ("<p>keep</p><script>if (1 < 2) { alert('x'); }</script><b>this</b>",
        "keep this"),
      ("<style>.nav { display: none; }</style>real content", "real content"),
      // comments vanish; tags become whitespace (no word gluing)
      ("before<!-- secret -->after<br>line", "before after line"),
      // attribute-laden and self-closing tags
      ("""<a href="http://x" class='y'>link</a><img src="z"/>end""", "link end"),
      // entities: one decode pass; &amp;lt; is literal "&lt;", not "<"
      ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; c&nbsp;d &amp;lt;",
        "a & b <tag> \"q\" 's' c d &lt;"),
      // entity without semicolon and unknown entity stay as-is
      ("&amp x &bogus; y", "&amp x &bogus; y"),
      // whitespace collapse across newlines/tabs
      ("<div>\n  spaced \t text\n</div>", "spaced text"),
      // empty and markup-only inputs
      ("", ""),
      ("<html><head></head><body></body></html>", ""),
      // DOCUMENTED naive-regex limit: a bare < in text with a later >
      // is treated as a tag and over-stripped (malformed HTML input)
      ("a < b then c > d", "a d"))
    val out = Seq.tabulate(cases.length)(i => (i.toLong, cases(i)._1))
      .toDF("id", "html")
    val got = TextOps.extractHtml(out, "id", "html")
      .orderBy("id").collect()
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i).getString(1) == want, s"case $i: input $in")
    }
    // boilerplate_ratio: 0 on empty input, 1 on markup-only, in (0,1) on mixed
    val ratios = got.map(_.getDouble(2))
    assert(ratios(7) == 0.0)
    assert(ratios(8) == 1.0)
    assert(ratios(0) > 0 && ratios(0) < 1)
    assert(math.abs(ratios(0) - (1.0 - "keep this".length.toDouble / cases(0)._1.length)) < 1e-15)
  }

  test("canonicalizeUrl normalizes exactly the cosmetic differences") {
    val cases = Seq(
      // scheme/host case, default port, fragment, tracking params, sort
      ("HTTP://Example.COM:80/A/B?c=3&utm_source=x&a=1#top",
        "http://example.com/A/B?a=1&c=3"),
      // https default port; path case preserved
      ("HTTPS://API.Example.com:443/V2/Docs", "https://api.example.com/V2/Docs"),
      // NON-default port is KEPT (different origin)
      ("http://example.com:8080/x", "http://example.com:8080/x"),
      // :80 on https is NOT default — kept
      ("https://example.com:80/x", "https://example.com:80/x"),
      // no path + query → "/" inserted; params sorted; empty param dropped
      ("https://h.com?z=1&&y=2", "https://h.com/?y=2&z=1"),
      // ONLY tracking params → no "?" at all; gclid/fbclid without "="
      ("http://h.com/p?utm_a=1&utm_b=2&gclid&fbclid=z", "http://h.com/p"),
      // duplicate keys both kept (server may read both), stable sort
      ("http://h.com/p?a=2&a=1", "http://h.com/p?a=1&a=2"),
      // a non-tracking param whose VALUE mentions utm survives
      ("http://h.com/p?q=utm_source", "http://h.com/p?q=utm_source"))
    val got = TextOps.canonicalizeUrls(
        Seq.tabulate(cases.length)(i => (i.toLong, cases(i)._1)).toDF("id", "url"),
        "id", "url")
      .orderBy("id").collect()
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i).getString(1) == want, s"case $i: input $in")
    }
    // host column: lowercased, port excluded
    assert(got(2).getString(2) == "example.com")
    assert(got(4).getString(2) == "h.com")
    // n_params counts surviving params
    assert(got(0).getLong(3) == 2 && got(5).getLong(3) == 0 && got(6).getLong(3) == 2)
  }

  test("commonNgramScrub flags grams shared by more docs than the threshold") {
    // "a b c" appears in docs 0,1,2 (df=3); "x y z" only in doc 0 (df=1)
    val docs = Seq(
      (0L, "a b c x y z"),
      (1L, "a b c q r"),
      (2L, "p a b c"),
      (3L, "nothing shared here"),
      (4L, "ab")) // 1 token < n → no grams, absent from output
      .toDF("doc_id", "text")
    val got = TextOps.scrubWithThreshold(docs, "doc_id", "text", 3, _ => lit(2L))
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // doc 0: grams {a b c, b c x, c x y, x y z} → 4 total, 1 common
    assert(byId(0L).getLong(1) == 4 && byId(0L).getLong(2) == 1)
    assert(byId(0L).getDouble(3) == 0.25)
    // doc 2: grams {p a b, a b c} → 2 total, 1 common
    assert(byId(2L).getLong(1) == 2 && byId(2L).getLong(2) == 1)
    // doc 3 shares nothing
    assert(byId(3L).getLong(2) == 0 && byId(3L).getDouble(3) == 0.0)
  }

  test("bigramLmScore: predictable docs score low, surprising docs high") {
    // corpus: "a b" dominates (9 of 10 a-prefixed bigrams), "a c" is rare
    val docs = (
      (0L until 9L).map(i => (i, "a b")) :+ (9L, "a c") :+ (10L, "x")
    ).toDF("doc_id", "text")
    val got = TextOps.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // single-token doc 10 has no bigrams → absent
    assert(got.map(_.getLong(0)).toSeq == (0L to 9L))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // P(b|a) = 9/10 → NLL = ln(10/9); P(c|a) = 1/10 → NLL = ln(10)
    val nllB = math.round(math.log(10.0 / 9.0) * 1e6)
    val nllC = math.round(math.log(10.0) * 1e6)
    assert(byId(0L).getLong(2) == nllB && byId(0L).getLong(1) == 1)
    assert(byId(9L).getLong(2) == nllC)
    assert(byId(9L).getDouble(3) > byId(0L).getDouble(3)) // rare = surprising
    // a doc's NLL sums its bigrams: "a b a b" has bigrams (a,b),(b,a),(a,b)
    val multi = TextOps.bigramLmScore(
      Seq((0L, "a b a b"), (1L, "b a")).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    // counts: (a,b)x2 from doc0, (b,a)x1 doc0 + (b,a)x1 doc1 → c1(a)=2, c1(b)=2
    // doc0: ln(2/2) + ln(2/2) + ln(2/2) = 0; doc1: ln(2/2) = 0 — sanity: exact
    assert(multi(0).getLong(1) == 3 && multi(0).getLong(2) == 0)
    assert(multi(1).getLong(1) == 1 && multi(1).getLong(2) == 0)
  }

  test("bm25 ranks exact term matches by tf, dl norm, and idf") {
    val docs = Seq(
      (0L, "spark spark spark"),       // high tf, short doc
      (1L, "spark alone among many many many many words here now"), // tf 1, long
      (2L, "rare rare"),               // rare-term doc
      (3L, "spark rare"),              // both terms
      (4L, "none of these"))           // no hits → absent
      .toDF("doc_id", "text")
    val got = TextOps.bm25(docs, "doc_id", "text", Seq("spark", "rare"), topK = 10)
      .collect()
    val ids = got.map(_.getLong(0))
    assert(!ids.contains(4L))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // doc 3 hits both terms; docs 0-2 hit one
    assert(byId(3L).getLong(2) == 2)
    assert(byId(0L).getLong(2) == 1 && byId(1L).getLong(2) == 1)
    // two-term doc outscores every single-term doc here
    assert(ids.head == 3L)
    // same term, tf 3 short doc ≫ tf 1 long doc
    assert(byId(0L).getLong(1) > byId(1L).getLong(1))
    // "rare" (df 2) carries more idf than "spark" (df 3): doc 2 (tf 2)
    // outscores doc 1 (tf 1 of the commoner term)
    assert(byId(2L).getLong(1) > byId(1L).getLong(1))
    // topK truncates: topK=2 keeps the two best, ordered
    val top2 = TextOps.bm25(docs, "doc_id", "text", Seq("spark", "rare"), topK = 2)
      .collect().map(_.getLong(0))
    assert(top2.length == 2 && top2.head == 3L)
  }

  test("bm25Batch: one corpus pass reproduces per-query bm25 exactly") {
    val docs = Seq(
      (0L, "spark spark spark"),
      (1L, "spark alone among many many many many words here now"),
      (2L, "rare rare"),
      (3L, "spark rare"),
      (4L, "none of these"))
      .toDF("doc_id", "text")
    val batch = TextOps.bm25Batch(docs, "doc_id", "text",
        Seq(7L -> Seq("spark", "rare"), 8L -> Seq("rare")), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // query 7 matches the single-query operator score-for-score
    val single = TextOps.bm25(docs, "doc_id", "text", Seq("spark", "rare"), topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(single.keySet == batch.keys.collect { case (7L, d) => d }.toSet)
    single.foreach { case (d, (score, hits)) =>
      assert(batch((7L, d)) == ((score, hits)))
    }
    // query 8 only sees "rare" docs; its df (and thus idf) is the same
    // global per-term stat, so scores agree with the two-term query's
    // rare-only contribution for the doc that hits both
    assert(batch.keys.collect { case (8L, d) => d }.toSet == Set(2L, 3L))
    // per-query topK truncation is independent
    val top1 = TextOps.bm25Batch(docs, "doc_id", "text",
        Seq(7L -> Seq("spark", "rare"), 8L -> Seq("rare")), topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.length == 2 && top1.toMap.keySet == Set(7L, 8L))
  }

  test("rrfFuse: exact integer contributions, missing items, per-query topK") {
    // query 1: list A ranks (10, 11, 12); list B ranks (11, 13)
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "item_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "item_id", "rank")
    val out = TextOps.rrfFuse(Seq(a, b), kRrf = 60, topK = 10)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // item 11: 1000000/62 + 1000000/61 = 16129 + 16393
    assert(out(11L) == ((16129L + 16393L, 2L, 1L)))
    assert(out(10L) == ((1000000L / 61L, 1L, 1L)))
    assert(out(12L) == ((1000000L / 63L, 1L, 3L)))
    assert(out(13L) == ((1000000L / 62L, 1L, 2L)))
    // consensus item 11 wins over any single-list rank-1
    val ordered = TextOps.rrfFuse(Seq(a, b), kRrf = 60, topK = 2)
      .orderBy(col("rrf_micro").desc).collect().map(_.getLong(1))
    assert(ordered.head == 11L && ordered.length == 2)
    // rrfRanked assigns 1-based ranks under the caller's sort, per query
    val scored = Seq((1L, 5L, 900L), (1L, 6L, 800L), (2L, 5L, 700L))
      .toDF("qid", "doc", "score")
    val ranked = TextOps.rrfRanked(scored, "qid", "doc",
        Seq(col("score").desc, col("doc")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ranked == Map((1L, 5L) -> 1L, (1L, 6L) -> 2L, (2L, 5L) -> 1L))
  }

  test("knBigramLmScore: exact KN rationals on a tiny corpus; full-vocab mass sums to 1") {
    // corpus bigrams: doc0 "a b a b", doc1 "a c"
    //   instances: (a,b)x2, (b,a)x1, (a,c)x1
    //   c2: (a,b)=2 (b,a)=1 (a,c)=1; c1: a=3 (n1f=2), b=1 (n1f=1); T=3 types
    //   ncont: b=1, a=1, c=1
    val docs = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    val out = TextOps.knBigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def nllMicro(c12: Long, c1: Long, n1f: Long, ncw2: Long, t: Long): Long = {
      val num = (4 * c12 - 3) * t + 3 * n1f * ncw2
      val den = 4 * c1 * t
      math.round(math.log(den.toDouble / num.toDouble) * 1e6)
    }
    val pAB = nllMicro(2, 3, 2, 1, 3) // P(b|a) = (5*3+6)/36
    val pBA = nllMicro(1, 1, 1, 1, 3) // P(a|b) = (1*3+3)/12
    val pAC = nllMicro(1, 3, 2, 1, 3) // P(c|a) = (1*3+6)/36
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 2 * pAB + pBA)
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == pAC)
    // interpolated-KN invariant: summing the formula over the FULL vocab
    // per context gives exactly 1 (backoff mass Σ ncw2 = ntypes). For
    // context "a" over vocab {a, b, c}: unseen (a,a) contributes only
    // its continuation term D·n1f/c1 · ncw2/T.
    val seen = (5.0 * 3 + 6) / 36 + (1.0 * 3 + 6) / 36      // P(b|a)+P(c|a)
    val unseenAA = 0.75 * 2 / 3.0 * (1.0 / 3)               // backoff-only a
    assert(math.abs(seen + unseenAA - 1.0) < 1e-12)
    // smoothing sanity: KN NLL exceeds the unsmoothed MLE NLL on seen
    // bigrams (mass was set aside for unseen continuations)
    val mle = TextOps.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) > mle(0).getLong(2))
  }

  test("commonNgramScrubRelative derives the absolute threshold from the corpus count") {
    val docs = Seq(
      (0L, "shared common gram one two three"),
      (1L, "shared common gram four five six"),
      (2L, "shared common gram seven eight nine"),
      (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    // N = 4, perMille = 500 → threshold = (4·500 + 999) DIV 1000 = 2
    val rel = TextOps.commonNgramScrubRelative(docs, "doc_id", "text",
      n = 3, perMille = 500).orderBy("doc_id").collect()
    val abs = TextOps.scrubWithThreshold(docs, "doc_id", "text", 3,
      _ => lit(2L)).orderBy("doc_id").collect()
    assert(rel.map(_.toSeq).toSeq == abs.map(_.toSeq).toSeq)
    // "shared common gram" (df 3 > 2) is common; docs 0-2 carry it
    assert(rel(0).getLong(2) == 1 && rel(3).getLong(2) == 0)
  }

  test("linearQualityClassifier computes the exact hashed-feature logit") {
    val weights = (0 until 64).map(i => ((i * 2654435761L) % 2001) - 1000)
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.substring(0, 8), 16) % 64).toInt
    }
    val docs = Seq((0L, "Alpha beta gamma"), (1L, ""), (2L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.linearQualityClassifier(docs, "doc_id", "text",
      weights, biasMicro = 100L).orderBy("doc_id").collect()
    // doc 0: 3 unigrams + 2 bigrams, lowercased
    val feats = Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
    val expected = 100L + feats.map(f => weights(bucket(f))).sum
    assert(got(0).getLong(1) == 5 && got(0).getLong(2) == expected)
    assert(got(0).getBoolean(3) == (expected > 0))
    // empty text → no features, logit = bias
    assert(got(1).getLong(1) == 0 && got(1).getLong(2) == 100L)
    // single token → no bigram
    assert(got(2).getLong(1) == 1)
  }

  test("substringDedup catches misaligned spans spanDedup's disjoint windows miss") {
    // two docs share an 8-token run at different offsets (0 vs 1 filler)
    val docs = Seq(
      (0L, "a b c d e f g h unique0 tail0"),
      (1L, "x a b c d e f g h unique1"),
      (2L, "p q r s p q r s")) // within-doc repeat, overlapping intervals
      .toDF("doc_id", "text")
    // disjoint 3-token windows tile differently in docs 0/1 → q137 blind
    val span = TextOps.spanDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(span(0L) == 0 && span(1L) == 0)
    val sub = TextOps.substringDedup(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the shared a..h span is recovered in full in both docs
    assert(sub(0L).getLong(3) == 1 && sub(0L).getLong(4) == 8)
    assert(sub(1L).getLong(3) == 1 && sub(1L).getLong(4) == 8)
    // within-doc repeat: "p q r s" twice → 2 merged regions covering all 8
    assert(sub(2L).getLong(3) == 2 && sub(2L).getLong(4) == 8)
  }

  test("admitBatch appends admitted band keys so later batches collide with admits") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val ledger0 = TextOps.lshIndex(corpus, "doc_id", "text", 8, 4, 2)
    // batch A: doc 10 duplicates corpus doc 1 (refused); doc 11 is fresh
    val batchA = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "totally novel content right here")).toDF("doc_id", "text")
    val (decA, ledger1) =
      TextOps.admitBatch(batchA, "doc_id", "text", ledger0, 8, 4, 2)
    val aById = decA.collect().map(r => r.getLong(0) -> r).toMap
    assert(aById(10L).getBoolean(1) && aById(10L).getLong(2) == 1L)
    assert(!aById(11L).getBoolean(1))
    // batch B: doc 20 duplicates A's ADMIT (doc 11) — only catchable
    // because ledger1 carries the appended keys; doc 21 is fresh
    val batchB = Seq(
      (20L, "totally novel content right here"),
      (21L, "yet another unrelated string entirely")).toDF("doc_id", "text")
    val decB = TextOps.incrementalNearDup(batchB, "doc_id", "text",
      ledger1, 8, 4, 2).collect().map(r => r.getLong(0) -> r).toMap
    assert(decB(20L).getBoolean(1) && decB(20L).getLong(2) == 11L,
      "B dup of an A admit must be caught via the appended ledger")
    assert(!decB(21L).getBoolean(1))
    // idempotency: replaying batch A against ledger1 refuses both docs
    // (each collides with its own prior entry) and leaves the ledger
    // row-identical
    val (decA2, ledger2) =
      TextOps.admitBatch(batchA, "doc_id", "text", ledger1, 8, 4, 2)
    assert(decA2.collect().forall(_.getBoolean(1)))
    assert(ledger2.count() == ledger1.count())
    // rejected doc 10's keys were NOT appended
    assert(ledger1.filter(col("doc_id") === 10L).count() == 0)
    assert(ledger1.filter(col("doc_id") === 11L).count() == 4)
  }

  test("decontaminateSurgical: cuts exactly the union of contaminated trigram spans") {
    val corpus = Seq(
      (0L, "one two three four"),          // the probe doc itself
      (1L, "xx one two three yy"),         // one dirty trigram at start 2
      (2L, "one two three four five"),     // two overlapping dirty trigrams
      (3L, "totally clean text here"),     // untouched
      (4L, ""),                            // zero tokens (advice r11 crash)
      (5L, "   \t  ")                      // whitespace-only → zero tokens
    ).toDF("doc_id", "text")
    val out = TextOps.decontaminateSurgical(corpus,
        corpus.filter(col("doc_id") === 0L), "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    def md5of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // probe doc: self-excluded, nothing cut
    assert(out(0).getAs[Long]("n_dirty") == 0L)
    assert(out(0).getAs[String]("clean_md5") == md5of("one two three four"))
    // doc 1: tokens 2..4 dirty → "xx yy" survives
    assert(out(1).getAs[Long]("n_dirty") == 3L)
    assert(out(1).getAs[String]("clean_md5") == md5of("xx yy"))
    // doc 2: starts {1, 2} cover tokens 1..4 → "five" survives
    assert(out(2).getAs[Long]("n_dirty") == 4L)
    assert(out(2).getAs[String]("clean_md5") == md5of("five"))
    // doc 3: all clean
    assert(out(3).getAs[Long]("n_dirty") == 0L)
    assert(out(3).getAs[String]("clean_md5") == md5of("totally clean text here"))
    // docs 4/5: zero tokens must not crash (sequence(1,0) descends) and
    // clean to the empty stream
    Seq(4, 5).foreach { i =>
      assert(out(i).getAs[Long]("n_tokens") == 0L)
      assert(out(i).getAs[Long]("n_dirty") == 0L)
      assert(out(i).getAs[String]("clean_md5") == md5of(""))
    }
  }

  test("luhnScrub: validates the checksum before redacting") {
    // 4539148803436467 / 5555555555554444 / 4111111111111111 are
    // Luhn-valid (hand-checked); 4539148803436468 and 1234567890123456
    // fail the mod-10 sum and must SURVIVE; 123456789012 is too short
    // to even be a candidate
    val docs = Seq(
      (0L, "pay 4539148803436467 today"),
      (1L, "ref 4539148803436468 is an order id"),
      (2L, "cards 5555555555554444 and 4111111111111111 both"),
      (3L, "short 123456789012 run"),
      (4L, "just words"),
      // 18-digit run whose 16-digit PREFIX is Luhn-valid: maximal-run
      // extraction must not even see a candidate (the old {13,16}
      // quantifier redacted the prefix mid-number)
      (5L, "big 453914880343646777 run"),
      // a valid card AND a 17-digit run CONTAINING its digits: only the
      // standalone run is redacted (the old string-replace rewrote the
      // card's digits inside the longer run too)
      (6L, "pay 4539148803436467 and ref 45391488034364677 twice")
    ).toDF("doc_id", "text")
    val out = TextOps.luhnScrub(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def md5of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(0).getLong(1) == 1 && out(0).getLong(2) == 1)
    assert(out(0).getString(3) == md5of("pay <CARD> today"))
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == 0)
    assert(out(1).getString(3) == md5of("ref 4539148803436468 is an order id"))
    assert(out(2).getLong(1) == 2 && out(2).getLong(2) == 2)
    assert(out(2).getString(3) == md5of("cards <CARD> and <CARD> both"))
    assert(out(3).getLong(1) == 0 && out(3).getLong(2) == 0)
    assert(out(4).getLong(1) == 0 &&
      out(4).getString(3) == md5of("just words"))
    assert(out(5).getLong(1) == 0 && out(5).getLong(2) == 0)
    assert(out(5).getString(3) == md5of("big 453914880343646777 run"))
    assert(out(6).getLong(1) == 1 && out(6).getLong(2) == 1)
    assert(out(6).getString(3) ==
      md5of("pay <CARD> and ref 45391488034364677 twice"))
  }

  test("invertedIndexBlocks: blocks, delta gaps and tf streams (hand-computed)") {
    // term "x": docs 1 (tf 2), 5, 63 in block 0; doc 64 in block 1 —
    // the block boundary splits the posting list; term "y": doc 5 only
    val docs = Seq(
      (1L, "x x y2"), (5L, "x y"), (63L, "x"), (64L, "x")
    ).toDF("doc_id", "text")
    val out = TextOps.invertedIndexBlocks(docs, "doc_id", "text", 64)
      .orderBy("term", "block")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    def md5of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val x0 = out(("x", 0L))
    assert(x0.getLong(2) == 3 && x0.getLong(3) == 4) // df 3, cf 4 (tf 2 in doc 1)
    assert(x0.getLong(4) == 1L)
    assert(x0.getString(5) == md5of("1,4,58")) // docs 1,5,63 → gaps 4,58
    assert(x0.getString(6) == md5of("2,1,1")) // tf stream in doc order
    val x1 = out(("x", 1L))
    assert(x1.getLong(2) == 1 && x1.getLong(4) == 64L)
    assert(x1.getString(5) == md5of("64,")) // single posting → empty gaps
    assert(out(("y", 0L)).getLong(2) == 1)
  }

  test("editDistance1Pairs: deletion-neighborhood blocking equals quadratic") {
    val docs = Seq(
      (0L, "cat cut cat"),      // substitution pair, cnt(cat)=2
      (1L, "cats scat at"),     // insertion (cat/cats), deletion (cat/at)
      (2L, "dog dgo"),          // transposition = distance 2: EXCLUDED
      (3L, "lonely")            // no partner
    ).toDF("doc_id", "text")
    val out = TextOps.editDistance1Pairs(docs, "doc_id", "text")
      .select("t1", "t2", "cnt1", "cnt2", "dist")
      .as[(String, String, Long, Long, Long)].collect().toSet
    // quadratic reference over the same vocabulary
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Seq("cat" -> 2L, "cut" -> 1L, "cats" -> 1L, "scat" -> 1L,
      "at" -> 1L, "dog" -> 1L, "dgo" -> 1L, "lonely" -> 1L)
    val brute = (for {
      (a, ca) <- vocab; (b, cb) <- vocab if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, ca, cb, d.toLong)).toSet
    assert(out == brute, s"banded $out != quadratic $brute")
    // the three edit shapes are found, the distance-2 transposition is not
    assert(out.map(p => (p._1, p._2)) ==
      Set(("cat", "cats"), ("cat", "cut"), ("at", "cat"), ("cat", "scat")))
  }

  test("repetitionStats: hand-computed Gopher repetition signals") {
    val docs = Seq(
      // doc 0: 3 lines, one repeated ("dup dup"); tokens carry a
      // dominant 2-gram and a repeated 5-gram
      (0L, "dup dup\nmid line\ndup dup"),
      // doc 1: no repetition anywhere (long enough that the singleton
      // top 2-gram stays under the 20% char-coverage threshold)
      (1L, "all words here are unique tokens in this sentence today"),
      // doc 2: empty text
      (2L, ""),
      // doc 3: one token — no 2-grams, no 5-grams, one line
      (3L, "solo")
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    val d0 = out(0)
    // lines: [dup dup, mid line, dup dup] → 1 of 3 duplicated
    assert(math.abs(d0.getAs[Double]("dup_line_frac") - 1.0 / 3) < 1e-12)
    // line chars: 7+8+7=22, distinct 7+8=15 → 7/22
    assert(math.abs(d0.getAs[Double]("dup_line_char_frac") - 7.0 / 22) < 1e-12)
    // tokens: dup dup mid line dup dup → top 2-gram "dup dup" ×2 (ties
    // impossible: "dup mid"/"mid line"/"line dup" are singletons)
    assert(d0.getAs[String]("top_ngram") == "dup dup")
    // 2·len("dup dup")=14 over n_chars=24 (text length incl newlines)
    assert(math.abs(d0.getAs[Double]("top_ngram_frac") - 14.0 / 24) < 1e-12)
    // six tokens → two 5-grams, distinct → dup_ngram_frac 0
    assert(d0.getAs[Double]("dup_ngram_frac") == 0.0)
    assert(!d0.getAs[Boolean]("keep")) // dup_line_frac 0.33 > 0.30

    val d1 = out(1)
    assert(d1.getAs[Double]("dup_line_frac") == 0.0)
    assert(d1.getAs[String]("top_ngram") == "all words") // all counts 1 → lexicographic min
    assert(d1.getAs[Boolean]("keep"))

    val d2 = out(2)
    assert(d2.getAs[Long]("n_lines") == 0L)
    assert(d2.getAs[Double]("dup_line_frac") == 0.0)
    assert(d2.getAs[String]("top_ngram") == null)
    assert(d2.getAs[Boolean]("keep"))

    val d3 = out(3)
    assert(d3.getAs[Long]("n_lines") == 1L)
    assert(d3.getAs[String]("top_ngram") == null)
    assert(d3.getAs[Double]("top_ngram_frac") == 0.0)
    assert(d3.getAs[Boolean]("keep"))
  }

  test("repetitionStats: duplicated overlapping 5-grams are counted by the total-minus-distinct identity") {
    // "a b c d e" repeated twice with a separator: the 5-gram
    // "a b c d e" occurs twice (positions 1 and 7)
    val docs = Seq((0L, "a b c d e x a b c d e")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(docs, "doc_id", "text").collect()(0)
    // 7 overlapping 5-grams, total chars 9*5+2*... compute: grams are
    // 'a b c d e'(9) 'b c d e x'(9) 'c d e x a'(9) 'd e x a b'(9)
    // 'e x a b c'(9) 'x a b c d'(9) 'a b c d e'(9) → total 63,
    // distinct 54 → dup chars 9 over n_chars 21
    assert(math.abs(r.getAs[Double]("dup_ngram_frac") - 9.0 / 21) < 1e-12)
    assert(!r.getAs[Boolean]("keep")) // 0.43 > 0.15
  }

  test("suppressBoilerplate: broadcast-UDF form equals the literal array_except form element-for-element") {
    // a suppressed set just past BoilerLiteralMax forces the broadcast
    // plan; re-invoking with a small set takes the literal plan — both
    // run over the same arrays (duplicates, nulls-free, empties)
    val big = (0 until TextOps.BoilerLiteralMax + 10).map(i => s"boil$i") :+
      "boil9999"
    val arrays = Seq(
      (0L, Seq("a b", "boil1", "c d", "a b", "boil9999")),
      (1L, Seq("boil0", "boil2")),
      (2L, Seq[String]()),
      (3L, Seq("x y", "x y", "z w")))
    val df = arrays.toDF("doc_id", "sh")
    def run(boiler: Seq[String]): Map[Long, Seq[String]] =
      df.select(col("doc_id"),
          TextOps.suppressBoilerplate(spark, col("sh"), boiler).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(big.size > TextOps.BoilerLiteralMax)
    val viaBroadcast = run(big)
    // literal twin over an equivalent small set: same suppressed
    // members of the fixture's arrays
    val small = Seq("boil0", "boil1", "boil2", "boil9999")
    val viaLiteral = run(small)
    assert(viaBroadcast == viaLiteral,
      s"plans disagree: $viaBroadcast vs $viaLiteral")
    // and the semantics themselves: distinct, first-occurrence order
    assert(viaLiteral(0L) == Seq("a b", "c d"))
    assert(viaLiteral(1L) == Seq())
    assert(viaLiteral(2L) == Seq())
    assert(viaLiteral(3L) == Seq("x y", "z w"))
  }
}
