package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded text-corpus generator for `corpus_build`.
  *
  * Documents are drawn from per-language pseudo-word vocabularies, so
  * two unrelated documents share almost no word bigrams. On top of the
  * clean documents the generator plants the cases each corpus-build step
  * exists for, and computes in plain Scala, without calling the program,
  * which documents every step must keep:
  *
  *  - low-quality pages (too short, or mostly digits) for the quality gate;
  *  - exact re-crawls (same words, other case and spacing) for the
  *    fingerprint dedup;
  *  - near re-crawls (the page with its closing phrase repeated once:
  *    another fingerprint, the same word-bigram set) for the MinHash-LSH
  *    dedup;
  *  - a spam stratum (a fixed marker phrase) as the label of the quality
  *    classifier.
  *
  * Every copy has a larger id than its original, so keep-first dedup
  * keeps the original.
  */
object CorpusGen {

  final case class Doc(id: Long, lang: String, source: String, text: String, y: Long)

  /** The generated corpus and the ids each stage must keep. */
  final case class Corpus(docs: IndexedSeq[Doc], clean: Set[Long], tokens: Map[Long, Int]) {
    def byId: Map[Long, Doc] = docs.iterator.map(d => d.id -> d).toMap
  }

  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es")
  val SpamMarker = "buy now click here free offer"

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** `n` distinct pseudo-words of 3 to 8 letters for one language. */
  def vocabulary(seed: Long, lang: Int, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 1000L + lang)
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n)
      out += Seq.fill(3 + r.nextInt(6))(Letters.charAt(r.nextInt(Letters.length))).mkString
    out.toIndexedSeq
  }

  /** Lowercased whitespace tokens, the program's word model. */
  def tokenCount(text: String): Int = text.toLowerCase.split("\\s+").count(_.nonEmpty)

  def generate(seed: Long, docs: Int, sources: Int, sourceSkew: Double, vocabSize: Int,
      lowQualityShare: Double, exactDupShare: Double, nearDupShare: Double,
      spamShare: Double): Corpus = {
    val r = rng(seed, 7L)
    val vocab = Langs.indices.map(vocabulary(seed, _, vocabSize))
    val skew = new BronzeGen.Skewed(sources, sourceSkew)
    val langSkew = new BronzeGen.Skewed(Langs.size, 1.0)
    val nLow = math.round(docs * lowQualityShare).toInt
    val nExact = math.round(docs * exactDupShare).toInt
    val nNear = math.round(docs * nearDupShare).toInt
    val nClean = docs - nLow - nExact - nNear
    def words(lang: Int, n: Int) = Seq.fill(n)(vocab(lang)(r.nextInt(vocabSize)))
    // clean pages end in "x y x y": appending "x y" again adds no new
    // word bigram, which is how a near re-crawl is made
    val clean = (0 until nClean).map { i =>
      val lang = langSkew.sample(r)
      val (x, y) = (vocab(lang)(r.nextInt(vocabSize)), vocab(lang)(r.nextInt(vocabSize)))
      val spam = r.nextDouble() < spamShare
      val body = words(lang, 30 + r.nextInt(41)).mkString(" ") +
        (if (spam) " " + SpamMarker else "") + s" $x $y $x $y"
      Doc(i.toLong, Langs(lang), f"site-${skew.sample(r)}%02d.example", body, if (spam) 1L else 0L)
    }
    val low = (0 until nLow).map { i =>
      val lang = langSkew.sample(r)
      val text =
        if (i % 2 == 0) words(lang, 5 + r.nextInt(10)).mkString(" ")
        else Seq.fill(25 + r.nextInt(20))(f"${r.nextInt(100000)}%05d").mkString(" ")
      Doc((nClean + i).toLong, Langs(lang), f"site-${skew.sample(r)}%02d.example", text, 0L)
    }
    // each copied original is copied once, exactly or nearly
    val originals = r.ints(0, nClean).distinct().limit((nExact + nNear).toLong).toArray
    val exact = (0 until nExact).map { i =>
      val o = clean(originals(i))
      val text = o.text.split(" ").zipWithIndex
        .map { case (w, k) => if (k % 3 == 0) w.toUpperCase else w }.mkString("  ")
      o.copy(id = (nClean + nLow + i).toLong, text = text)
    }
    val near = (0 until nNear).map { i =>
      val o = clean(originals(nExact + i))
      val tail = o.text.split(" ").takeRight(2).mkString(" ")
      o.copy(id = (nClean + nLow + nExact + i).toLong, text = s"${o.text} $tail")
    }
    val all = clean ++ low ++ exact ++ near
    Corpus(all, clean.map(_.id).toSet, all.iterator.map(d => d.id -> tokenCount(d.text)).toMap)
  }

  /** `TrainPrep.domainQuota`'s election, restated: per source, the `cap`
    * documents with the smallest md5("source|id").
    */
  def quota(docs: Iterable[Doc], cap: Int): Set[Long] =
    docs.groupBy(_.source).values.flatMap { ds =>
      ds.toSeq.sortBy(d => (BronzeGen.md5Hex(s"${d.source}|${d.id}"), d.id)).take(cap).map(_.id)
    }.toSet

  /** `TrainPrep.stratifiedSample`'s bucket of an id: the first 15 hex
    * digits of md5(id), mod 100.
    */
  def bucket(id: Long): Int =
    (java.lang.Long.parseLong(BronzeGen.md5Hex(id.toString).substring(0, 15), 16) % 100).toInt
}
