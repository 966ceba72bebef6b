package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis + near-dup operators for a training-data pipeline
  * (builder prompt: dedup families, language-ID, quality scoring, token
  * counting, fingerprinting), generalizing the reference's text-similarity
  * surface (`/root/reference/src/ai.py`) to corpus scale.
  *
  * Everything is pure column expressions (whole-stage codegen); the hash
  * primitive for MinHash is md5 so the DuckDB oracle can reproduce
  * signatures bit-for-bit (Spark's murmur `hash()` is not portable).
  */
object TextOps {

  /** Lowercased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Word n-shingles (n=2): zip the token array with its own tail.
    * `zip_with` pads the shorter side with null → trailing null shingle
    * filtered out; safe for 0/1-token docs (empty result).
    */
  def wordBigrams(toks: Column): Column =
    array_distinct(filter(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)),
      s => s.isNotNull && length(s) - length(regexp_replace(s, " ", "")) === 1))

  /** Above this many suppressed shingles the typedlit literal plan is
    * the wrong vehicle: tens of thousands of strings serialized into
    * the expression tree ship with EVERY task and can trip codegen /
    * plan-size limits, while a broadcast variable ships the set once
    * per executor. Below it the codegen'd array_except wins (measured
    * both ways at a ~50k production-sized set — see SCALE.md round 18).
    */
  val BoilerLiteralMax: Int = 4096

  /** Map-side boilerplate-shingle suppression (round 18 — ADVICE: the
    * size guard the round-17 literal form lacked): the distinct
    * elements of `sh` minus the suppressed set. Two plans, same
    * result set:
    *
    *  - `boiler.size <= BoilerLiteralMax`: `array_except(sh, lit)` —
    *    fully codegen'd, zero extra exchange, the measured round-17
    *    winner at control-plane sizes;
    *  - larger sets: a broadcast-variable UDF — the set rides the
    *    executor broadcast channel ONCE instead of living in the
    *    expression tree of every serialized task, so the plan stays
    *    small at production suppressed-set sizes. Same set semantics
    *    as array_except (first-occurrence order, duplicates dropped).
    *
    * Downstream consumers (minhash, Jaccard co-counts) are
    * order-insensitive, and TextOpsSpec pins the two forms equal
    * element-for-element anyway. */
  def suppressBoilerplate(s: org.apache.spark.sql.SparkSession,
      sh: Column, boiler: Seq[String]): Column =
    if (boiler.size <= BoilerLiteralMax) array_except(sh, typedlit(boiler))
    else {
      val bc = s.sparkContext.broadcast(boiler.toSet)
      val f = udf((a: Seq[String]) =>
        if (a == null) null else a.distinct.filterNot(bc.value.contains))
      f(sh)
    }

  /** Distinct word n-grams joined with single spaces. Guarded like
    * charNgrams: `sequence(1, size-n+1)` DESCENDS when size < n, so short
    * docs return an explicit empty array.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " "))))

  /** Benchmark decontamination (training-data hygiene; the n-gram
    * collision check the public LLM training reports describe: drop or
    * flag training docs that share long word n-grams with held-out
    * evaluation sets). Returns one row per CONTAMINATED corpus doc:
    * (doc_id, n_probes = distinct colliding probe docs, n_grams =
    * distinct colliding n-grams).
    *
    * Scale shape: a benchmark probe set is tiny next to a 100-TB
    * corpus, so the probe grams are broadcast and the corpus side is a
    * single explode → broadcast hash join → partial-aggregated groupBy
    * on doc_id — the corpus never shuffles its grams, only the
    * (contaminated-doc, probe, gram) hits, which are rarer by orders of
    * magnitude. Remove the broadcast hint for an oversized probe set
    * and the same plan degrades gracefully to a shuffled hash join on
    * the gram key, still linear. Self-matches (a probe doc colliding
    * with itself when probes ⊂ corpus) are excluded.
    */
  def decontaminate(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val cg = corpus.select(col(idCol).as("doc_id"),
      explode(wordNgrams(tokens(col(textCol)), n)).as("gram"))
    val pg = probes.select(col(idCol).as("probe_id"),
      explode(wordNgrams(tokens(col(textCol)), n)).as("gram"))
    cg.join(broadcast(pg), "gram")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("probe_id")).as("n_probes"),
        countDistinct(col("gram")).as("n_grams"))
  }

  /** Token-ID-level decontamination (round 11): the q124 collision
    * check over a TRAINED tokenizer's token stream instead of raw words
    * — the form the public training reports actually specify (8–13
    * consecutive-token overlap against held-out benchmarks), and the
    * composition proof that `TrainPrep.bpeApply`'s token streams feed
    * the hygiene operators. `toksCol` is any `array<string>` token
    * column; gram construction, broadcast shape and self-exclusion are
    * exactly [[decontaminate]]'s (probe grams broadcast, the corpus
    * side never shuffles its grams).
    */
  def decontaminateTokens(corpus: DataFrame, probes: DataFrame,
      idCol: String, toksCol: String, n: Int): DataFrame = {
    require(n >= 1, s"token n-gram order must be >= 1, got $n")
    val cg = corpus.select(col(idCol).as("doc_id"),
      explode(wordNgrams(col(toksCol), n)).as("gram"))
    val pg = probes.select(col(idCol).as("probe_id"),
      explode(wordNgrams(col(toksCol), n)).as("gram"))
    cg.join(broadcast(pg), "gram")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("probe_id")).as("n_probes"),
        countDistinct(col("gram")).as("n_grams"))
  }

  /** Surgical decontamination (round 11): instead of dropping a
    * contaminated document wholesale (q124 flags; the caller anti-joins),
    * CUT the contaminated token spans and keep the rest — the span-level
    * removal the newer public decontamination write-ups describe, which
    * preserves the bulk of a long document that shares one quoted
    * benchmark passage. A token is dirty iff it lies inside any word
    * n-gram (start s covers tokens [s, s+n−1]) that also occurs in a
    * DIFFERENT probe document. Returns per corpus doc: n_tokens,
    * n_dirty, and the md5 of the cleaned (dirty-tokens-removed,
    * space-rejoined) text — the hash keeps the oracle compact while
    * pinning every surviving token and its order.
    *
    * Scale shape: the probe gram set is broadcast and the corpus grams
    * are a posexplode → broadcast join → per-doc collect_set of DIRTY
    * START positions only (bounded by hits, which are rare by
    * construction at crawl scale — contamination rates are per-mille);
    * the cut itself is a map-side HOF pass. The per-token dirty check
    * scans the doc's dirty-start array (exists), so per-doc cost is
    * O(tokens × dirty_starts) — linear in the common all-clean case.
    */
  def decontaminateSurgical(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val base = corpus.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("__w"))
    val cg = base.select(col("doc_id"),
      posexplode(wordNgramsAll(col("__w"), n)).as(Seq("__p", "gram")))
      .select(col("doc_id"), (col("__p") + 1).cast("long").as("start"),
        col("gram"))
    val pg = probes.select(col(idCol).cast("long").as("probe_id"),
      explode(wordNgrams(tokens(col(textCol)), n)).as("gram"))
    val dirty = cg.join(broadcast(pg), "gram")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("start")).as("__starts"))
    val joined = base.join(dirty, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__w"),
        coalesce(col("__starts"), array().cast("array<long>")).as("__s"))
    val isDirty: (Column, Column) => Column = (j, starts) =>
      exists(starts, s => j >= s && j <= s + (n - 1))
    // empty guard: sequence(1, 0) DESCENDS to [1, 0] (default step −1 when
    // start > stop) and element_at(_, 0) throws unconditionally — so a
    // zero-token document must short-circuit before the index walk
    // (advice r11; crawl corpora carry empty docs routinely).
    val clean = when(size(col("__w")) === 0, array().cast("array<string>"))
      .otherwise(filter(
        transform(sequence(lit(1), size(col("__w"))),
          j => when(!isDirty(j.cast("long"), col("__s")),
            element_at(col("__w"), j))),
        t => t.isNotNull))
    joined.select(col("doc_id"),
        size(col("__w")).cast("long").as("n_tokens"),
        clean.as("__c"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("__c"))).cast("long").as("n_dirty"),
        md5(array_join(col("__c"), " ")).as("clean_md5"))
  }

  /** HTML→text extraction (round 10 — the most-hit stage of any
    * crawl-scale training pipeline: every document passes through this
    * before the dedup/quality/langid operators apply). Pure column
    * expressions, so the whole strip runs inside whole-stage codegen:
    *
    *  1. drop `<script>…</script>` and `<style>…</style>` INCLUDING
    *     their bodies (a tag-only strip would leak javascript and CSS
    *     into the training text — the classic boilerplate bug);
    *  2. drop `<!-- … -->` comments;
    *  3. replace every remaining tag with a space;
    *  4. decode the core entities — `&amp;` LAST, so double-encoded
    *     text (`&amp;lt;`) decodes exactly once (`&lt;`), matching
    *     single-pass HTML entity semantics;
    *  5. collapse whitespace.
    *
    * Known (documented) naive-regex limits, spec-gated: a bare `<` in
    * running text followed by a later `>` is treated as a tag; `>`
    * inside a quoted attribute value closes the tag early. Both are
    * malformed HTML to begin with; a crawl pipeline tolerates the
    * resulting over-strip.
    */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** [[extractHtmlText]] as a document operator: emits the extracted
    * text plus `boilerplate_ratio` = the fraction of the raw markup
    * that was NOT running text (1 − |text| / |html|; 0 for empty
    * input) — the per-doc quality signal crawl pipelines threshold on
    * (a near-1 ratio is a nav/boilerplate page, not content).
    */
  def extractHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol), col(htmlCol).as("__html"))
      .withColumn("text", extractHtmlText(col("__html")))
      .select(col(idCol), col("text"),
        when(length(col("__html")) === 0, lit(0.0))
          .otherwise(lit(1.0) -
            length(col("text")).cast("double") / length(col("__html")).cast("double"))
          .as("boilerplate_ratio"))

  /** URL canonicalization (round 10 — the crawl-dedup prerequisite: two
    * fetches of the same page under cosmetically different URLs must
    * collapse to one key BEFORE any content dedup runs, or the corpus
    * double-counts every page). Pure column expressions:
    *
    *  1. lowercase the scheme and host (path/query stay case-sensitive
    *     per RFC 3986 §6.2.2.1);
    *  2. drop the fragment (`#…` never reaches the server);
    *  3. drop the default port (`:80` for http, `:443` for https);
    *  4. drop tracking params (`utm_*`, `gclid`, `fbclid` — the
    *     client-analytics keys that vary per referral, not per page);
    *  5. byte-sort the surviving query params (param order is
    *     server-insignificant for the overwhelming majority of pages);
    *  6. empty path → "/", empty surviving query → no "?".
    *
    * Deliberately NOT done (each changes which resource is addressed or
    * is site-specific): www-prefix stripping, percent-decode, path
    * normalization of `..`, trailing-slash folding.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path = regexp_extract(url, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)")))
    concat(
      scheme, lit("://"), host,
      when(length(path) === 0, lit("/")).otherwise(path),
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** [[canonicalizeUrl]] as a document operator: canonical key + host
    * (the partition/quota key a crawl pipeline groups by) + surviving
    * param count.
    */
  def canonicalizeUrls(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol),
      canonicalizeUrl(col(urlCol)).as("canonical_url"),
      lower(regexp_extract(col(urlCol), "^[^:/?#]+://([^/?#:]*)", 1)).as("host"),
      size(filter(split(regexp_extract(col(urlCol), "\\?([^#]*)", 1), "&"), p =>
        length(p) > 0 && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)")))
        .cast("long").as("n_params"))

  /** Cross-document boilerplate detection (round 10; threshold made
    * corpus-relative in round 11 — the corpus-level repeated-span scrub
    * crawl pipelines run after per-doc dedup: nav bars, cookie banners
    * and license footers repeat VERBATIM across thousands of pages, and
    * n-grams shared by more than `perMille`/1000 of the corpus's
    * documents are boilerplate, not content). Emits one row per doc that
    * has any n-gram at all: total distinct n-grams, how many are
    * corpus-common, and the common ratio — the signal a pipeline
    * thresholds on to route docs to span-removal.
    *
    * The absolute threshold is derived from a corpus count —
    * ⌈N·perMille/1000⌉, floored at 1, in exact integer arithmetic
    * ((N·p + 999) DIV 1000, so both engines agree; a double multiply
    * would disagree with DuckDB's decimal 0.05·500) — which bounds the
    * common-gram broadcast BY CONSTRUCTION: at most 1000/perMille ·
    * (grams per doc) distinct grams can cross a fraction-of-corpus
    * threshold (an absolute doc count would let the broadcast common set
    * grow with the corpus). The count rides in as a broadcast scalar,
    * never a driver read.
    *
    * Scale shape: the gram→doc-frequency aggregation is two-phase
    * (partial counts map-side, one shuffle on the gram key); the
    * common-gram set it produces is tiny by construction (only grams
    * crossing the threshold survive), so the flagging join broadcasts
    * it — the corpus's gram stream is never shuffled a second time. At
    * 100 TB the first aggregation is the one unavoidable shuffle; a
    * count-min sketch pre-filter can shrink it further, same shape.
    */
  def commonNgramScrubRelative(df: DataFrame, idCol: String, textCol: String,
      n: Int, perMille: Int): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(perMille >= 1 && perMille <= 999,
      s"perMille must be in [1, 999], got $perMille")
    scrubWithThreshold(df, idCol, textCol, n,
      total => greatest(lit(1L),
        expr(s"(__total * $perMille + 999) DIV 1000")))
  }

  /** Luhn checksum validity of a digit-string column (ISO/IEC 7812 —
    * the mod-10 check every real payment-card number carries): from
    * the RIGHT, double every second digit (subtracting 9 past 9), sum,
    * valid iff ≡ 0 (mod 10). Pure higher-order fold — codegen'd, no
    * UDF.
    */
  def luhnValid(num: Column): Column = {
    val r = reverse(num)
    val s = aggregate(sequence(lit(1), length(r)), lit(0), (acc, i) => {
      val d = r.substr(i, lit(1)).cast("int")
      acc + when(pmod(i, lit(2)) === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    pmod(s, lit(10)) === 0
  }

  /** Check digit that makes `p` (the number WITHOUT its final digit)
    * Luhn-valid once appended: the digits of `p` sit one position
    * further from the right in the full number, so the parity flips —
    * double the ODD reversed positions of `p`. */
  def luhnCheckDigit(p: Column): Column = {
    val r = reverse(p)
    val s = aggregate(sequence(lit(1), length(r)), lit(0), (acc, i) => {
      val d = r.substr(i, lit(1)).cast("int")
      acc + when(pmod(i, lit(2)) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    pmod(lit(10) - pmod(s, lit(10)), lit(10))
  }

  /** Checksum-validated credit-card scrub (round 12, boundary-exact
    * since round 13 — the PII stage q58's regexes can't do honestly: a
    * bare 13–16-digit regex redacts order ids, timestamps and checksums
    * that merely LOOK like cards; production scrubbers validate the
    * Luhn digit first, as every issuer network's numbers carry it).
    * The text is partitioned into MAXIMAL digit / non-digit runs, so a
    * 17+-digit run (timestamp, order id) can never contribute its
    * 16-digit prefix as a candidate, and redaction rewrites exactly the
    * validated runs in place — never a candidate's digits appearing as
    * a substring of some longer run elsewhere (both bugs of the old
    * `[0-9]{13,16}` + string-replace shape). Maximal-run partitioning
    * is plain alternation (`[0-9]+|[^0-9]+`), deliberately avoiding
    * lookarounds so the DuckDB (RE2) oracle replays it verbatim.
    * Per document: candidate count (13–16-digit maximal runs), valid
    * count (Luhn-pass), md5 of the reassembled scrubbed text. Entirely
    * map-side column work — the text column never shuffles.
    */
  def luhnScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def isCand(p: Column): Column =
      p.substr(lit(1), lit(1)).between("0", "9") &&
        length(p).between(13, 16)
    df.select(col(idCol),
        expr(s"regexp_extract_all($textCol, '[0-9]+|[^0-9]+', 0)").as("__p"))
      .select(col(idCol),
        size(filter(col("__p"), p => isCand(p)))
          .cast("long").as("n_candidates"),
        size(filter(col("__p"), p => isCand(p) && luhnValid(p)))
          .cast("long").as("n_valid"),
        md5(array_join(transform(col("__p"), p =>
          when(isCand(p) && luhnValid(p), lit("<CARD>")).otherwise(p)),
          "")).as("scrubbed_fp"))
  }

  /** Blocked inverted-index export (round 12 — the IR-serving artifact
    * a retrieval pipeline materializes from a corpus; BM25 q117 and
    * RRF q185 SCORE queries online, this is the offline index they'd
    * read). Posting lists are built per (term, doc-id block of
    * `blockSize`), NOT per term: a stopword's corpus-sized posting
    * list is the classic hot-key reducer at 100 TB, and real indexes
    * are block-compressed anyway (delta-encoded doc gaps per block —
    * the layout every Lucene-shape engine serializes). Per block:
    * doc frequency, collection frequency, first doc id, and md5s of
    * the delta-encoded gap stream and the doc-ordered tf stream — the
    * hashes pin every posting and its order while keeping the export
    * row bounded. State per group ≤ `blockSize` postings by
    * construction.
    */
  def invertedIndexBlocks(docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    val postings = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("block", expr(s"doc_id DIV $blockSize"))
    postings.groupBy(col("term"), col("block"))
      .agg(count(lit(1)).cast("long").as("df_block"),
        sum(col("tf")).cast("long").as("cf_block"),
        min(col("doc_id")).as("first_doc"),
        sort_array(collect_list(col("doc_id"))).as("__ds"),
        expr("transform(array_sort(collect_list(struct(doc_id, tf))), x -> x.tf)")
          .as("__tfs"))
      .select(col("term"), col("block"), col("df_block"), col("cf_block"),
        col("first_doc"),
        md5(concat(col("first_doc").cast("string"), lit(","),
          array_join(when(size(col("__ds")) <= 1,
              array().cast("array<long>"))
            .otherwise(transform(sequence(lit(2), size(col("__ds"))), k =>
              element_at(col("__ds"), k) - element_at(col("__ds"), k - 1))),
            ","))).as("gaps_md5"),
        md5(array_join(col("__tfs"), ",")).as("tfs_md5"))
  }

  /** Edit-distance-1 token pairs via deletion-neighborhood blocking
    * (round 12 — the FastSS recipe, the typo-level dedup the n-gram
    * and MinHash families can't do: "recieve"/"receive" share few
    * shingles but are one edit apart). Candidate generation is EXACT
    * by the deletion-neighborhood lemma: if lev(u, v) ≤ 1 then the
    * depth-1 deletion neighborhoods N(u) = {u} ∪ {u minus one char}
    * and N(v) intersect — so an equi-join on neighborhood keys finds
    * every qualifying pair and `levenshtein` (native in BOTH engines,
    * same classic DP) verifies exactly. Never an all-pairs product:
    * each token emits length+1 keys, and key groups are
    * same-neighborhood-sized. Operates on DISTINCT tokens (vocabulary
    * mass, not corpus mass); output: token pairs with their distance
    * and corpus frequencies.
    */
  def editDistance1Pairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = graft.CacheScope.scoped { cs =>
    val vocab = cs.cache(
      docs.select(explode(tokens(col(textCol))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt")))
    // depth-1 deletion neighborhood: the token itself + every
    // one-char-deleted variant, tagged so the self-key (d=0) and
    // deletion keys (d=1) exist for the lemma's three match shapes
    val keyed = vocab.select(col("t"), col("cnt"), explode(concat(
        array(col("t")),
        transform(sequence(lit(1), length(col("t"))), i =>
          concat(col("t").substr(lit(1), i - 1),
            col("t").substr(i + 1, length(col("t")))))))
      .as("k"))
    val a = keyed.as("a"); val b = keyed.as("b")
    a.join(b, col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .select(col("a.t").as("t1"), col("b.t").as("t2"),
        col("a.cnt").as("cnt1"), col("b.cnt").as("cnt2"),
        levenshtein(col("a.t"), col("b.t")).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= 1)
  }

  /** Scrub core of [[commonNgramScrubRelative]]: gram doc-frequencies vs
    * a threshold that may depend on the corpus doc count (exposed to
    * `mkThreshold` as the broadcast scalar column `__total`). */
  private[graft] def scrubWithThreshold(df: DataFrame, idCol: String, textCol: String,
      n: Int, mkThreshold: Column => Column): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      explode(wordNgrams(tokens(col(textCol)), n)).as("gram"))
    val total = df.agg(count(lit(1)).as("__total"))
    // wordNgrams is per-doc distinct, so doc frequency = plain count
    val common = grams.groupBy("gram")
      .agg(count(lit(1)).as("gram_df"))
      .crossJoin(broadcast(total))
      .where(col("gram_df") > mkThreshold(col("__total")))
      .select(col("gram"), lit(1L).as("is_common"))
    grams.join(broadcast(common), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_common"), lit(0L))).as("n_common"))
      .withColumn("common_ratio",
        col("n_common").cast("double") / col("n_grams").cast("double"))
  }

  /** Model-based quality classifier inference (round 11 — the
    * fastText-shape linear gate the public crawl pipelines run beside
    * the rule-based Gopher battery q142): hashed unigram + bigram
    * features (same md5 8-hex-digit bucket as [[featureHash]]) scored
    * against a broadcast weight vector, logit = bias + Σ w[bucket(f)]
    * over ALL feature occurrences. Weights are integer micro-units so
    * the logit is exact in any accumulation order (the BM25 contract);
    * the keep decision thresholds the logit at 0 — equivalently a 0.5
    * sigmoid cut, without ever evaluating exp() (whose last-ulp
    * behavior differs across engines).
    *
    * Shape: the weight table rides as an array LITERAL inside the
    * expression — the whole scorer is one map-side `aggregate` over
    * the feature array, zero shuffle, zero join: inference cost is the
    * scan, which is what lets the published pipelines afford a model
    * gate on every crawled page.
    */
  def linearQualityClassifier(df: DataFrame, idCol: String, textCol: String,
      weightsMicro: Seq[Long], biasMicro: Long): DataFrame = {
    val dim = weightsMicro.size
    require(dim >= 1, "linearQualityClassifier: need at least one weight")
    val warr = array(weightsMicro.map(lit): _*)
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(dim.toLong))
    val toks = tokens(col(textCol))
    df.select(col(idCol), toks.as("__w"))
      .select(col(idCol), concat(col("__w"),
        when(size(col("__w")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("__w")) - 1),
            i => concat_ws(" ", element_at(col("__w"), i),
              element_at(col("__w"), i + 1))))).as("__f"))
      .select(col(idCol),
        size(col("__f")).cast("long").as("n_feats"),
        aggregate(col("__f"), lit(biasMicro),
          (acc, t) => acc + element_at(warr, (bucket(t) + 1).cast("int")))
          .as("logit_micro"))
      .withColumn("keep", col("logit_micro") > 0L)
  }

  /** BM25 ranking (round 10 — the retrieval scorer behind corpus search
    * and hard-negative mining). Okapi BM25 with the Lucene idf
    * (ln(1 + (N − df + 0.5)/(df + 0.5)), always positive) at k1 = 1.2,
    * b = 0.75. Determinism contract: the tf component is algebraically
    * cleared of fractions — tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) ==
    * 22·S·tf / (10·S·tf + 3S + 9·dl·N) with S = Σdl — so both engines
    * divide the SAME two exact integers; the idf's ln takes the same
    * single rational; each per-term score is quantized to integer
    * micro-units BEFORE the cross-term sum, which is then exact in any
    * order. Top-k via orderBy+limit (TakeOrderedAndProject: per
    * -partition heaps + driver merge, no global sort/single-task
    * window).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val hits = base.select(col("doc_id"), col("dl"),
        explode(array(terms.map(lit): _*)).as("term"), col("toks"))
      .withColumn("tf", size(filter(col("toks"), x => x === col("term"))).cast("long"))
      .where(col("tf") > 0)
      .drop("toks")
    val dfreq = hits.groupBy("term").agg(count(lit(1)).cast("long").as("gram_df"))
    hits.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (lit(2L) * (col("n_docs") - col("gram_df")) + lit(1L)).cast("double") /
          (lit(2L) * col("gram_df") + lit(1L)).cast("double")))
      .withColumn("tfc",
        (lit(22L) * col("sum_dl") * col("tf")).cast("double") /
          (lit(10L) * col("sum_dl") * col("tf") + lit(3L) * col("sum_dl") +
            lit(9L) * col("dl") * col("n_docs")).cast("double"))
      .withColumn("score_micro",
        round(col("idf") * col("tfc") * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("score_micro")).as("score_micro"),
        count(lit(1)).cast("long").as("n_terms_hit"),
        max(col("dl")).as("dl"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topK)
  }

  /** Batch BM25: score MANY queries in one corpus pass (round 11 — the
    * production shape of `bm25`; running retrieval per query would
    * re-tokenize 100 TB once per query). Same scorer and determinism
    * contract as `bm25` (see its scaladoc): tf over the distinct term
    * union is computed once per (doc, term), then fanned out to the
    * (query, term) mapping — a broadcast join against a literal table —
    * so the corpus scan count is 1 regardless of |queries|. Per-query
    * top-k via a `query_id`-partitioned window (each query's candidate
    * set shrinks independently; no global sort).
    */
  def bm25Batch(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], topK: Int): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.forall(_._2.nonEmpty), "every query needs at least one term")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val allTerms = queries.flatMap(_._2).distinct
    val qmap = spark.createDataFrame(
        queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) })
      .toDF("query_id", "term")
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val hits = base.select(col("doc_id"), col("dl"),
        explode(array(allTerms.map(lit): _*)).as("term"), col("toks"))
      .withColumn("tf", size(filter(col("toks"), x => x === col("term"))).cast("long"))
      .where(col("tf") > 0)
      .drop("toks")
    val dfreq = hits.groupBy("term").agg(count(lit(1)).cast("long").as("gram_df"))
    val perTerm = hits.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (lit(2L) * (col("n_docs") - col("gram_df")) + lit(1L)).cast("double") /
          (lit(2L) * col("gram_df") + lit(1L)).cast("double")))
      .withColumn("tfc",
        (lit(22L) * col("sum_dl") * col("tf")).cast("double") /
          (lit(10L) * col("sum_dl") * col("tf") + lit(3L) * col("sum_dl") +
            lit(9L) * col("dl") * col("n_docs")).cast("double"))
      .withColumn("score_micro",
        round(col("idf") * col("tfc") * lit(1000000.0)).cast("long"))
    val scored = perTerm.join(broadcast(qmap), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("score_micro")).as("score_micro"),
        count(lit(1)).cast("long").as("n_terms_hit"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= topK)
      .select("query_id", "doc_id", "score_micro", "n_terms_hit")
  }

  /** Assign per-query RRF ranks: 1-based position within each query's
    * result list under the caller's (deterministic, total) sort order.
    * The window is partitioned by `queryCol`, so rank assignment scales
    * with the number of concurrent queries — and each list is already a
    * bounded top-k, so no partition exceeds k rows.
    */
  def rrfRanked(list: DataFrame, queryCol: String, idCol: String,
      sort: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(queryCol)).orderBy(sort: _*)
    list.select(col(queryCol).cast("long").as("query_id"),
        col(idCol).cast("long").as("item_id"),
        row_number().over(w).cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion (round 11): fuse N ranked candidate lists
    * per query into one hybrid ranking — the standard recipe for
    * combining lexical (BM25) and vector (ANN) retrieval, with
    * `score(d) = Σ_lists 1/(k + rank_list(d))` (Cormack et al.'s RRF;
    * k = 60 conventionally). An item missing from a list simply
    * contributes nothing — no imputation.
    *
    * Determinism: each contribution is the exact integer
    * `1000000 DIV (k + rank)`, so the fused score is an exact int64 sum
    * in any order; ties break on item id.
    *
    * Scale shape: inputs are bounded per-query top-k lists (the
    * expensive corpus-facing work already happened upstream), so this is
    * a union + one hash aggregate + one query-partitioned window over
    * O(queries × k × lists) rows — negligible next to retrieval itself.
    */
  def rrfFuse(lists: Seq[DataFrame], kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(kRrf >= 1 && topK >= 1, "kRrf and topK must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val u = lists.map(_.select("query_id", "item_id", "rank")).reduce(_ unionAll _)
    val fused = u
      .withColumn("__contrib", expr(s"CAST(1000000 DIV ($kRrf + rank) AS BIGINT)"))
      .groupBy("query_id", "item_id")
      .agg(sum(col("__contrib")).as("rrf_micro"),
        count(lit(1)).cast("long").as("n_lists"),
        min(col("rank")).as("best_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("item_id"))
    fused.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= topK)
      .select("query_id", "item_id", "rrf_micro", "n_lists", "best_rank")
  }

  /** Corpus-fitted bigram language-model score (round 10 — the
    * perplexity-proxy quality filter from the public crawl-curation
    * recipes: fit an n-gram LM on the corpus, score each document by
    * average negative log-likelihood; low = predictable/boilerplate,
    * high = unusual. The real recipes use a 5-gram LM fit on a clean
    * reference corpus — same operator shape, bigger join keys).
    *
    * Model: P(w2|w1) = c2(w1,w2) / c1(w1), where both counts come from
    * bigram INSTANCES (c1 counts w1 in non-final position, so the
    * conditional normalizes exactly); every doc bigram exists in the
    * corpus counts by construction, so no smoothing is needed. Output
    * per doc: n_bigrams, total and average NLL.
    *
    * Determinism: per-bigram NLL = ln of ONE rational (c1/c2 — a
    * single identical division then ln on both engines), quantized to
    * integer micro-units BEFORE the per-doc sum (exact in any order);
    * the average is one final double division — the BM25 contract.
    *
    * Scale shape: two partial-aggregable count shuffles fit the model;
    * scoring joins the doc bigram stream on (w1,w2) then w1. Both
    * model tables are vocabulary-sized (Zipf: millions of rows against
    * a 100-TB corpus) — broadcast candidates; left to AQE here since
    * the fixture's tables are tiny either way.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val big = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    big.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("nll_micro", round(log(
        col("c1").cast("double") / col("c2").cast("double")) * lit(1000000.0))
        .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_micro")).as("nll_micro"))
      .withColumn("avg_nll",
        col("nll_micro").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Interpolated Kneser–Ney bigram LM score (round 11 — the smoothing
    * the public crawl-quality gates actually use: CCNet's perplexity
    * filter is a KenLM model, and KenLM's default is interpolated
    * modified KN). Upgrades `bigramLmScore`'s unsmoothed MLE with the
    * absolute-discount + continuation-probability estimate:
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1) + D·N1+(w1·)/c(w1) · N1+(·w2)/N1+(··)
    *
    * at the textbook discount D = 3/4. Fit on the corpus and scored on
    * the corpus (the q134 design), so every scored bigram is seen and
    * the discounted term is positive. Over the full vocabulary the
    * conditional sums to exactly 1 (Σ_w2 N1+(·w2) = N1+(··)) — the
    * property KNSpec pins.
    *
    * Determinism: with D = 3/4 every probability is the exact rational
    *   [(4·c12 − 3)·T + 3·N1f·Nc] / (4·c1·T),  T = N1+(··);
    * both engines build numerator and denominator as EXACT integers
    * (DECIMAL(38,0) here, HUGEINT in DuckDB — int64 products of two
    * count-sized factors overflow at web scale, the ADVICE-r10 lesson),
    * take ONE identical double division + ln, and quantize to integer
    * micro-units before the per-doc sum.
    *
    * Scale shape: identical to `bigramLmScore` — two partial-aggregable
    * count shuffles fit the model (the continuation counts reuse the
    * same c2 table, so no extra corpus pass), scoring joins the doc
    * bigram stream on (w1,w2), w1, w2; all model tables are
    * vocabulary-sized broadcast candidates.
    */
  def knBigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val big = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // c1 = Σ_w2 c12 (w1's non-final count); n1f = |{w2 : c(w1w2) > 0}|
    val c1n1 = c2.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1f"))
    val ncont = c2.groupBy("w2").agg(count(lit(1)).as("ncw2"))
    val types = c2.agg(count(lit(1)).as("ntypes"))
    big.join(c2, Seq("w1", "w2")).join(c1n1, Seq("w1")).join(ncont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("__num",
        (lit(4L) * col("c12") - lit(3L)).cast("decimal(38,0)") * col("ntypes")
          + (lit(3L) * col("n1f")).cast("decimal(38,0)") * col("ncw2"))
      .withColumn("__den",
        (lit(4L) * col("c1")).cast("decimal(38,0)") * col("ntypes"))
      .withColumn("q", round(log(
        col("__den").cast("double") / col("__num").cast("double"))
        * lit(1000000.0)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("q")).as("nll_micro"))
      .withColumn("avg_nll",
        col("nll_micro").cast("double") / col("n_bigrams").cast("double"))
  }

  /** MinHash base: one md5 per shingle → first 15 hex digits as int64 →
    * mod p. The n-hash family is then affine `(a·h + b) mod p` — one md5
    * per shingle TOTAL instead of one per (shingle × hash), and every op
    * is exact int64 arithmetic reproducible in any engine (h < 2^31,
    * a < 2^31 → a·h < 2^62, no overflow; ANSI-safe).
    */
  val MinhashP: Long = 2147483647L // 2^31 − 1, prime

  /** Fixed (a, b) coefficient pairs for the affine MinHash family. */
  val MinhashCoeffs: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (1214661601L, 987654321L),
    (747796405L, 1729L), (1181783497L, 7919L),
    (962731529L, 271828L), (1664525L, 1013904223L),
    (69069L, 362437L), (1566083941L, 1406932606L))

  /** Per-shingle base hashes (int64 in [0, p)). */
  def shingleHashes(shingles: Column): Column =
    // array_compact is a no-op on the values (shingles are never null)
    // but narrows the lambda's false-positive nullable element type to
    // ARRAY<BIGINT> containsNull=false — keeping downstream
    // size(array_intersect(...)) eligible for NativeSetOpsRule's fused
    // sorted-merge rewrite (the rule is guarded to null-free elements)
    array_compact(transform(shingles, s =>
      pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(MinhashP))))

  /** MinHash signature: array of n mins over the affine family.
    *
    * `hashes` is bound once per row through a one-element `transform`
    * and the n mins read the bound copy. Spelled inline, each min would
    * re-evaluate `hashes` — n md5s per shingle when the caller passes
    * `shingleHashes(...)` — and subexpression elimination cannot reach
    * inside `transform` (a codegen fallback). Null or empty `hashes`
    * give n nulls, as `array_min` does.
    */
  def minhashSignature(hashes: Column, n: Int): Column = {
    require(n >= 1 && n <= MinhashCoeffs.size,
      s"minhashSignature: n must be in [1, ${MinhashCoeffs.size}] " +
        s"(coefficient pool size), got $n — a silent take($n) would emit a " +
        "shorter signature and downstream band keys would index past it")
    element_at(transform(array(hashes), hs =>
      array(MinhashCoeffs.take(n).map { case (a, b) =>
        array_min(transform(hs, h => pmod(h * a + b, lit(MinhashP))))
      }: _*)), 1)
  }

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`,
    * each band's values joined into one bucket key. Docs sharing any
    * band key are candidate near-dups — turns the O(n²) pair scan into a
    * shuffle on band keys (SURVEY.md §2.4 scale note).
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1 &&
      bands * rowsPerBand <= MinhashCoeffs.size,
      s"lshBandKeys: bands*rowsPerBand must fit the signature " +
        s"(max ${MinhashCoeffs.size}), got $bands x $rowsPerBand — " +
        "element_at past the array end yields null band components that " +
        "concat_ws silently drops (degenerate colliding keys)")
    array((0 until bands).map { b =>
      concat_ws("-",
        (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)
  }

  /** SimHash over documents: explode tokens → one md5 per token → 32
    * per-bit majority votes as a hash aggregation → recombine. The
    * explode/groupBy shape guarantees each token is hashed exactly once
    * (a column-expression form re-evaluates the md5 array once per bit
    * after Catalyst's CollapseProject inlining — measured 19s vs ~1s at
    * sf0.1) and is embarrassingly parallel at cluster scale.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = conv(substring(md5(col("__t")), 1, 8), 16, 10).cast("long")
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"__b$b")
    }
    val fp = (0 until 32).map { b =>
      when(col(s"__b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), explode_outer(tokens(col(textCol))).as("__t"))
      .withColumn("__h", h)
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** Whitespace-normalized lowercase text — the canonical form both the
    * exact-dedup fingerprint and character shingling operate on.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text
    * — the exact-dedup key (hash-groupBy dedup at any scale).
    */
  def fingerprint(text: Column): Column =
    md5(normalizedText(text))

  /** Distinct character n-grams of the normalized text (the n-gram-Jaccard
    * dedup family's shingle set). Empty array for texts shorter than `n` —
    * guarded because `sequence(1, len-k)` with len-k < 1 would generate a
    * DESCENDING sequence, not an empty one.
    */
  def charNgrams(text: Column, n: Int): Column = {
    val t = normalizedText(text)
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n)))))
  }

  /** Fuzzy self-join: all (id1 < id2) pairs with Levenshtein distance ≤ 1,
    * via DELETION-NEIGHBORHOOD blocking — never a cross join.
    *
    * Two strings within edit distance 1 must share a key in
    * `{s} ∪ {s with one char deleted}`: equal strings share `s`;
    * a substitution at position i makes both single-deletions at i equal;
    * an insertion/deletion makes the shorter string itself equal one
    * deletion of the longer. So exploding each row to its `len+1` variant
    * keys and hash-joining on the key yields a candidate superset, and the
    * exact `levenshtein` filter (codegen'd, cheap on short strings) makes
    * the result EXACTLY the brute-force O(n²) pairs — verified against a
    * theta-join oracle. Fan-out is `len+1` rows per input (bounded, narrow);
    * the join is one hash shuffle on the variant key; a popular variant key
    * is a skew problem (AQE), not a correctness one. For distance k > 1 the
    * same scheme generalizes to k-deletion neighborhoods (k·len^k fan-out —
    * use length+prefix blocking past k=2).
    */
  def editDistanceOnePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col("__s")
    val variants = array_distinct(concat(
      array(s),
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i)))))
    val keyed = df.select(col(idCol).as("__id"), col(textCol).as("__s"))
      .where(s.isNotNull)
      .select(col("__id"), col("__s"), explode(variants).as("__k"))
    val a = keyed.select(col("__k"), col("__id").as("id1"), col("__s").as("s1"))
    val b = keyed.select(col("__k"), col("__id").as("id2"), col("__s").as("s2"))
    a.join(b, Seq("__k"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2") // equal/near strings share several keys
      // compute the distance once (Filter and Project don't CSE across
      // operator boundaries), then filter on the materialized column
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id1"), col("id2"), col("dist"))
  }

  /** SimHash near-dup self-join: all (id1 < id2) pairs whose 32-bit
    * [[simhash]] fingerprints differ in at most `maxDist` bits, via
    * BANDED blocking — never a cross join.
    *
    * Pigeonhole exactness: the fingerprint is split into 4 disjoint
    * 8-bit bands; a pair at Hamming distance ≤ 3 has at most 3 differing
    * bits, which can dirty at most 3 of the 4 bands, so the pair agrees
    * EXACTLY on at least one band and is generated as a candidate. The
    * final `bit_count(xor)` filter is exact, so the result equals the
    * brute-force O(n²) Hamming join (spec-verified). Requires
    * `maxDist ≤ 3`; larger radii need more/smaller bands (the
    * multi-index Hamming scheme generalizes: b bands catch distance
    * b−1).
    *
    * Scale shape: fan-out is a constant 4 rows per doc; candidates hash-
    * shuffle on (band, key) — 2^8 values per band spreads uniformly
    * (simhash bits are md5-derived, ~unbiased). A corpus of near-
    * identical boilerplate makes one band key hot → AQE skew split, same
    * playbook as [[editDistanceOnePairs]].
    *
    * The banded fingerprint base is pinned for a [[graft.CacheScope]]
    * (both self-join sides read it) and released before returning.
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = graft.CacheScope.scoped { cs =>
    require(maxDist >= 0 && maxDist <= 3,
      s"4x8-bit banding is exact only for maxDist <= 3, got $maxDist")
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("bkey"))
    }
    // pinned: both self-join sides read the fingerprints — without it
    // the whole tokenize+vote aggregation runs twice
    val keyed = cs.cache(simhash(df, idCol, textCol)
      .select(col(idCol).as("__id"), col("simhash"),
        explode(array(bands: _*)).as("__b"))
      .select(col("__id"), col("simhash"),
        col("__b.band").as("band"), col("__b.bkey").as("bkey")))
    val a = keyed.select(col("band"), col("bkey"), col("__id").as("id1"),
      col("simhash").as("s1"))
    val b = keyed.select(col("band"), col("bkey"), col("__id").as("id2"),
      col("simhash").as("s2"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2") // close pairs agree on several bands
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Hashing-trick featurizer (feature hashing): each token hashes to
    * one of `dim` buckets with a ±1 sign drawn from an independent hash
    * bit, and the document's sparse feature vector is the per-bucket
    * signed sum — the fixed-dimension, vocabulary-free vectorization
    * step for linear models and fast dedup sketches. The sign makes
    * bucket collisions unbiased (colliding tokens cancel in
    * expectation) — the standard trick from the feature-hashing
    * literature. Both hashes derive from the token's md5 (bucket: first
    * 8 hex digits mod dim; sign: parity of the 9th), so the oracle
    * reproduces them digit-by-digit.
    *
    * Scale shape: explode → map-side partial aggregate; the shuffle
    * carries at most |docs|·dim rows regardless of corpus token count.
    * Output: (idCol, bucket, value, n_tokens) — only occupied buckets.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame =
    featureHashTokens(df, idCol, textCol, dim)
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__s")).as("value"), count(lit(1)).as("n_tokens"))

  /** The per-token face of [[featureHash]]: one `(idCol, bucket, __s)`
    * row per token, BEFORE the per-(doc, bucket) aggregate. Exposed
    * (round 18) so a consumer that immediately multiplies `value` by a
    * per-bucket constant (the linear scorer's Σ value·w) can distribute
    * the multiply over the sign sum and fold everything into ONE
    * per-doc aggregate — Σ_b (Σ signs)·w_b = Σ_tokens sign·w_b exactly,
    * in integer arithmetic — instead of paying the (doc, bucket)
    * aggregate, a join, and a second per-doc aggregate. */
  private[operators] def featureHashTokens(df: DataFrame, idCol: String,
      textCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"featureHash: dim must be positive, got $dim")
    val md = md5(col("__t"))
    val bucket = pmod(conv(substring(md, 1, 8), 16, 10).cast("long"), lit(dim.toLong))
    val sign = when(conv(substring(md, 9, 1), 16, 10).cast("long") % 2 === 0,
      lit(1L)).otherwise(lit(-1L))
    df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), bucket.as("bucket"), sign.as("__s"))
  }

  /** Vocabulary coverage / OOV audit: build the top-`vocabSize` token
    * vocabulary by document frequency (ties broken by token, so the
    * cutoff is deterministic), then score every document's
    * out-of-vocabulary token count and rate — the pre-tokenizer check a
    * training pipeline runs to size its vocab and catch corpora the
    * tokenizer would shred into unknowns.
    *
    * Scale shape: the tokenized projection is pinned for a
    * [[graft.CacheScope]] (it feeds both the DF aggregate and the
    * scoring join) and released before returning; the vocabulary is
    * top-k over an aggregate (tiny) and BROADCAST into the scoring
    * join, so the corpus never reshuffles on token.
    * Output: (idCol, n_tokens, n_oov, oov_rate); empty-text docs have
    * no tokens and do not appear.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = graft.CacheScope.scoped { cs =>
    require(vocabSize >= 1, s"vocabCoverage: vocabSize must be >= 1, got $vocabSize")
    val tok = cs.cache(
      df.select(col(idCol), explode(tokens(col(textCol))).as("__t")))
    val vocab = tok.dropDuplicates(idCol, "__t")
      .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__t")).limit(vocabSize)
      .select(col("__t").as("__v"))
    tok.join(broadcast(vocab), col("__t") === col("__v"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, digits, or single other
    * non-space chars — a portable regex proxy for a real tokenizer.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Quality metrics: token count, mean token length, stopword ratio,
    * alphabetic-char ratio, and a weighted quality score. All single-op
    * double arithmetic (deterministic across engines).
    */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(Stopwords.map(lit): _*))).cast("double")
    val nChars = length(col(textCol)).cast("double")
    val nAlpha = length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("double")
    df.withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len", when(nTok === 0, 0.0).otherwise(nAlpha / nTok))
      .withColumn("stopword_ratio", when(nTok === 0, 0.0).otherwise(nStop / nTok))
      .withColumn("alpha_ratio", when(nChars === 0, 0.0).otherwise(nAlpha / nChars))
  }

  /** Language-ID: marker-stopword voting. Deterministic n-gram-free
    * heuristic (the container has no langid model); the DuckDB oracle
    * reproduces the same votes, which is the correctness contract.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"))

  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit): _*)))

  /** Predicted language = first lang (in LangMarkers order) with the max
    * marker count; "und" when all scores are 0.
    */
  def predictLang(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangMarkers.map { case (lang, m) => (lang, langScore(toks, m)) }
    val maxScore = greatest(scores.map(_._2): _*)
    // when-chain in declaration order: earlier langs win ties
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
  }

  /** C4-style corpus-global SPAN dedup (round 10): chop every document
    * into disjoint n-token spans and keep only the FIRST occurrence of
    * each span text across the whole corpus (first = lowest (doc_id,
    * span_idx)); later occurrences are the removable boilerplate /
    * syndicated-content mass the C4 and RefinedWeb reports strip before
    * training. Returns one row per spanned doc: (doc_id, n_spans,
    * n_kept, n_dup). Docs shorter than n tokens have no spans and no
    * row (mirror the filter in downstream joins).
    *
    * Scale shape: explode to one row per span, ONE shuffle on the span
    * text (hash-partitioned window, no global sort), then a map-side
    * partial-aggregated groupBy back on doc_id. Span texts are bounded
    * (n tokens), so the shuffle payload is O(corpus tokens) — the same
    * profile as exact doc dedup (q20), just at span granularity. Skewed
    * ultra-common spans each land on one partition but a window over
    * (span_text) needs no buffering beyond the count — no OOM key.
    */
  /** Gopher/MassiveText-style composite document filter (round 10):
    * the published rule battery as one pass — token-count bounds, mean
    * word length bounds, minimum stopword evidence, symbol-to-word
    * ratio cap — emitting a per-doc `fail_mask` bitmask (bit 0 =
    * too-few/too-many tokens, bit 1 = mean word length out of [3,10],
    * bit 2 = fewer than 2 distinct stopwords, bit 3 = symbol ratio
    * over 0.1) plus the final keep verdict. A bitmask instead of a
    * boolean because at 100 TB the REASON distribution is the
    * operational signal (which rule fires where tells you whether a
    * crawl segment is tables, code, or another language). Pure column
    * expressions — one map-side pass, no shuffle.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 10, maxTokens: Int = 100000): DataFrame = {
    // Stage 1 evaluates each expensive subtree ONCE: the token split is
    // a higher-order-function chain (no whole-stage codegen), so
    // inlining it into every rule expression multiplies interpreted
    // per-row work ~8x — measured 3.5x slower at sf1 before this split.
    // CollapseProject keeps the stages separate because the stage-1
    // outputs are referenced multiple times downstream.
    val tokenized = df.select(
      col(idCol).cast("long").as("doc_id"), col(textCol).as("__text"),
      tokens(col(textCol)).as("__w"))
    val base = tokenized.select(
      col("doc_id"),
      size(col("__w")).cast("long").as("n_tokens"),
      length(regexp_replace(col("__text"), "[^a-zA-Z]", ""))
        .cast("double").as("n_alpha"),
      size(array_intersect(array_distinct(col("__w")),
        array(Stopwords.map(lit): _*))).cast("long").as("n_stopwords"),
      length(regexp_replace(col("__text"), "[a-zA-Z0-9\\s]", ""))
        .cast("double").as("n_symbol"))
    val nTok = col("n_tokens")
    val meanLen = when(nTok === 0, lit(0.0))
      .otherwise(col("n_alpha") / nTok.cast("double"))
    val symbolRatio = when(nTok === 0, lit(1.0))
      .otherwise(col("n_symbol") / nTok.cast("double"))
    val metrics = base.select(col("doc_id"), nTok, col("n_stopwords"),
      meanLen.as("mean_word_len"), symbolRatio.as("sym_ratio"))
    val bit0 = when(nTok < minTokens || nTok > maxTokens, 1L).otherwise(0L)
    val bit1 = when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0, 2L)
      .otherwise(0L)
    val bit2 = when(col("n_stopwords") < 2, 4L).otherwise(0L)
    val bit3 = when(col("sym_ratio") > 0.1, 8L).otherwise(0L)
    metrics.select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
      col("n_stopwords"), (bit0 + bit1 + bit2 + bit3).as("fail_mask"))
      .withColumn("keep", col("fail_mask") === 0L)
  }

  /** Inverted-index build (round 10): the IR artifact behind q90/q130 as
    * a first-class materialization — one posting list per term with
    * document frequency, total term frequency, and a digest of the
    * doc-ordered postings (`lpad(doc):tf` entries, lexicographic =
    * numeric by padding, so the digest is engine-portable without
    * relying on aggregation order). Scale shape: partial-aggregated
    * groupBy (term, doc) then groupBy term — two shuffles, both keyed
    * fine-grained enough to spread; the heaviest term's postings list
    * lives on one reducer, which is why production indexes shard
    * postings by doc range — here the md5 keeps the reduced row O(1)
    * regardless of posting length.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol).cast("long").as("doc_id"), explode(toks).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("total_tf"),
        md5(concat_ws(",", sort_array(collect_list(
          concat(lpad(col("doc_id").cast("string"), 10, "0"), lit(":"),
            col("tf").cast("string")))))).as("postings_md5"))
  }

  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    // disjoint windows: span i covers 1-indexed tokens [i*n+1, i*n+n]
    val spans = df
      .select(col(idCol).cast("long").as("doc_id"), toks.as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), (size(col("w")) / n).cast("int") - 1),
          i => array_join(slice(col("w"), i * n + 1, lit(n)), " "))))
      .withColumnRenamed("pos", "span_idx")
      .withColumnRenamed("col", "span_text")
    val firstWin = Window.partitionBy(col("span_text"))
      .orderBy(col("doc_id"), col("span_idx"))
    spans
      .withColumn("rn", row_number().over(firstWin))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
  }
  /** EXACT substring dedup at ARBITRARY offsets (round 11 — the
    * published suffix-array recipe's result, Spark-shaped): find every
    * maximal duplicated token span of length ≥ n anywhere in the
    * corpus, regardless of alignment — the stronger operator next to
    * [[spanDedup]]'s disjoint-window approximation (which only catches
    * spans that happen to tile the same window boundaries).
    *
    * Equivalence to the suffix-array formulation: a token span of
    * length L ≥ n is duplicated iff every one of its L−n+1 OVERLAPPING
    * n-grams is duplicated, and conversely each duplicated n-gram
    * witnesses a duplicated span — so the union of duplicated-n-gram
    * intervals IS the set of maximal ≥n-token duplicated regions.
    * Pipeline: explode overlapping n-gram positions; count occurrences
    * per gram with a partial-aggregating groupBy joined back on gram
    * (map-side combine collapses hot grams before any shuffle, and the
    * join-back is AQE-skew-splittable — a gram-keyed window would pin a
    * corpus-frequent gram's every occurrence to one task); keep
    * positions whose gram occurs
    * more than once corpus-wide (within-doc repeats count, as in the
    * reference recipe); merge each doc's seed intervals with the
    * classic running-max sweep (per-doc window, bounded by doc
    * length). Output per doc (with ≥ n tokens): n_tokens, duplicated
    * seed positions, merged duplicated regions, and the exact token
    * coverage of those regions.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
    val pos = base.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => array_join(slice(col("w"), i, lit(n)), " "))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
    // gram occurrence counting as groupBy + join-back, NOT a gram-keyed
    // window (advice r11): a corpus-frequent gram ("to be or not to"-class)
    // would concentrate every occurrence row into one window task with no
    // escape hatch; the aggregate path map-side-combines the count down to
    // one row per gram, and the join-back is a streaming equi-join AQE can
    // skew-split — same output, survives the hot key.
    val dupGrams = pos.groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
    val seeds = pos.join(dupGrams, "gram")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = seeds
      .withColumn("prev_end", max(col("pos") + (n - 1)).over(wDoc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_pos"),
        sum(when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L)).as("n_dup_regions"),
        sum(greatest(lit(0L), col("pos") + (n - 1)
          - greatest(coalesce(col("prev_end"), lit(0L)), col("pos") - 1)))
          .as("n_dup_tokens"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("n_dup_regions"), lit(0L)).as("n_dup_regions"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** Parse robots.txt content into per-domain (rule, allow, pattern)
    * rows for the wildcard agent — the compliance half of a polite
    * crawler (companions: `canonicalizeUrls` q128, per-domain quota
    * q107). Declarative line-machine: explode lines, strip `#`
    * comments, tag `User-agent:` lines, carry the CURRENT group forward
    * with a running `last(_, ignoreNulls)` window keyed by line order,
    * keep `Allow:`/`Disallow:` lines inside `*` groups. Directive
    * matching is case-insensitive, rule-path case is preserved, empty
    * `Disallow:` means no restriction (per the robots.txt de-facto
    * spec) and is dropped.
    *
    * RFC 9309 §2.2.3 path patterns (round 12): `*` matches any character
    * run (including empty) anywhere in the rule, a TRAILING `$` anchors
    * the match to the end of the path; both are compiled to an anchored
    * regex at parse time (escape every other regex metacharacter —
    * a non-trailing `$` is a literal octet per the RFC). `prefix` keeps
    * the raw rule text (with wildcards) and `prefix_len` its length —
    * the RFC's most-specific-rule order is by rule-path octet count,
    * wildcards counted as written. Rules stay one row per (domain,
    * rule): the compiled-pattern table is exactly as broadcast-sized as
    * the prefix table was. Remaining documented simplification: one
    * agent line per group (stacked agent lines take the last).
    */
  def parseRobots(robots: DataFrame, domainCol: String, contentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(contentCol), "\n")).as(Seq("line_no", "raw")))
      .select(col("domain"), col("line_no"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
    lines
      .withColumn("agent",
        when(lower(col("line")).startsWith("user-agent:"),
          lower(trim(expr("substring(line, 12)")))))
      .withColumn("cur_agent",
        last(col("agent"), ignoreNulls = true)
          .over(Window.partitionBy(col("domain")).orderBy(col("line_no"))))
      .filter(col("cur_agent") === "*")
      .withColumn("is_allow",
        when(lower(col("line")).startsWith("allow:"), lit(true))
          .when(lower(col("line")).startsWith("disallow:"), lit(false)))
      .filter(col("is_allow").isNotNull)
      .withColumn("prefix",
        when(col("is_allow"), trim(expr("substring(line, 7)")))
          .otherwise(trim(expr("substring(line, 10)"))))
      .filter(col("prefix") =!= "")
      .withColumn("__anchored", col("prefix").endsWith("$"))
      .withColumn("__body",
        when(col("__anchored"),
          expr("substring(prefix, 1, length(prefix) - 1)"))
          .otherwise(col("prefix")))
      // compile the RFC 9309 pattern: escape regex metacharacters (a
      // non-trailing '$' is a literal), then '*' -> '.*', '^' start
      // anchor always, '$' end anchor iff the rule ended in '$'
      .withColumn("pattern", concat(lit("^"),
        regexp_replace(
          regexp_replace(col("__body"),
            "([\\\\.\\[\\]\\{\\}\\(\\)\\+\\-\\^\\$\\?\\|])", "\\\\$1"),
          "\\*", ".*"),
        when(col("__anchored"), lit("$")).otherwise(lit(""))))
      .select(col("domain"), col("prefix"), col("is_allow"),
        length(col("prefix")).cast("long").as("prefix_len"),
        col("pattern"))
  }

  /** Robots.txt compliance filter: decide `allowed` for every URL by
    * most-specific-rule-match against the domain's wildcard-agent rules
    * (Google/RFC 9309 semantics: the longest rule path wins — `*`/`$`
    * patterns match via the compiled regex, specificity is the rule's
    * octet count as written; on a length tie the Allow wins; no
    * matching rule means allowed). The rules
    * side is robots-corpus-sized (bounded rules per domain) and
    * broadcast by default; at a scale where it stops fitting, pass
    * `broadcastRules = false` and the same plan becomes a domain-keyed
    * shuffle equi-join — never an all-pairs comparison. The per-URL
    * argmax is a `max(struct(...))` aggregate (partial map-side
    * combine), not a window — no single-partition sort at 100 TB.
    */
  def robotsFilter(urls: DataFrame, idCol: String, domainCol: String,
      pathCol: String, robots: DataFrame, robotsDomainCol: String,
      contentCol: String, broadcastRules: Boolean = true): DataFrame = {
    val rules0 = parseRobots(robots, robotsDomainCol, contentCol)
    val rules = if (broadcastRules) broadcast(rules0) else rules0
    urls
      .select(col(idCol), col(domainCol).as("domain"), col(pathCol).as("path"))
      .join(rules, Seq("domain"), "left")
      .withColumn("hit",
        col("pattern").isNotNull && regexp_like(col("path"), col("pattern")))
      .groupBy(col(idCol), col("domain"), col("path"))
      .agg(max(when(col("hit"),
        struct(col("prefix_len"), col("is_allow"), col("prefix")))).as("best"))
      .select(col(idCol), col("domain"), col("path"),
        coalesce(col("best.is_allow"), lit(true)).as("allowed"),
        col("best.prefix").as("matched_prefix"),
        col("best.prefix_len").as("matched_len"))
  }
  /** Hyperlink extraction over raw HTML — the crawl-frontier /
    * link-graph feeder (PageRank q80 and the k-core/triangle family
    * consume edge lists exactly like this one). `regexp_extract_all`
    * pulls every `href="…"` value (double-quoted attributes; the same
    * markup envelope `extractHtml`/q125 targets), one `explode` per
    * link, then relative references resolve against the page's own
    * domain and absolute `http(s)://` references contribute their
    * authority. Pure codegen'd column work — no UDF, no shuffle until
    * the caller aggregates edges.
    */
  def extractLinks(docs: DataFrame, idCol: String, htmlCol: String,
      baseDomainCol: String): DataFrame = {
    docs
      .select(col(idCol), col(baseDomainCol).as("src_domain"),
        explode(expr(s"regexp_extract_all($htmlCol, 'href=\"([^\"]*)\"', 1)"))
          .as("href"))
      .withColumn("dst_domain",
        when(col("href").rlike("^https?://"),
          regexp_extract(col("href"), "^https?://([^/]+)", 1))
          .otherwise(col("src_domain")))
      .filter(col("dst_domain") =!= "")
  }
  /** Banded LSH index rows for a corpus — the PERSISTED form of the
    * near-dup index an incremental pipeline stores between batches:
    * one (doc_id, band, bkey) row per band per doc (same md5-affine
    * minhash family and banding as q24). At 100 TB this table is what
    * lives in the lakehouse; text is read once, at indexing time.
    */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String,
      nHashes: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= nHashes,
      s"lshIndex: bands*rowsPerBand ($bands x $rowsPerBand) exceeds the " +
        s"signature length ($nHashes)")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        wordBigrams(tokens(col(textCol))).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(shingleHashes(col("sh")), nHashes))
      .select(col("doc_id"),
        posexplode(lshBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bkey")))
  }

  /** Incremental near-dup admission — the lookup half of [[lshIndex]]:
    * decide, for every document in a NEW batch, whether it collides
    * with the already-indexed corpus, touching only the batch text and
    * the band-key ledger. The corpus text is never re-read and never
    * re-hashed — the cost is O(batch) hashing plus an equi-join on
    * (band, bkey) against the stored index, which is the only shape
    * that stays affordable when the corpus is 100 TB and the batch is
    * a day's crawl. Batch docs with no shingles (empty text) are
    * admitted (no index rows, no collisions). Returns one row per
    * batch doc: is_dup, the smallest colliding corpus id, and the
    * count of distinct colliding corpus docs. In-batch first-writer
    * dedup composes downstream (q00/F3); this operator is strictly
    * batch-vs-index.
    */
  def incrementalNearDup(batch: DataFrame, idCol: String, textCol: String,
      ledger: DataFrame, nHashes: Int, bands: Int, rowsPerBand: Int): DataFrame =
    decideAgainstLedger(
      lshIndex(batch, idCol, textCol, nHashes, bands, rowsPerBand),
      batch.select(col(idCol).cast("long").as("doc_id")), ledger)

  /** Shared decision join: batch band keys vs ledger band keys →
    * per-batch-doc (is_dup, first_match, n_hits). */
  private def decideAgainstLedger(batchKeys: DataFrame, batchIds: DataFrame,
      ledger: DataFrame): DataFrame = {
    val hits = batchKeys
      .join(ledger.select(col("doc_id").as("old_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .groupBy(col("doc_id"))
      .agg(min(col("old_id")).as("first_match"),
        countDistinct(col("old_id")).as("n_hits"))
    batchIds
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("first_match").isNotNull.as("is_dup"),
        col("first_match"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Close the incremental-admission LOOP (round 11 — the verdict's
    * "append half"): decide the batch against the ledger exactly like
    * [[incrementalNearDup]] AND return the updated ledger with the
    * ADMITTED docs' band keys appended, so tomorrow's batch collides
    * with today's admits — without this, the daily-admit pipeline only
    * ever compares against the original corpus. The append is
    * idempotent by construction (union + dropDuplicates on
    * (doc_id, band, bkey)): replaying a batch after a failure cannot
    * double-insert, and a re-submitted doc collides with its OWN
    * previous entry and is refused — the re-admission semantics a
    * checksum ledger has (F1).
    *
    * Returns (decisions, updatedLedger). Both are lazy plans over the
    * inputs; a production loop persists `updatedLedger` (parquet
    * append of just the admitted keys) between batches — the caller
    * owns that materialization, mirroring how the reference keeps its
    * ledger in an external table rather than in the job.
    */
  def admitBatch(batch: DataFrame, idCol: String, textCol: String,
      ledger: DataFrame, nHashes: Int, bands: Int,
      rowsPerBand: Int): (DataFrame, DataFrame) = {
    val bk = lshIndex(batch, idCol, textCol, nHashes, bands, rowsPerBand)
    val decisions = decideAgainstLedger(bk,
      batch.select(col(idCol).cast("long").as("doc_id")), ledger)
    val admittedKeys = bk.join(
      decisions.filter(!col("is_dup")).select(col("doc_id")), Seq("doc_id"))
    val updated = ledger.select(col("doc_id"), col("band"), col("bkey"))
      .unionByName(admittedKeys.select(col("doc_id"), col("band"), col("bkey")))
      .dropDuplicates("doc_id", "band", "bkey")
    (decisions, updated)
  }

  /** Overlapping (non-distinct) word n-grams — the counting variant of
    * [[wordNgrams]]: a gram that occurs k times appears k times, so
    * repetition mass is measurable. Short docs return an explicit empty
    * array (`sequence(1, size-n+1)` DESCENDS when size < n).
    */
  def wordNgramsAll(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))

  private def sumLengths(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + length(x).cast("long"))

  /** Gopher/MassiveText REPETITION battery (round 11 — the missing half
    * of q142's rule battery: the paper's within-document repetition
    * signals, Rae et al. 2021 Table A1). Per document:
    *
    *  - `dup_line_frac`: fraction of non-empty lines that are repeats of
    *    an earlier line (= 1 − distinct/total);
    *  - `dup_line_char_frac`: fraction of line characters inside those
    *    repeats — computed as (total line chars − distinct-line chars) /
    *    total line chars, an identity that needs NO per-line counting;
    *  - `top_ngram` / `top_ngram_frac`: the most frequent word `topN`-gram
    *    (ties → lexicographically smallest) and the fraction of document
    *    characters its occurrences cover (count × gram length / doc chars);
    *  - `dup_ngram_frac`: fraction of document characters inside
    *    duplicated `dupN`-grams, the same total−distinct identity over
    *    overlapping grams (occurrences may overlap, so this is the
    *    deterministic OVERCOUNTING variant of the paper's position-union
    *    measure — documented, and replayed identically by the oracle);
    *  - `keep`: all four under the published thresholds (0.30 / 0.20 /
    *    0.20 / 0.15).
    *
    * Scale shape: ENTIRELY map-side — one staged select evaluates the
    * token split and line split once (the q142 lesson), every signal is
    * a higher-order fold over those arrays, and the top-gram argmax is a
    * single linear `aggregate` over the doc's SORTED gram array (run-
    * length scan; ascending sort + strictly-greater update = smallest
    * gram wins ties at any parallelism). No shuffle, no join: at 100 TB
    * this runs at scan bandwidth next to `gopherFilter`, where a
    * groupBy-(doc, gram) formulation would shuffle the whole token
    * stream twice.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"repetitionStats: bad n ($topN, $dupN)")
    val lines = filter(split(col("__text"), "\n"), l => length(l) > 0)
    val s1 = df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    val s2 = s1.select(col("doc_id"),
      length(col("__text")).cast("long").as("n_chars"),
      lines.as("__l"), tokens(col("__text")).as("__w"))
    val s3 = s2.select(col("doc_id"), col("n_chars"),
      size(col("__l")).cast("long").as("n_lines"),
      size(array_distinct(col("__l"))).cast("long").as("n_dlines"),
      sumLengths(col("__l")).as("line_chars"),
      sumLengths(array_distinct(col("__l"))).as("dline_chars"),
      array_sort(wordNgramsAll(col("__w"), topN)).as("__gt"),
      wordNgramsAll(col("__w"), dupN).as("__gd"))
    // linear run-length argmax over the sorted gram array; '' is never a
    // gram (tokens are non-empty), so the zero accumulator is safe.
    val top = expr(
      """aggregate(__gt,
        |  named_struct('prev', '', 'run', cast(0 as bigint),
        |               'best', cast(0 as bigint), 'bestg', ''),
        |  (acc, x) -> named_struct(
        |    'prev', x,
        |    'run', if(x = acc.prev, acc.run + 1, cast(1 as bigint)),
        |    'best', if(if(x = acc.prev, acc.run + 1, 1) > acc.best,
        |               cast(if(x = acc.prev, acc.run + 1, 1) as bigint),
        |               acc.best),
        |    'bestg', if(if(x = acc.prev, acc.run + 1, 1) > acc.best,
        |               x, acc.bestg)),
        |  acc -> named_struct('best', acc.best, 'bestg', acc.bestg))
        |""".stripMargin)
    val s4 = s3.withColumn("__top", top).select(col("doc_id"),
      col("n_chars"), col("n_lines"),
      when(col("n_lines") === 0, lit(0.0)).otherwise(
        (col("n_lines") - col("n_dlines")).cast("double") /
          col("n_lines").cast("double")).as("dup_line_frac"),
      when(col("line_chars") === 0, lit(0.0)).otherwise(
        (col("line_chars") - col("dline_chars")).cast("double") /
          col("line_chars").cast("double")).as("dup_line_char_frac"),
      when(col("__top.best") > 0, col("__top.bestg")).as("top_ngram"),
      when(col("n_chars") === 0 || col("__top.best") === 0, lit(0.0))
        .otherwise((col("__top.best") * length(col("__top.bestg"))).cast("double") /
          col("n_chars").cast("double")).as("top_ngram_frac"),
      when(col("n_chars") === 0, lit(0.0)).otherwise(
        (sumLengths(col("__gd")) - sumLengths(array_distinct(col("__gd"))))
          .cast("double") / col("n_chars").cast("double")).as("dup_ngram_frac"))
    s4.withColumn("keep",
      col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20 &&
        col("top_ngram_frac") <= 0.20 && col("dup_ngram_frac") <= 0.15)
  }
}
