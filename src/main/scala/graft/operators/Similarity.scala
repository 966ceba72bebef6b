package graft.operators

import org.apache.spark.ml.feature.{HashingTF, IDF, MinHashLSH, RegexTokenizer}
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Anomaly / similarity operators (SURVEY.md §2.4, A1–A3).
  *
  * The reference scores every pair with a weighted field similarity and
  * keeps pairs ≥ 0.9 (`/root/reference/src/ai.py:10-60`). Numeric/exact
  * branches are pure column expressions; the string branch (TF-IDF cosine)
  * uses spark.ml fitted ONCE per corpus (fixing Q6 — the reference re-fits
  * on each 2-document pair, making IDF degenerate), and the scale path is
  * `MinHashLSH.approxSimilarityJoin` instead of the O(n·m) nested loop.
  */
object Similarity {

  /** A2 weights (`src/ai.py:11-17`). */
  val Weights: Map[String, Double] = Map(
    "concept" -> 0.8, "amount" -> 0.1, "account_number" -> 0.0,
    "bank" -> 0.0, "transaction_date" -> 0.1)

  /** A1 numeric branch (`src/ai.py:26-28`): relative closeness
    * 1 − |a−b| / max(|a|,|b|); equal values (incl. 0,0) → 1.
    */
  def numericCloseness(a: Column, b: Column): Column =
    when(a === b, lit(1.0))
      .otherwise(lit(1.0) - abs(a - b) / greatest(abs(a), abs(b)))

  /** A1 exact-match branch (`src/ai.py:30-31`). */
  def exactMatch(a: Column, b: Column): Column =
    when(a === b, lit(1.0)).otherwise(lit(0.0))

  /** A2 weighted combination over silver fields (`src/ai.py:33-40`):
    * concept treated here with exact-match (string TF-IDF variant below),
    * amount numeric, date exact.
    */
  def weightedScore(concept: Column, amount: Column, date: Column): Column =
    concept * Weights("concept") + amount * Weights("amount") +
      date * Weights("transaction_date")

  /** A3 theta join (`src/ai.py:42-60`): score candidate pairs within a
    * REQUIRED blocking equi-condition and keep those ≥ threshold.
    * Candidate generation is a hash-shuffle equi-join on `blockOn`, so
    * the pair count is Σ per-block |t1ᵦ|·|t2ᵦ| — never the unbounded
    * |t1|·|t2| the reference's nested loop implies, which does not
    * survive 100 TB — this signature cannot express the O(n²) mistake.
    */
  def anomalyPairs(t1: DataFrame, t2: DataFrame, blockOn: Column,
      score: Column, threshold: Double): DataFrame =
    t1.join(t2, blockOn).withColumn("similarity_score", score)
      .filter(col("similarity_score") >= threshold)

  /** TF-IDF pipeline fitted once per corpus (Q6 fix): text → tokens →
    * hashed TF → IDF vector.
    */
  def tfidfVectors(docs: DataFrame, textCol: String, numFeatures: Int = 1 << 18): DataFrame = {
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__toks")
      .setPattern("\\s+")
    val tf = new HashingTF().setInputCol("__toks").setOutputCol("__tf")
      .setNumFeatures(numFeatures)
    val withTf = tf.transform(tok.transform(docs))
    val idf = new IDF().setInputCol("__tf").setOutputCol("tfidf").fit(withTf)
    idf.transform(withTf).drop("__toks", "__tf")
  }

  private def sparseNorm(v: SparseVector): Double = {
    var s = 0.0
    val vals = v.values
    var i = 0
    while (i < vals.length) { s += vals(i) * vals(i); i += 1 }
    math.sqrt(s)
  }

  // Pure sparse arithmetic — never densify: with 2^18 hashed features a
  // .toArray per pair is ~500k ops against ~100 for the sparse walk.
  private val cosineUdf = udf { (a: Vector, b: Vector) =>
    val sa = a.asInstanceOf[SparseVector]
    val sb = b.asInstanceOf[SparseVector]
    val na = sparseNorm(sa)
    val nb = sparseNorm(sb)
    if (na == 0 || nb == 0) 0.0
    else {
      var i = 0; var j = 0; var d = 0.0
      while (i < sa.indices.length && j < sb.indices.length) {
        if (sa.indices(i) == sb.indices(j)) { d += sa.values(i) * sb.values(j); i += 1; j += 1 }
        else if (sa.indices(i) < sb.indices(j)) i += 1
        else j += 1
      }
      d / (na * nb)
    }
  }

  /** A1 string branch at corpus scale: TF-IDF cosine over candidate pairs
    * (id1 < id2 within a blocking key to stay sub-quadratic).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // spark.ml IDF.fit throws on an empty corpus ("Haven't seen any
    // document yet") — empty batches are routine at scale (retries,
    // backfills), so short-circuit to a typed empty result instead.
    if (docs.isEmpty) {
      return docs.select(col(idCol).as("id1"), col(idCol).as("id2"),
        lit(0.0).as("similarity_score")).limit(0)
    }
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val v = tfidfVectors(docs.repartition(par), textCol)
      .select(col(idCol), col(blockCol), col("tfidf"))
    val a = v.select(col(idCol).as("id1"), col(blockCol).as("__b"), col("tfidf").as("v1"))
    val b = v.select(col(idCol).as("id2"), col(blockCol).as("__b"), col("tfidf").as("v2"))
    a.join(b, "__b").filter(col("id1") < col("id2"))
      .withColumn("similarity_score", cosineUdf(col("v1"), col("v2")))
      .filter(col("similarity_score") >= threshold)
      .select("id1", "id2", "similarity_score")
  }

  /** A1 string branch, ORACLE-EXACT variant: corpus-fitted term weights
    * in pure integer arithmetic, so pair scores are bit-identical at any
    * parallelism and reproducible by the DuckDB oracle (q43) — the
    * verification spark.ml's IDF can't offer.
    *
    * Weighting is linear inverse document frequency
    * `w(term, doc) = tf · (100·N DIV df)` (integer division; documented
    * divergence from log-IDF, same corpus-fitted spirit — Q6 fix
    * applies). Each doc's sparse vector is ONE sorted ARRAY<BIGINT> of
    * `(md5-hash(term) << 32) | w` — hash < 2^31, w < 2^32 — and the
    * per-pair dot is the native two-pointer `graft_packed_dot`
    * (exact Σw1·w2 in int64, no per-pair allocation). Hash collisions
    * merge term counts identically on both engines by construction
    * (grouping is BY HASH).
    *
    * Scale: one explode+groupBy for tf, one groupBy for df, and an
    * UNHINTED equi-join on the block key for pair generation — AQE picks
    * broadcast when the blocked side fits `autoBroadcastJoinThreshold`
    * and a shuffled hash/sort-merge join when it doesn't, so a 100-TB
    * corpus never attempts an impossible whole-side broadcast (band the
    * block key per the q36 note if single blocks themselves grow hot).
    * The `docs.count()` is a driver-side scalar for the IDF numerator —
    * one cheap count job at plan build.
    */
  def exactTfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val (pairs, vecs) = exactTfidfCosinePairsImpl(docs, idCol, textCol,
      blockCol, threshold)
    // materialize eagerly (lineage-truncating local checkpoint), then drop
    // the cache — the caller gets a self-contained result and no cache
    // entry outlives the call; checkpoint blocks are GC-managed
    val out = pairs.localCheckpoint()
    vecs.unpersist(blocking = false)
    out
  }

  /** Builds (pairs, cached vecs) WITHOUT the final localCheckpoint —
    * package-private so PlanAuditSpec can assert the pair join carries no
    * forced broadcast (the checkpoint in the public method hides the
    * plan from `queryExecution`). Callers own unpersisting `vecs`.
    */
  private[graft] def exactTfidfCosinePairsImpl(docs: DataFrame, idCol: String,
      textCol: String, blockCol: String, threshold: Double): (DataFrame, DataFrame) = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(docs.sparkSession)
    val n = docs.count()
    val toks = docs.select(col(idCol).as("__id"), col(blockCol).as("__b"),
      explode(TextOps.tokens(col(textCol))).as("__t"))
    val termHash = pmod(
      conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long"),
      lit(TextOps.MinhashP))
    val tfh = toks.withColumn("__h", termHash)
      .groupBy(col("__id"), col("__b"), col("__h"))
      .agg(count(lit(1)).as("__tf"))
    val dfh = tfh.groupBy(col("__h")).agg(countDistinct(col("__id")).as("__df"))
    val weighted = tfh.join(dfh, "__h")
      .withColumn("__w", col("__tf") * expr(s"CAST(${100L * n} AS BIGINT) DIV __df"))
      .withColumn("__packed", shiftleft(col("__h"), 32) + col("__w"))
    val vecs = weighted.groupBy(col("__id"), col("__b"))
      .agg(sort_array(collect_list(col("__packed"))).as("__pv"),
        sum(col("__w") * col("__w")).as("__nrm"),
        max(col("__w")).as("__mw"), count(lit(1)).as("__len"))
      .persist() // the bounds check + both pair-join sides read this
    // Packing/overflow contract — fail loudly instead of corrupting keys:
    // every w must fit the low 32 bits of the packed int64, and
    // maxW²·maxLen must stay below 2^63 so neither a per-doc norm Σw²
    // nor a pair dot Σw1·w2 can overflow int64. max() and count() are
    // themselves exact, so checking AFTER the aggregation is sound even
    // though __nrm was computed in the same pass — if the bound holds,
    // no intermediate could have overflowed.
    val stats = vecs.agg(max(col("__mw")), max(col("__len"))).head()
    if (!stats.isNullAt(0)) {
      val maxW = stats.getLong(0)
      val maxLen = stats.getLong(1)
      require(maxW < (1L << 32) &&
        BigInt(maxW) * BigInt(maxW) * BigInt(maxLen) < (BigInt(1) << 63),
        s"exactTfidfCosinePairs: corpus breaks the exact-int64 packing " +
          s"contract (max w=$maxW, max vector length=$maxLen); " +
          s"shrink the IDF numerator scale for this corpus size")
    }
    val a = vecs.select(col("__b"), col("__id").as("id1"),
      col("__pv").as("pv1"), col("__nrm").as("n1"))
    val bb = vecs.select(col("__b"), col("__id").as("id2"),
      col("__pv").as("pv2"), col("__nrm").as("n2"))
    val pairs = a.join(bb, Seq("__b")).filter(col("id1") < col("id2"))
      .withColumn("__dot", call_function(GraftFunctions.PackedDotName,
        col("pv1"), col("pv2")))
      .withColumn("similarity_score",
        when(col("n1") === 0 || col("n2") === 0, lit(0.0)).otherwise(
          col("__dot").cast("double") /
            (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double")))))
      .filter(col("similarity_score") >= threshold)
      .select(col("id1"), col("id2"), col("similarity_score"))
    (pairs, vecs)
  }

  /** A3 scale path: MinHashLSH approx similarity join on hashed token
    * sets — candidate generation is a shuffle on hash buckets, not a
    * cross join (SURVEY.md §4 optimizer note).
    */
  def lshNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxJaccardDistance: Double): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__toks")
      .setPattern("\\s+")
    val tf = new HashingTF().setInputCol("__toks").setOutputCol("__tf")
      .setNumFeatures(1 << 18).setBinary(true)
    // repartition: a single parquet file arrives as ONE partition; the
    // candidate-pair distance pass is CPU-bound and must fan out.
    val feats = tf.transform(tok.transform(docs.repartition(par)))
      .filter(size(col("__toks")) > 0)
    val lsh = new MinHashLSH().setInputCol("__tf").setOutputCol("__hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(feats)
    model.approxSimilarityJoin(feats, feats, maxJaccardDistance, "jaccard_dist")
      .select(
        col(s"datasetA.$idCol").as("id1"),
        col(s"datasetB.$idCol").as("id2"),
        col("jaccard_dist"))
      .filter(col("id1") < col("id2"))
  }
}
