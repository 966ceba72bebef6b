package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.operators.{TextOps, TrainPrep, UnigramLm}
import graft.sources.Ingest

/** `corpus_build`: a closed loop with one client running the LLM-data
  * corpus build over a seeded text corpus, pass after pass.
  *
  * scan → quality gate → exact dedup → MinHash-LSH near-dedup →
  * per-source quota → language mix → unigram-LM tokenize → epoch-shard
  * packing, inside one `CacheScope`, then the quality classifier
  * (`TrainPrep.logregTrain`) on the mixed set.
  *
  * The chain follows the registered corpus-build query (q227) and its
  * trained-classifier variant (q228/q232) step for step, on generated
  * input instead of the testdata tables. Every pass is checked against
  * the generator's expectation.
  */
object CorpusBuild {

  /** Language mix: the percentage of each language's documents kept. */
  private val MixRates = Map("en" -> 70, "de" -> 60, "fr" -> 50, "es" -> 40)
  private val MaxPieceLen = 4
  private val PackBudget = 512L
  private val Epochs = 2
  private val Shards = 8
  private val LogregDim = 256
  private val LogregRounds = 8

  /** One untimed pass before timing: the first pass runs interpreted and
    * C1-compiled code and takes about twice as long as later ones. A pass
    * takes 6-9 s on the 4-core box, close to --seconds; at least two timed
    * passes keep the pass count from flipping between one and two with the
    * box's speed, which made the median bimodal.
    */
  private val WarmupPasses = 1
  private val MinPasses = 2

  /** The documents that must come out of every pass. */
  final case class Plan(corpus: CorpusGen.Corpus, survivors: Set[Long], cap: Int) {
    def docs: Long = corpus.docs.size.toLong
  }

  def plan(ctx: Ctx): Plan = {
    val c = CorpusGen.generate(ctx.seed, ctx.int("docs"), ctx.int("sources"),
      ctx.double("source_skew"), ctx.int("vocab_words"), ctx.double("low_quality_share"),
      ctx.double("exact_dup_share"), ctx.double("near_dup_share"), ctx.double("spam_share"))
    val cap = ctx.int("quota_cap")
    val byId = c.byId
    val quota = CorpusGen.quota(c.clean.toSeq.map(byId), cap)
    val survivors = quota.filter(id => CorpusGen.bucket(id) < MixRates(byId(id).lang))
    Plan(c, survivors, cap)
  }

  /** Timing, row counts and outputs of one pass. */
  final case class Pass(wallMs: Double, outputMs: Double, rows: Map[String, Long],
      out: DataFrame, weights: Seq[Long])

  /** Run the corpus build once. With a tracer, every layer's output is
    * materialized at its boundary inside a span, so each span's self time
    * is that layer's own work.
    */
  def pass(ctx: Ctx, dir: String, p: Plan, vocab: Seq[UnigramLm.Piece], tracer: Tracer,
      traced: Boolean): Pass = {
    val spark = ctx.spark
    val rows = mutable.Map[String, Long]()
    val pinned = mutable.Buffer[DataFrame]()
    // a checkpoint, not a persist: it also cuts the lineage, so a later
    // layer's planning does not grow with the layers before it
    def layer(span: String)(df: => DataFrame): DataFrame =
      if (!traced) df
      else tracer.span(span) {
        val m = df.localCheckpoint()
        rows(span) = m.count()
        pinned += m
        m
      }
    var weights = Seq.empty[Long]
    var outputAt = 0.0
    var inner: DataFrame = null
    val start = tracer.nowMs
    val out = tracer.span(if (traced) "pass.traced" else "pass") {
      val built = CacheScope.scoped { cs =>
        val corpus = cs.cache(layer("sources.scan")(Ingest.table(spark, dir, "corpus")))
        val quality = layer("textops.quality")(TextOps.qualityMetrics(corpus, "text")
          .filter(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.5)
          .select("doc_id", "lang", "source", "text", "y"))
        val ded = cs.cache(layer("textops.exact_dedup")(quality
          .withColumn("__fp", TextOps.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("__fp")).orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__fp", "__rn")))
        val nd = layer("textops.lsh")(nearDedup(cs, ded))
        val quota = layer("trainprep.quota")(
          TrainPrep.domainQuota(nd, lower(col("source")), "doc_id", cap = p.cap)
            .drop("domain", "quota_rank"))
        val mixed = cs.cache(layer("trainprep.mix")(
          TrainPrep.stratifiedSample(quota, "doc_id", "lang", MixRates).drop("bucket")))
        val tok = cs.cache(layer("unigram.apply")(
          UnigramLm.apply(mixed, "doc_id", "text", vocab, MaxPieceLen)))
        val packed = layer("trainprep.pack")(TrainPrep.packEpochShards(
          tok.select(col("doc_id"), col("n_pieces")), "doc_id", "n_pieces",
          seed = s"perfbench-${ctx.seed}", epochs = Epochs, nShards = Shards, budget = PackBudget))
        // the packed output is committed first; the classifier trains after
        inner = packed.join(tok.drop("n_pieces"), "doc_id").localCheckpoint()
        outputAt = tracer.nowMs
        weights = tracer.span("trainprep.logreg") {
          TrainPrep.logregTrain(mixed, "doc_id", "text", "y", LogregDim, LogregRounds)
        }
        inner
      }
      // the scope checkpoints its result again; the inner copy is dead
      CacheScope.free(inner)
      built
    }
    val end = tracer.nowMs
    pinned.foreach(CacheScope.free)
    Pass(end - start, outputAt - start, rows.toMap, out, weights)
  }

  /** MinHash-LSH near-dedup as in q227: 8 hashes in 4 bands of 2 over
    * word bigrams; of every candidate pair whose bigram Jaccard is at
    * least 0.2, the larger id is dropped.
    */
  private def nearDedup(cs: CacheScope.Scope, ded: DataFrame): DataFrame = {
    val base = cs.cache(ded.select(col("doc_id"),
        TextOps.wordBigrams(TextOps.tokens(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0))
    val banded = cs.cache(base
      .withColumn("sig", TextOps.minhashSignature(TextOps.shingleHashes(col("sh")), 8))
      .select(col("doc_id"), posexplode(TextOps.lshBandKeys(col("sig"), 4, 2)).as(Seq("band", "bkey"))))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
    val ex = base.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = base.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val nearDupIds = cand
      .join(ex.select(col("doc_id").as("id1"), col("s")), "id1")
      .join(ex.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")).cast("double") >= 0.2)
      .select(col("id2").as("doc_id")).distinct()
    ded.join(nearDupIds, Seq("doc_id"), "left_anti")
  }

  /** Compare a pass's outputs with the generator's expectation. The
    * classifier is scored once, on the warm-up pass (`model` empty); every
    * later pass must train the same weights.
    */
  def check(ctx: Ctx, p: Plan, ps: Pass, model: Option[Seq[Long]]): Seq[String] = {
    val problems = mutable.Buffer[String]()
    val rows = ps.out.select("doc_id", "epoch", "shard", "pos", "n_tok", "pack_id", "pack_offset",
      "n_words").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val ids = rows.map(_._1).toSet
    if (ids != p.survivors)
      problems += s"corpus build kept ${ids.size} documents, expected ${p.survivors.size} " +
        s"(${(p.survivors -- ids).size} missing, ${(ids -- p.survivors).size} unexpected)"
    if (rows.size != p.survivors.size * Epochs)
      problems += s"packing wrote ${rows.size} rows for ${p.survivors.size} documents x $Epochs epochs"
    val badWords = rows.count(r => p.corpus.tokens.get(r._1).forall(_ != r._8) || r._5 < r._8)
    if (badWords > 0) problems += s"$badWords rows with a wrong word count or fewer pieces than words"
    // the pack arithmetic, restated: within each (epoch, shard) documents
    // take positions 1..k and fill budget-sized packs in position order
    val badPack = rows.groupBy(r => (r._2, r._3)).values.count { g =>
      val s = g.sortBy(_._4)
      val starts = s.scanLeft(0L)(_ + _._5)
      s.map(_._4) != (1L to s.size.toLong) || s.zip(starts).exists { case (r, st) =>
        r._6 != st / PackBudget || r._7 != st % PackBudget
      }
    }
    if (badPack > 0) problems += s"$badPack (epoch, shard) groups are packed wrongly"
    // the classifier must tell the planted spam stratum from the rest
    if (ps.weights.size != LogregDim + 1)
      problems += s"logreg returned ${ps.weights.size} weights, expected ${LogregDim + 1}"
    else if (model.nonEmpty) {
      if (model.get != ps.weights) problems += "logreg trained other weights than on the warm-up pass"
    } else {
      // scored on the expected training set, built from the generator's
      // documents rather than by running the chain again
      import ctx.spark.implicits._
      val mixed = p.survivors.toSeq.map(p.corpus.byId).toDF().withColumnRenamed("id", "doc_id")
      val scored = TrainPrep.logregScore(mixed, "doc_id", "text", ps.weights, LogregDim)
        .join(mixed.select(col("doc_id"), col("y")), "doc_id")
      val (n, right) = scored.agg(count(lit(1)), sum(when(col("pred") === col("y"), 1L).otherwise(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
      if (right < n * MinAccuracy)
        problems += f"logreg fits ${right.toDouble / n}%.3f of its training labels, expected at least $MinAccuracy"
    }
    problems.toSeq
  }

  /** The planted spam marker is a perfect feature; a trained model that
    * misclassifies more than this share of its own training set is wrong.
    */
  private val MinAccuracy = 0.95

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val counters = if (ctx.trace) Some(new EngineCounters) else None
    counters.foreach { c => sc.addSparkListener(c); spark.listenerManager.register(c) }
    val tracer = new Tracer(s"corpus_build-${ctx.seed}", counters, sc)
    val problems = mutable.Buffer[String]()
    def sweep(): Int = {
      val persisted = sc.getPersistentRDDs.values
      persisted.foreach(_.unpersist(blocking = true))
      persisted.size
    }

    // set-up: generate the corpus, write it as one file, train the seed
    // vocabulary of the tokenizer on it (q227's prepare step), then run untimed
    // passes so the timed ones run JIT-compiled code
    val t0 = System.nanoTime()
    val p = tracer.span("setup.prepare")(plan(ctx))
    val dir = new java.io.File(ctx.work, "corpus").getPath
    val vocab = tracer.span("setup.prepare") {
      import spark.implicits._
      p.corpus.docs.toDF().withColumnRenamed("id", "doc_id").coalesce(1)
        .write.parquet(s"$dir/corpus.parquet")
      UnigramLm.train(spark.read.parquet(s"$dir/corpus.parquet"), "text", MaxPieceLen,
        ctx.int("tokenizer_vocab"), emRounds = 0)
    }
    Util.log(f"setup: corpus written and tokenizer trained in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    var model = Option.empty[Seq[Long]]
    (0 until WarmupPasses).foreach { _ =>
      val ps = tracer.span("setup.warmup")(pass(ctx, dir, p, vocab, tracer, traced = false))
      problems ++= check(ctx, p, ps, model)
      model = Some(ps.weights)
      CacheScope.free(ps.out)
      sweep()
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    Util.log(f"setup: warm-up done, setup_s $setupS%.2f")
    // the corpus is one file, so Ingest.table takes its fan-out side
    val splits = spark.read.parquet(s"$dir/corpus.parquet").rdd.getNumPartitions
    if (splits * 2 >= ctx.cores)
      problems += s"corpus scan has $splits splits: Ingest.table would not fan it out"

    // timed passes, back to back; in a traced run untraced and traced
    // passes alternate, so the overhead compares like with like
    val plain = mutable.Buffer[(Pass, Span)]()
    val traced = mutable.Buffer[(Pass, Span)]()
    var residual = 0
    var attempted, failed = 0L
    var i = 0
    def measuredMs = plain.map(_._1.wallMs).sum
    while (measuredMs < ctx.seconds * 1000 || plain.size < MinPasses ||
        (ctx.trace && traced.size < MinPasses)) {
      val isTraced = ctx.trace && i % 2 == 1
      attempted += p.docs
      val ps = pass(ctx, dir, p, vocab, tracer, isTraced)
      val span = tracer.all.filter(_.name.startsWith("pass")).last
      Util.log(f"pass $i${if (isTraced) " (traced)" else ""}: ${ps.wallMs / 1000}%.2f s")
      val errs = check(ctx, p, ps, model)
      if (errs.nonEmpty) failed += p.docs
      problems ++= errs
      if (isTraced) traced += ((ps, span)) else plain += ((ps, span))
      CacheScope.free(ps.out)
      // the same sweep Bench runs between reps, outside the timed region
      residual = math.max(residual, sweep())
      i += 1
    }
    val walls = plain.map(_._1.wallMs)
    val passS = Util.median(walls) / 1000
    val metrics: Map[String, Double] =
      if (!ctx.trace) {
        val outputMs = plain.map(_._1.outputMs)
        Map(
          "setup_s" -> setupS,
          // measured once, after the timed passes and their sweeps
          "mem_retained_mb" -> Util.retainedMb(),
          "rows_per_s" -> p.docs / passS,
          "pass_s_p50" -> passS,
          "latency_p50_ms" -> Util.quantile(outputMs, 0.5),
          "latency_p90_ms" -> Util.quantile(outputMs, 0.9))
      } else {
        val spans = tracer.all
        def under(root: Span): Seq[Span] = {
          val ids = mutable.Set(root.id)
          spans.filter { s =>
            val in = s.id > root.id && ids(s.parent)
            if (in) ids += s.id
            in
          }
        }
        def selfP50(name: String): Double = Util.median(traced.toSeq.map { case (_, root) =>
          under(root).filter(_.name == name).map(tracer.selfMs).sum
        })
        def perPass(key: String): Double = Util.mean(plain.toSeq.map(_._2.counters.getOrElse(key, 0.0)))
        val rowsP = traced.head._1.rows
        EngineCounters.sparkLayers(perPass,
          plain.map(_._2.counters.getOrElse("task_run_ms", 0.0)).sum / (walls.sum * ctx.cores)) ++
          Seq("sources.scan", "textops.quality", "textops.exact_dedup", "textops.lsh",
            "trainprep.quota", "trainprep.mix", "unigram.apply", "trainprep.pack", "trainprep.logreg")
            .map(n => s"${n}_ms" -> selfP50(n)).toMap ++ Map(
          "sources.scan_bytes" -> Util.median(traced.toSeq.map { case (_, root) =>
            under(root).filter(_.name == "sources.scan").map(_.counters.getOrElse("input_bytes", 0.0)).sum
          }),
          "textops.lsh_drop_ratio" -> (1 - rowsP("textops.lsh").toDouble / rowsP("textops.exact_dedup")),
          "corpus.jobs_per_pass" -> perPass("jobs"),
          "cachescope.residual_blocks" -> residual.toDouble,
          "trace.overhead_ms" -> (Util.median(traced.toSeq.map(_._1.wallMs)) - Util.median(walls)),
          "trace.spans" -> spans.size.toDouble)
      }
    if (ctx.trace) tracer.write(ctx.traceOut)
    Result(problems.isEmpty, attempted, failed, metrics, problems.toSeq)
  }
}
