package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Sink}
import graft.pipeline.Pipeline
import graft.sources.Ingest
import perfbench.BronzeGen.{BronzeFile, Line}

/** `silver_backfill`: a closed loop with one client running the
  * transactions pipeline (the reference's `config/transactions.yaml`
  * shape) over a Hive-partitioned bronze batch, pass after pass.
  *
  * scan → flattenBronze → toSilver → Dedup.exact → probeBucketedLedger →
  * Sink.writeSilver + Sink.pubsubMessages
  *
  * Every pass is checked: the silver survivors of each company must
  * match the generator's digest, and the Pub/Sub load must carry one
  * message per survivor.
  */
object Backfill {

  /** The pipeline, in the reference's config shape, parsed by the
    * program's own `Pipeline.parseYaml`.
    */
  val TransactionsYaml: String =
    """pipelines:
      |  - name: transactions
      |    extraction: bronze_scan
      |    transformations:
      |      - flatten_bronze
      |      - to_silver
      |    filters:
      |      - batch_dedup
      |      - ledger_dedup
      |    loads:
      |      - silver_sink
      |      - pubsub_push
      |""".stripMargin

  private val DedupKeys = Seq("company_id", "checksum")

  /** Generated inputs and the survivors the generator expects. */
  final case class Plan(companies: IndexedSeq[String], files: Seq[BronzeFile],
      ledgerHits: Seq[(String, String, String)], lines: Long, unique: Long,
      expected: Map[String, (Long, Long)]) {
    def survivors: Long = expected.values.map(_._1).sum
  }

  /** Per-company survivor digest: (count, wrapping sum of key hashes). */
  def digest(keys: Iterable[(String, String, String)]): Map[String, (Long, Long)] =
    keys.groupBy(_._1).map { case (c, ks) =>
      c -> (ks.size.toLong, ks.iterator.map(k => BronzeGen.md5Long(k._2 + "|" + k._3)).sum)
    }

  def plan(seed: Long, ctx: Ctx): Plan = {
    val nCompanies = ctx.int("companies")
    val days = ctx.int("days")
    val lines = nCompanies * days * ctx.int("lines_per_file")
    val companies = BronzeGen.companyIds(seed, nCompanies)
    val skew = new BronzeGen.Skewed(nCompanies, ctx.double("company_skew"))
    val r = new SplittableRandom(seed)
    val nUnique = math.round(lines * (1 - ctx.double("dup_share"))).toInt
    val unique = (0 until nUnique).map(i => Line(i.toLong, skew.sample(r), r.nextInt(days)))
    // in-batch duplicates: byte-identical copies, delivered in the file of
    // a random day of the same company (a redelivery of an earlier extract)
    val dups = Seq.fill(lines - nUnique) {
      val l = unique(r.nextInt(nUnique)); (l, r.nextInt(days))
    }
    val placed = unique.map(l => (l, l.day)) ++ dups
    val files = placed.groupBy { case (l, d) => (l.company, d) }.toSeq.sortBy(_._1).zipWithIndex
      .map { case (((c, d), ls), i) => BronzeFile(i, c, d, ls.map(_._1)) }
    // ledger hits: half share the source checksum, half only the content
    // (etl) checksum, so both anti-join stages have work
    val nHits = math.round(nUnique * ctx.double("ledger_hit_share")).toInt
    val hitIdx = Iterator.continually(r.nextInt(nUnique)).distinct.take(nHits).toIndexedSeq
    val ledgerHits = hitIdx.zipWithIndex.map { case (i, k) =>
      val l = unique(i)
      val c = BronzeGen.content(seed, l)
      val ck = if (k % 2 == 0) c.checksum else BronzeGen.md5Hex(s"old:$seed:${l.id}")
      (companies(l.company), ck, c.etlChecksum)
    }
    val ckSet = ledgerHits.map(h => (h._1, h._2)).toSet
    val eckSet = ledgerHits.map(h => (h._1, h._3)).toSet
    val survivors = unique.iterator.map { l =>
      val c = BronzeGen.content(seed, l); (companies(l.company), c.checksum, c.etlChecksum)
    }.filter(k => !ckSet((k._1, k._2)) && !eckSet((k._1, k._3))).toSeq
    Plan(companies, files, ledgerHits, lines.toLong, nUnique.toLong, digest(survivors))
  }

  /** Silver ledger: the planted hits plus filler keys, enough of them that
    * each bucketed key table is larger than the broadcast threshold. The
    * filler keys hash a different prefix than any bronze line, so they
    * never match one.
    */
  def ledger(seed: Long, p: Plan, filler: Long): Iterator[(String, String, String)] =
    p.ledgerHits.iterator ++ (0L until filler).iterator.map { i =>
      (p.companies((i % p.companies.size).toInt), BronzeGen.md5Hex(s"fill-ck:$seed:$i"),
        BronzeGen.md5Hex(s"fill-etl:$seed:$i"))
    }

  /** One prepared input set: bronze batch plus the bucketed ledger. */
  final case class Inputs(dir: java.io.File, prefix: String)

  def prepare(ctx: Ctx, p: Plan): Inputs = {
    val spark = ctx.spark
    val dir = new java.io.File(ctx.work, "inputs")
    p.files.foreach { f =>
      val d = new java.io.File(s"$dir/bronze.parquet/${f.dir(p.companies)}")
      d.mkdirs()
      BronzeGen.write(ctx.seed, f, p.companies, new java.io.File(d, BronzeGen.fileName(f)).toPath)
    }
    new java.io.File(s"$dir/ledger").mkdirs()
    BronzeGen.writeLedger(java.nio.file.Paths.get(s"$dir/ledger/part-0.parquet"),
      ledger(ctx.seed, p, ctx.int("ledger_filler_rows").toLong))
    val prefix = "pb_ledger"
    Dedup.prepareBucketedLedger(spark.read.parquet(s"$dir/ledger"), ctx.int("ledger_buckets"),
      s"$dir/warehouse", prefix)
    Inputs(dir, prefix)
  }

  /** The workload is meant to land on one side of two size-adaptive
    * choices; a run whose inputs land on the other side fails. The bronze
    * scan must have enough splits that `Ingest.table` skips its fan-out
    * repartition, and each ledger key table must be larger than the
    * broadcast threshold, so the anti-join reads buckets instead of
    * broadcasting the ledger.
    */
  def sideChecks(spark: SparkSession, in: Inputs): Seq[String] = {
    val splits = spark.read.parquet(s"${in.dir}/bronze.parquet").rdd.getNumPartitions
    val fanOut =
      if (splits * 2 >= spark.sparkContext.defaultParallelism) None
      else Some(s"bronze scan has $splits splits: Ingest.table would repartition it")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").stripSuffix("b").toLong
    fanOut.toSeq ++ Seq("ck", "eck").flatMap { t =>
      val bytes = Util.dataFiles(new java.io.File(s"${in.dir}/warehouse/${in.prefix}_$t")).map(_.length).sum
      if (bytes > threshold) None
      else Some(s"ledger table ${in.prefix}_$t holds $bytes bytes, not above the broadcast threshold $threshold")
    }
  }

  /** Timing and row counts of one pass. */
  final case class Pass(wallMs: Double, silverCommitMs: Double, rows: Map[String, Long])

  /** Run the pipeline once. With a tracer, every layer's output is
    * materialized at its boundary inside a span, so each span's self time
    * is that layer's own work.
    */
  def pass(ctx: Ctx, in: Inputs, out: java.io.File, tracer: Tracer,
      traced: Boolean): Pass = {
    val spark = ctx.spark
    val rows = mutable.Map[String, Long]()
    val pinned = mutable.Buffer[DataFrame]()
    def layer(span: String)(df: => DataFrame): DataFrame =
      if (!traced) df
      else tracer.span(span) {
        val m = df.persist()
        rows(span) = m.count()
        pinned += m
        m
      }
    def load(span: String)(f: => Unit): Unit = if (traced) tracer.span(span)(f) else f
    var silverCommit = 0.0
    val reg = new Pipeline.Registry()
      .extraction("bronze_scan")((s, ps) => layer("sources.scan")(Ingest.table(s, ps("dir"), "bronze")))
      .stage("flatten_bronze")(df => layer("sources.flattenBronze")(Ingest.flattenBronze(df)))
      .stage("to_silver")(df => layer("sources.toSilver")(Ingest.toSilver(df)))
      .stage("batch_dedup")(df => layer("dedup.exact")(Dedup.exact(df, DedupKeys)))
      .stage("ledger_dedup")(df => layer("dedup.ledger")(Dedup.probeBucketedLedger(df, in.prefix)))
      .load("silver_sink") { df =>
        load("sink.silver")(Sink.writeSilver(df, s"$out/silver"))
        silverCommit = tracer.nowMs
      }
      .load("pubsub_push")(df => load("sink.pubsub")(Sink.writeJsonLines(df, s"$out/pubsub")))
    val conf = Pipeline.parseYaml(TransactionsYaml).head
    val params = Map("dir" -> in.dir.getPath)
    val start = tracer.nowMs
    tracer.span(if (traced) "pass.traced" else "pass") {
      if (traced) tracer.span("pipeline.run")(Pipeline.run(spark, conf, reg, params))
      else Pipeline.run(spark, conf, reg, params)
    }
    val end = tracer.nowMs
    pinned.foreach(_.unpersist(blocking = true))
    Pass(end - start, silverCommit - start, rows.toMap)
  }

  /** Compare a pass's outputs with the generator's expectation. */
  def check(spark: SparkSession, p: Plan, out: java.io.File): Seq[String] = {
    val keys = spark.read.parquet(s"$out/silver")
      .select("company_id", "checksum", "etl_checksum").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val problems = mutable.Buffer[String]()
    val dupKeys = keys.size - keys.map(k => (k._1, k._2)).distinct.size
    if (dupKeys != 0) problems += s"silver holds $dupKeys duplicate (company_id, checksum) keys"
    val got = digest(keys)
    val bad = (got.keySet ++ p.expected.keySet).filter(c => got.get(c) != p.expected.get(c))
    if (bad.nonEmpty)
      problems += s"survivor digest differs for ${bad.size} companies " +
        s"(rows ${keys.size}, expected ${p.survivors})"
    val messages = spark.read.text(s"$out/pubsub").count()
    if (messages != p.survivors)
      problems += s"pubsub load wrote $messages messages for ${p.survivors} survivors"
    problems.toSeq
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    // the broadcast threshold scales down with the data: a ledger of tens
    // of thousands of keys already counts as too large to broadcast, as a
    // production ledger of billions does
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", ctx.int("broadcast_threshold_bytes").toString)
    val counters = if (ctx.trace) Some(new EngineCounters) else None
    counters.foreach { c => sc.addSparkListener(c); spark.listenerManager.register(c) }
    val tracer = new Tracer(s"silver_backfill-${ctx.seed}", counters, sc)
    val problems = mutable.Buffer[String]()
    def outDir(tag: String) = new java.io.File(ctx.work, s"out-$tag")

    // set-up: generate and stage the inputs, lay out the ledger, then run
    // untimed passes so the timed ones run JIT-compiled code
    val t0 = System.nanoTime()
    val p = tracer.span("setup.prepare")(plan(ctx.seed, ctx))
    val inputs = tracer.span("setup.prepare")(prepare(ctx, p))
    Util.log(f"setup: inputs prepared in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    (0 until WarmupPasses).foreach { w =>
      val out = outDir(s"warmup-$w")
      tracer.span("setup.warmup")(pass(ctx, inputs, out, tracer, traced = false))
      problems ++= check(spark, p, out)
      Util.deleteRecursively(out)
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    Util.log(f"setup: warm-up done, setup_s $setupS%.2f")
    problems ++= sideChecks(spark, inputs)
    val nFiles = p.files.size

    // timed passes, back to back; in a traced run untraced and traced
    // passes alternate, so the overhead compares like with like
    val plain = mutable.Buffer[(Pass, Span)]()
    val traced = mutable.Buffer[(Pass, Span, Long)]()
    var residual = 0
    var attempted, failed = 0L
    var i = 0
    def measuredMs = plain.map(_._1.wallMs).sum
    while (measuredMs < ctx.seconds * 1000 || plain.size < MinPasses ||
        (ctx.trace && traced.size < MinPasses)) {
      val isTraced = ctx.trace && i % 2 == 1
      val out = outDir(i.toString)
      attempted += nFiles
      try {
        val ps = pass(ctx, inputs, out, tracer, isTraced)
        val span = tracer.all.filter(_.name.startsWith("pass")).last
        Util.log(f"pass $i${if (isTraced) " (traced)" else ""}: ${ps.wallMs / 1000}%.2f s")
        val errs = check(spark, p, out)
        if (errs.nonEmpty) failed += nFiles
        problems ++= errs
        if (isTraced) {
          val (exact, ledger) = (ps.rows("dedup.exact"), ps.rows("dedup.ledger"))
          if (exact != p.unique || ledger != p.survivors)
            problems += s"traced pass kept $exact rows after dedup.exact (expected ${p.unique}) " +
              s"and $ledger after dedup.ledger (expected ${p.survivors})"
          traced += ((ps, span, Util.dataFiles(out).size.toLong))
        } else plain += ((ps, span))
      } catch {
        case e: Exception =>
          failed += nFiles
          problems += s"pass $i failed: $e"
          if (failed > 3L * nFiles) throw e
      }
      // the same sweep Bench runs between reps, outside the timed region
      val persisted = sc.getPersistentRDDs.values
      residual = math.max(residual, persisted.size)
      persisted.foreach(_.unpersist(blocking = true))
      Util.deleteRecursively(out)
      i += 1
    }
    val walls = plain.map(_._1.wallMs)
    // rates from the median pass, so one pass slowed by a noisy neighbour
    // does not move them
    val passS = Util.median(walls) / 1000
    val metrics: Map[String, Double] =
      if (!ctx.trace) {
        val latencies = plain.flatMap(x => Seq.fill(nFiles)(x._1.silverCommitMs))
        Map(
          "setup_s" -> setupS,
          // measured once, after the timed passes and their sweeps
          "mem_retained_mb" -> Util.retainedMb(),
          "rows_per_s" -> p.lines / passS,
          "pass_s_p50" -> passS,
          "latency_p50_ms" -> Util.quantile(latencies, 0.5),
          "latency_p90_ms" -> Util.quantile(latencies, 0.9))
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
        def selfP50(name: String*): Double = Util.median(traced.toSeq.map { case (_, root, _) =>
          under(root).filter(s => name.contains(s.name)).map(tracer.selfMs).sum
        })
        def counterP50(key: String, name: String*): Double =
          Util.median(traced.toSeq.map { case (_, root, _) =>
            under(root).filter(s => name.contains(s.name)).map(_.counters.getOrElse(key, 0.0)).sum
          })
        def perPass(key: String): Double = Util.mean(plain.toSeq.map(_._2.counters.getOrElse(key, 0.0)))
        val rowsP = traced.head._1.rows
        EngineCounters.sparkLayers(perPass,
          plain.map(_._2.counters.getOrElse("task_run_ms", 0.0)).sum / (walls.sum * ctx.cores)) ++ Map(
          "sources.scan_ms" -> selfP50("sources.scan"),
          "sources.scan_bytes" -> counterP50("input_bytes", "sources.scan"),
          "sources.flattenBronze_ms" -> selfP50("sources.flattenBronze"),
          "sources.toSilver_ms" -> selfP50("sources.toSilver"),
          "dedup.exact_ms" -> selfP50("dedup.exact"),
          "dedup.exact_drop_ratio" ->
            (1 - rowsP("dedup.exact").toDouble / rowsP("sources.toSilver")),
          "dedup.ledger_ms" -> selfP50("dedup.ledger"),
          "dedup.ledger_drop_ratio" ->
            (1 - rowsP("dedup.ledger").toDouble / rowsP("dedup.exact")),
          "sink.write_ms" -> selfP50("sink.silver", "sink.pubsub"),
          "sink.bytes_written" -> counterP50("output_bytes", "sink.silver", "sink.pubsub"),
          "sink.files_written" -> Util.median(traced.toSeq.map(_._3.toDouble)),
          "pipeline.run_ms" -> selfP50("pipeline.run"),
          "cachescope.residual_blocks" -> residual.toDouble,
          "trace.overhead_ms" -> (Util.median(traced.toSeq.map(_._1.wallMs)) - Util.median(walls)),
          "trace.spans" -> spans.size.toDouble)
      }
    if (ctx.trace) tracer.write(ctx.traceOut)
    Result(problems.isEmpty, attempted, failed, metrics, problems.toSeq)
  }

  private val MinPasses = 3

  /** Untimed passes before timing: the first passes run interpreted and
    * C1-compiled code and are several times slower than later ones.
    */
  private val WarmupPasses = 2
}
