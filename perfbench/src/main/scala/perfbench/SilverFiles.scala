package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.sources.Ingest
import graft.streaming.StreamingOps
import perfbench.BronzeGen.{BronzeFile, Line}

/** `silver_files_*`: the reference's per-file service path as an open
  * loop. One generator thread moves small bronze files (one company-day
  * each) into a watched directory on a fixed schedule and never waits for
  * the query; one long-lived streaming query runs flattenBronze → toSilver
  * → StreamingOps.upsertStream into a parquet ledger that starts empty and
  * grows. A file's latency runs from its due time to the commit of the
  * micro-batch that read it; files are mapped to batches through the
  * checkpoint's source log and the batches' progress events.
  */
object SilverFiles {

  private val Keys = Seq("company_id", "checksum")

  /** Generated files and the ledger keys they must leave behind. */
  final case class Plan(seed: Long, companies: IndexedSeq[String], files: IndexedSeq[BronzeFile],
      expected: Set[(String, String)]) {
    def lines: Long = files.map(_.lines.size.toLong).sum
  }

  /** `n` files: each mixes new lines, lines redelivered from earlier files
    * of the same company, and duplicates of lines within the file.
    */
  def plan(seed: Long, ctx: Ctx, n: Int, firstId: Long): Plan = {
    val nCompanies = ctx.int("companies")
    val companies = BronzeGen.companyIds(seed, nCompanies)
    val skew = new BronzeGen.Skewed(nCompanies, ctx.double("company_skew"))
    val r = new SplittableRandom(seed ^ firstId)
    val perFile = ctx.int("lines_per_file")
    val (redeliver, inFile) = (ctx.double("redeliver_share"), ctx.double("infile_dup_share"))
    val seen = Array.fill(nCompanies)(mutable.ArrayBuffer[Line]())
    var next = firstId
    val files = (0 until n).map { i =>
      val company = skew.sample(r)
      val day = i / nCompanies
      val size = perFile * 3 / 4 + r.nextInt(perFile / 2 + 1)
      val old = seen(company)
      val nRe = if (old.isEmpty) 0 else math.round(size * redeliver).toInt
      val nDup = math.round(size * inFile).toInt
      require(size > nRe + nDup, s"file $i: shares leave no new lines")
      val fresh = Seq.fill(size - nRe - nDup) { next += 1; Line(next, company, day) }
      val re = Seq.fill(nRe)(old(r.nextInt(old.size)))
      val dup = Seq.fill(nDup)(fresh(r.nextInt(fresh.size)))
      old ++= fresh
      BronzeFile(i, company, day, fresh ++ re ++ dup)
    }
    val expected = files.iterator.flatMap(_.lines).map(l =>
      (companies(l.company), BronzeGen.content(seed, l).checksum)).toSet
    Plan(seed, companies, files, expected)
  }

  /** One micro-batch as its progress event reports it. */
  final case class Batch(id: Long, startMs: Double, durations: Map[String, Double]) {
    def triggerMs: Double = durations.getOrElse("triggerExecution", 0.0)
    def commitMs: Double = startMs + triggerMs
  }

  /** Benchmark-owned progress listener: the batches of one query. */
  final class Progress(queryName: String) extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, Batch]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == queryName && p.numInputRows > 0)
        batches.put(p.batchId, Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
    }
  }

  /** File index → batch id, from the checkpoint's file-source log. */
  def fileBatches(checkpoint: java.io.File): Map[Int, Long] = {
    val entry = """"path":"[^"]*f(\d{6})\.parquet"[^}]*"batchId":(\d+)""".r
    Option(new java.io.File(checkpoint, "sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => m.group(1).toInt -> m.group(2).toLong))
      .toMap
  }

  /** What one stream of the open loop produced. Latencies are by file
    * index, for the files that committed.
    */
  final case class Step(latencyMs: Map[Int, Double],
      batches: Seq[Batch], fileBatch: Map[Int, Long], lost: Int, backlogAtEnd: Int,
      lateMsMax: Double, ledgerFiles: Int, ledgerBytes: Long, ledgerRows: Long, retainedMb: Double,
      counters: Map[String, Double], problems: Seq[String])

  /** Run one long-lived stream over a fresh watched directory and ledger.
    * The generator thread moves `p`'s staged files in on the fixed
    * schedule `due` (epoch ms, relative to the feed start); afterwards the
    * run waits until every file is committed or the drain times out, then
    * checks the ledger against the plan.
    */
  def stream(ctx: Ctx, p: Plan, staging: String, dueOffsetMs: IndexedSeq[Double],
      tag: String, tracer: Tracer, counters: Option[EngineCounters]): Step = {
    val spark = ctx.spark
    val dir = new java.io.File(ctx.work, s"stream-$tag")
    val (watch, ledger, ckpt) = (new java.io.File(dir, "bronze"), new java.io.File(dir, "ledger"),
      new java.io.File(dir, "checkpoint"))
    watch.mkdirs()
    val name = s"silver_files_$tag"
    val progress = new Progress(name)
    spark.streams.addListener(progress)
    // the Hive partition columns are declared up front: the watched
    // directory is empty when the query starts, so they cannot be inferred
    val schema = BronzeGen.SparkSchema.add("year", IntegerType).add("month", IntegerType)
      .add("day", IntegerType).add("company_id", StringType)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", ctx.int("max_files_per_trigger").toLong)
      .parquet(watch.getPath)
    val q: StreamingQuery = StreamingOps.upsertStream(
        Ingest.toSilver(Ingest.flattenBronze(src)), Keys, ledger.getPath)
      .queryName(name).option("checkpointLocation", ckpt.getPath).start()
    val problems = mutable.Buffer[String]()
    try {
      val ready = System.nanoTime() + 20000000000L
      while (q.isActive && !q.status.message.startsWith("Waiting for data") && System.nanoTime() < ready)
        Thread.sleep(20)
      val before = counters.map { c => EngineCounters.drain(spark.sparkContext); c.snapshot() }
      // the generator: one thread, fixed schedule, never waits for the query
      val n = p.files.size
      val t0 = tracer.nowMs + 200
      val due = dueOffsetMs.map(_ + t0)
      val placed = new Array[Double](n)
      val feeder = new Thread(() => p.files.foreach { f =>
        val wait = due(f.index) - tracer.nowMs
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        BronzeGen.place(staging, watch.getPath, f, p.companies)
        placed(f.index) = tracer.nowMs
      }, s"perfbench-feeder-$tag")
      feeder.start()
      feeder.join()
      val genEnd = tracer.nowMs
      // drain: wait until every file is in a batch whose progress arrived
      val deadline = System.nanoTime() + DrainTimeoutNs
      var fb = fileBatches(ckpt)
      while (q.isActive && System.nanoTime() < deadline &&
          !(fb.size == n && fb.values.forall(b => progress.batches.containsKey(b)))) {
        Thread.sleep(50)
        fb = fileBatches(ckpt)
      }
      q.exception.foreach(e => problems += s"stream failed: ${e.getMessage}")
      val after = counters.map { c => EngineCounters.drain(spark.sparkContext); c.snapshot() }
      q.stop()
      val retained = Util.retainedMb()
      val batches = progress.batches.values.asScala.toSeq.sortBy(_.id)
      Util.log(f"stream $tag: $n files in ${batches.size} batches, fed over ${(genEnd - t0) / 1000}%.2f s")
      Util.log("batch ms/files: " + batches.map(b => s"${b.triggerMs.toInt}/${fb.count(_._2 == b.id)}").mkString(" "))
      def commit(i: Int) = fb.get(i).flatMap(b => Option(progress.batches.get(b))).map(_.commitMs)
      val latency = (0 until n).flatMap(i => commit(i).map(c => i -> (c - due(i)))).toMap
      val lost = n - latency.size
      if (lost > 0) problems += s"$lost of $n files were never committed"
      val backlog = (0 until n).count(i => due(i) <= genEnd && commit(i).forall(_ > genEnd))
      batches.foreach { b =>
        val root = tracer.record("streaming.batch", -1, b.startMs, b.commitMs)
        var at = b.startMs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = b.durations.getOrElse(k, 0.0)
            tracer.record(s"streaming.$k", root, at, at + d)
            at += d
          }
      }
      // the ledger must hold each expected key exactly once
      val keys = spark.read.parquet(ledger.getPath).select(Keys.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val dupKeys = keys.size - keys.distinct.size
      if (dupKeys != 0) problems += s"ledger holds $dupKeys duplicate keys"
      if (keys.toSet != p.expected)
        problems += s"ledger keys differ from the plan: ${(p.expected -- keys).size} missing, " +
          s"${(keys.toSet -- p.expected).size} unexpected"
      val ledgerFiles = Util.dataFiles(ledger)
      Step(latency, batches, fb, lost, backlog,
        (0 until n).map(i => placed(i) - due(i)).max,
        ledgerFiles.size, ledgerFiles.map(_.length).sum, keys.size.toLong, retained,
        (for (b <- before; a <- after) yield EngineCounters.delta(b, a)).getOrElse(Map.empty),
        problems.toSeq)
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(progress)
    }
  }

  /** Per-file due offsets (ms): `nLight` files at `light` files/s, then
    * a backlog of `nBacklog` files all due at once, one interval later.
    */
  def schedule(nLight: Int, light: Double, nBacklog: Int): IndexedSeq[Double] =
    (0 until nLight).map(_ * 1000.0 / light) ++ Seq.fill(nBacklog)(nLight * 1000.0 / light)

  /** Files of the untimed warm-up stream, fed at twice the light rate so
    * batches run full: eight full micro-batches compile the batch code
    * paths before timing.
    */
  private val WarmupFiles = 64

  /** After the last file is due, how long a stream waits for it to
    * commit before counting it lost.
    */
  private val DrainTimeoutNs = 30L * 1000000000L

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val light = ctx.double("rate_files_per_s")
    val (nLight, nBacklog) = (math.ceil(light * ctx.seconds).toInt, ctx.int("backlog_files"))
    val due = schedule(nLight, light, nBacklog)
    val maxFiles = ctx.int("max_files_per_trigger")
    val tracer = new Tracer(s"silver_files-${ctx.seed}", None, sc)
    val problems = mutable.Buffer[String]()
    def stage(p: Plan, tag: String) = {
      val dir = s"${ctx.work}/staging-$tag"
      BronzeGen.stage(p.seed, p.files, p.companies, dir)
      dir
    }

    // set-up: generate and stage the files, then run one untimed warm-up
    // stream over its own directory and ledger
    val t0 = System.nanoTime()
    val p = plan(ctx.seed, ctx, nLight + nBacklog, 0L)
    val staged = stage(p, "step")
    Util.log(f"setup: files prepared in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val warm = plan(ctx.seed + 1, ctx, WarmupFiles, 1L << 40)
    problems ++= stream(ctx, warm, stage(warm, "warm"), schedule(WarmupFiles, 2 * light, 0), "warm",
      tracer, None).problems
    val setupS = (System.nanoTime() - t0) / 1e9
    Util.log(f"setup: warm-up stream done, setup_s $setupS%.2f")

    val plain = stream(ctx, p, staged, due, "step", tracer, None)
    problems ++= plain.problems
    def latencies(st: Step, files: Range) = files.flatMap(st.latencyMs.get)
    def filesOf(st: Step, b: Batch) = st.fileBatch.collect { case (i, id) if id == b.id => i }
    // the light phase: batches that read only light-rate files
    def lightBatches(st: Step) = st.batches.filter(b => filesOf(st, b).forall(_ < nLight))
    // the backlog keeps every batch at max_files_per_trigger, so full
    // batches run back to back at the service's capacity
    def fullBatches(st: Step) = st.batches.filter(b => filesOf(st, b).size == maxFiles)
    def requireFull(st: Step): Seq[Batch] = {
      val full = fullBatches(st)
      if (full.size < 3) problems += s"only ${full.size} full micro-batches: the backlog did not saturate the stream"
      full
    }
    val metrics: Map[String, Double] =
      if (!ctx.trace) {
        val full = requireFull(plain)
        val fullS = full.map(_.triggerMs).sum / 1000
        Map(
          "setup_s" -> setupS,
          "mem_retained_mb" -> plain.retainedMb,
          "rows_per_s" -> full.flatMap(b => filesOf(plain, b)).map(i => p.files(i).lines.size).sum / fullS,
          "pass_s_p50" -> Util.median(lightBatches(plain).map(_.triggerMs)) / 1000,
          "latency_p50_ms" -> Util.quantile(latencies(plain, 0 until nLight), 0.5),
          "latency_p90_ms" -> Util.quantile(latencies(plain, 0 until nLight), 0.9))
      } else {
        // the same files again, on a fresh stream, with the engine
        // listeners installed; the difference in trigger time is the
        // tracing overhead
        val counters = new EngineCounters
        sc.addSparkListener(counters)
        spark.listenerManager.register(counters)
        val tr = tracer.span("silver_files.traced_stream") {
          stream(ctx, p, stage(p, "traced"), due, "traced", tracer, Some(counters))
        }
        problems ++= tr.problems
        val nb = tr.batches.size.toDouble
        def perBatch(k: String): Double = tr.counters.getOrElse(k, 0.0) / nb
        def p50(k: String) = Util.median(tr.batches.map(_.durations.getOrElse(k, 0.0)))
        val busyMs = tr.batches.map(_.triggerMs).sum
        EngineCounters.sparkLayers(perBatch,
          tr.counters.getOrElse("task_run_ms", 0.0) / (busyMs * ctx.cores)) ++ Map(
          "sink.write_ms" -> perBatch("write_ms"),
          "sink.bytes_written" -> perBatch("output_bytes"),
          "sink.files_written" -> tr.ledgerFiles / nb,
          "cachescope.residual_blocks" -> sc.getPersistentRDDs.size.toDouble,
          "streaming.trigger_ms_p50" -> p50("triggerExecution"),
          "streaming.trigger_ms_p90" -> Util.quantile(tr.batches.map(_.triggerMs), 0.9),
          "streaming.plan_ms_p50" -> p50("queryPlanning"),
          "streaming.get_batch_ms_p50" -> p50("getBatch"),
          "streaming.add_batch_ms_p50" -> p50("addBatch"),
          "streaming.wal_commit_ms_p50" -> p50("walCommit"),
          "streaming.files_per_batch" -> p.files.size / nb,
          "streaming.full_batch_ms_p50" -> Util.median(requireFull(tr).map(_.triggerMs)),
          "streaming.latency_backlog_p50_ms" -> Util.quantile(latencies(tr, nLight until nLight + nBacklog), 0.5),
          "streaming.latency_backlog_p90_ms" -> Util.quantile(latencies(tr, nLight until nLight + nBacklog), 0.9),
          "streaming.ledger_files_end" -> tr.ledgerFiles.toDouble,
          "streaming.ledger_bytes_end" -> tr.ledgerBytes.toDouble,
          "streaming.upsert_drop_ratio" -> (1 - tr.ledgerRows.toDouble / p.lines),
          "streaming.backlog_files_end" -> tr.backlogAtEnd.toDouble,
          "gen.late_ms_max" -> tr.lateMsMax,
          "trace.overhead_ms" -> (p50("triggerExecution") -
            Util.median(plain.batches.map(_.triggerMs))),
          "trace.spans" -> tracer.all.size.toDouble)
      }
    if (ctx.trace) tracer.write(ctx.traceOut)
    Result(problems.isEmpty, (nLight + nBacklog).toLong, plain.lost.toLong, metrics, problems.toSeq)
  }
}
