package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Ingest
import graft.streaming.StreamingOps

/** Streaming throughput bench (round-8 verdict item 5): the StreamingSpec
  * proves stateful SEMANTICS but published no rate numbers. This main
  * replays the sf0.1 events table through a file source (many small files
  * → many micro-batches, the shape a backfill or bursty topic produces)
  * and measures, per stateful operator:
  *
  *   - end-to-end rows/sec over the whole replay (AvailableNow trigger,
  *     wall clock from query start to termination);
  *   - state rows and state bytes from the LAST StreamingQueryProgress
  *     (`stateOperators`), i.e. the steady-state store footprint —
  *     comparable against SCALE.md §"Streaming state"'s estimates.
  *
  * Operators measured (the two unbounded-ish state shapes):
  *   - `dedupWithinWatermark` over event_id (watermark-bounded keyed
  *     state — the production dedup path);
  *   - `domainQuotaStream` keyed by user_id (one Long per key forever —
  *     the flatMapGroupsWithState path, worst-case state cardinality).
  *
  * Runs under [[StreamingOps.RocksDbStateStoreConfs]] — the production
  * provider — so the numbers describe the configuration SCALE.md
  * recommends, not the heap-backed test default.
  *
  * Usage: `sbt 'runMain graft.StreamBench [sfDir] [nFiles] [filesPerTrigger]'`
  * Prints one JSON line per operator plus a summary line; paste into
  * SCALE.md §"Streaming throughput".
  */
object StreamBench {

  /** Best-effort recursive delete — replay-dir hygiene (round-14 advice:
    * a persisted ledger or checkpoint from a previous run would skew the
    * fence measurements). */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Redelivery simulation: remove the checkpoint's LAST commit marker
    * (and its local-FS `.N.crc` sibling — leaving it makes Spark's
    * re-commit rename collide and abort the restarted query), so the
    * restart re-runs that batch id under the SAME query lineage — the
    * exact at-least-once crash window the ledger fence exists for. */
  private def dropLastCommit(ckpt: String): Unit = {
    val dir = new java.io.File(s"$ckpt/commits")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .lastOption.foreach { f =>
        val crc = new java.io.File(dir, s".${f.getName}.crc")
        f.delete()
        if (crc.exists()) crc.delete()
        ()
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val perTrigger = args.drop(2).headOption.map(_.toInt).getOrElse(8)

    val spark = LocalSession("graft-stream-bench")
    StreamingOps.RocksDbStateStoreConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")

    val replay = Files.createTempDirectory("graft-stream-bench").toString
    val ev = Ingest.events(spark, sfDir)
    val total = ev.count()
    // split into nFiles files so maxFilesPerTrigger yields a real
    // micro-batch cadence (one giant file = one batch = no streaming)
    ev.repartition(nFiles).write.parquet(s"$replay/in")
    val schema = spark.read.parquet(s"$replay/in").schema

    def run(name: String, build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger.toString)
        .parquet(s"$replay/in")
      val t0 = System.nanoTime()
      val q = build(src).writeStream
        .format("noop")
        .option("checkpointLocation", s"$replay/ckpt-$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val last = Option(q.lastProgress)
      // batchId is monotonically assigned from 0, so lastProgress.batchId+1
      // counts ALL batches — recentProgress.length is capped at
      // numRecentProgressUpdates (default 100) and under-reports past
      // 100 micro-batches (advice r9)
      val batches = last.map(_.batchId + 1).getOrElse(0L)
      val stateRows = last
        .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      val stateBytes = last
        .flatMap(p => Option(p.stateOperators)).map(_.map(_.memoryUsedBytes).sum).getOrElse(0L)
      q.stop()
      println(f"""{"op":"$name","rows":$total,"secs":$secs%.2f,"rows_per_sec":${(total / secs).toLong},"micro_batches":$batches,"state_rows":$stateRows,"state_bytes":$stateBytes}""")
    }

    run("dedup_within_watermark",
      s => StreamingOps.dedupWithinWatermark(s, "ts", Seq("event_id"), watermark = "1 hour"))
    run("domain_quota_per_user",
      s => StreamingOps.domainQuotaStream(s, "user_id", "ts", cap = 10).toDF())

    // round-10: streaming LSH near-dup over the documents corpus — the
    // text-side state shape (one claimant per DISTINCT band key; growth
    // tracks unique content, not rows). foreachBatch sink, so it carries
    // its own writer instead of the noop `run` harness.
    val docsReplay = s"$replay/docs"
    val docs = Ingest.table(spark, sfDir, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    docs.repartition(16).write.parquet(s"$docsReplay/in")
    val dSchema = spark.read.parquet(s"$docsReplay/in").schema
    val dsrc = spark.readStream.schema(dSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$docsReplay/in")
    val t0 = System.nanoTime()
    val q = StreamingOps.lshNearDupStream(dsrc, "doc_id", "text",
        nHashes = 8, bands = 4, rowsPerBand = 2, s"$docsReplay/out")
      .option("checkpointLocation", s"$docsReplay/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val last = Option(q.lastProgress)
    val batches = last.map(_.batchId + 1).getOrElse(0L)
    val stateRows = last
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    val stateBytes = last
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.memoryUsedBytes).sum).getOrElse(0L)
    q.stop()
    val admitted = spark.read.parquet(s"$docsReplay/out")
      .where(col("admitted")).count()
    println(f"""{"op":"lsh_near_dup","rows":$nDocs,"secs":$secs%.2f,"rows_per_sec":${(nDocs / secs).toLong},"micro_batches":$batches,"state_rows":$stateRows,"state_bytes":$stateBytes,"admitted":$admitted}""")

    // round-11: the TTL-compaction variant. Each doc gets a synthetic
    // event time (epoch + doc_id seconds, so the range-partitioned
    // replay feeds roughly increasing times) and claims expire 600
    // event-seconds after the claimant — final state_rows should track
    // the ACTIVE window, not every band key ever seen (compare against
    // the unbounded run above).
    val ttlReplay = s"$replay/docs_ttl"
    val docsTtl = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1767225600L) + col("doc_id")).as("ts"))
    docsTtl.repartitionByRange(16, col("doc_id")).write.parquet(s"$ttlReplay/in")
    val tSchema = spark.read.parquet(s"$ttlReplay/in").schema
    val tsrc = spark.readStream.schema(tSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$ttlReplay/in")
    val tt0 = System.nanoTime()
    val tq = StreamingOps.lshNearDupStream(tsrc, "doc_id", "text",
        nHashes = 8, bands = 4, rowsPerBand = 2, s"$ttlReplay/out",
        stateTtl = Some(("ts", 600000L)))
      .option("checkpointLocation", s"$ttlReplay/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    tq.awaitTermination()
    val tsecs = (System.nanoTime() - tt0) / 1e9
    val tlast = Option(tq.lastProgress)
    val tbatches = tlast.map(_.batchId + 1).getOrElse(0L)
    val tStateRows = tlast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    val tStateBytes = tlast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.memoryUsedBytes).sum).getOrElse(0L)
    tq.stop()
    val tAdmitted = spark.read.parquet(s"$ttlReplay/out")
      .where(col("admitted")).count()
    println(f"""{"op":"lsh_near_dup_ttl600","rows":$nDocs,"secs":$tsecs%.2f,"rows_per_sec":${(nDocs / tsecs).toLong},"micro_batches":$tbatches,"state_rows":$tStateRows,"state_bytes":$tStateBytes,"admitted":$tAdmitted}""")

    // round-11: the STATELESS PSI drift gate — reference histogram fit
    // once from the corpus, then the same docs replayed as
    // micro-batches. state_rows must be 0 (the restart-safety story);
    // throughput is the per-trigger histogram + broadcast-join cost.
    val driftReplay = s"$replay/docs_drift"
    graft.operators.TrainPrep.tokenHistogram(docs, "text", dim = 64)
      .write.parquet(s"$driftReplay/ref")
    docs.repartition(16).write.parquet(s"$driftReplay/in")
    val gSchema = spark.read.parquet(s"$driftReplay/in").schema
    val gsrc = spark.readStream.schema(gSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$driftReplay/in")
    val g0 = System.nanoTime()
    val gq = StreamingOps.driftGateStream(gsrc, "text", s"$driftReplay/ref",
        dim = 64, psiThresholdScaled = 200000000000000L, s"$driftReplay/mon")
      .option("checkpointLocation", s"$driftReplay/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    gq.awaitTermination()
    val gsecs = (System.nanoTime() - g0) / 1e9
    val glast = Option(gq.lastProgress)
    val gbatches = glast.map(_.batchId + 1).getOrElse(0L)
    val gStateRows = glast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    gq.stop()
    val mon = spark.read.parquet(s"$driftReplay/mon")
    val nMon = mon.count()
    val nDrifted = mon.where(col("drifted")).count()
    println(f"""{"op":"drift_gate_psi","rows":$nDocs,"secs":$gsecs%.2f,"rows_per_sec":${(nDocs / gsecs).toLong},"micro_batches":$gbatches,"state_rows":$gStateRows,"monitor_rows":$nMon,"drifted":$nDrifted}""")

    // round-12: KMV distinct-token monitor — state must stay ONE row per
    // source whose payload is <= k longs, at ANY corpus scale (the
    // bounded-sketch contract; compare state_rows at 1x vs 10x)
    val kmvReplay = s"$replay/docs_kmv"
    val docsSrc = Ingest.table(spark, sfDir, "documents")
      .select(col("source"), col("text"))
    docsSrc.repartition(16).write.parquet(s"$kmvReplay/in")
    val kSchema = spark.read.parquet(s"$kmvReplay/in").schema
    val ksrc = spark.readStream.schema(kSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$kmvReplay/in")
    val k0 = System.nanoTime()
    val kq = StreamingOps.distinctMonitorStream(ksrc, "source", "text", k = 64)
      .toDF().writeStream.format("noop")
      .outputMode("update")
      .option("checkpointLocation", s"$kmvReplay/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    kq.awaitTermination()
    val ksecs = (System.nanoTime() - k0) / 1e9
    val klast = Option(kq.lastProgress)
    val kbatches = klast.map(_.batchId + 1).getOrElse(0L)
    val kStateRows = klast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    val kStateBytes = klast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.memoryUsedBytes).sum).getOrElse(0L)
    kq.stop()
    println(f"""{"op":"kmv_distinct_monitor","rows":$nDocs,"secs":$ksecs%.2f,"rows_per_sec":${(nDocs / ksecs).toLong},"micro_batches":$kbatches,"state_rows":$kStateRows,"state_bytes":$kStateBytes}""")

    // round-13: incremental-CC assignment ledger over the crash-atomic
    // VersionedLedger (snapshot dir + pointer swap per trigger). Edge
    // stream: chain edges (doc_id -> doc_id DIV 10) — 10-node clusters
    // whose merges arrive across micro-batches. state_rows must be 0
    // (ALL state lives in the versioned parquet ledger); the ledger's
    // final row count is the node set; versions advance once per batch
    // with current+previous retained by GC.
    val ccReplay = s"$replay/cc"
    val edges = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("src"),
        expr("CAST(doc_id DIV 10 AS LONG)").as("dst"))
    val nEdges = edges.count()
    edges.repartition(16).write.parquet(s"$ccReplay/in")
    val cSchema = spark.read.parquet(s"$ccReplay/in").schema
    val csrc = spark.readStream.schema(cSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$ccReplay/in")
    val c0 = System.nanoTime()
    val cq = StreamingOps.incrementalComponentsStream(csrc, "src", "dst",
        s"$ccReplay/ledger")
      .option("checkpointLocation", s"$ccReplay/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    cq.awaitTermination()
    val csecs = (System.nanoTime() - c0) / 1e9
    val clast = Option(cq.lastProgress)
    val cbatches = clast.map(_.batchId + 1).getOrElse(0L)
    val cStateRows = clast
      .flatMap(p => Option(p.stateOperators)).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    cq.stop()
    import graft.streaming.VersionedLedger
    val version = VersionedLedger.currentVersion(spark, s"$ccReplay/ledger").getOrElse(-1L)
    val ledgerRows = VersionedLedger.read(spark, s"$ccReplay/ledger").map(_.count()).getOrElse(0L)
    val snapshots = new java.io.File(s"$ccReplay/ledger").listFiles()
      .count(f => f.getName.startsWith("v") && f.getName.drop(1).forall(_.isDigit))
    println(f"""{"op":"incremental_cc_ledger","rows":$nEdges,"secs":$csecs%.2f,"rows_per_sec":${(nEdges / csecs).toLong},"micro_batches":$cbatches,"state_rows":$cStateRows,"ledger_version":$version,"ledger_rows":$ledgerRows,"snapshot_dirs":$snapshots}""")

    // round-14/15: media-health ledger with the at-least-once replay
    // fence, now keyed on (query id, batch id). Phase 1 streams
    // synthesized media payloads (the q123 dispatch family) through
    // mediaHealthStream. Phase 2 simulates TRUE redelivery — the crash
    // window the fence exists for: delete the checkpoint's LAST commit
    // file (ledger committed, Spark's own commit lost) and restart the
    // SAME checkpoint; Spark re-runs the last batch with the same id
    // under the same query lineage, and every cumulative counter must
    // stay EXACTLY unchanged (replayed_delta = 0). Phase 3 runs a
    // FRESH checkpoint against the same ledger — a legitimately NEW
    // run whose batch ids restart at 0: the round-14-advice fence must
    // APPLY it (new_lineage_delta = nMedia), where the old batch-id-only
    // fence silently discarded it.
    val mhReplay = s"$replay/media"
    import spark.implicits._
    // re-run safety (round-14 advice): overwrite the replay input and
    // clear any ledger/checkpoints a previous bench run left behind —
    // a persisted ledger would skew every phase's measurement
    for (sub <- Seq("ledger", "ckpt1", "ckpt2"))
      deleteRecursively(new java.io.File(s"$mhReplay/$sub"))
    val media = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, graft.operators.Multimodal.synthMedia(id))))
      .toDF("doc_id", "bin")
    val nMedia = media.count()
    media.repartition(16).write.mode("overwrite").parquet(s"$mhReplay/in")
    val mSchema = spark.read.parquet(s"$mhReplay/in").schema
    def mediaPass(ckpt: String): Double = {
      val msrc = spark.readStream.schema(mSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$mhReplay/in")
      val t = System.nanoTime()
      val mq = StreamingOps.mediaHealthStream(msrc, "doc_id", "bin",
          s"$mhReplay/ledger")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      mq.awaitTermination()
      mq.stop()
      (System.nanoTime() - t) / 1e9
    }
    val mSecs = mediaPass(s"$mhReplay/ckpt1")
    import graft.streaming.VersionedLedger
    def ledgerTotals(): (Long, Long) = {
      val l = VersionedLedger.read(spark, s"$mhReplay/ledger").get
        .agg(sum(col("n_seen")), sum(col("n_ok"))).collect()(0)
      (l.getLong(0), l.getLong(1))
    }
    val (seen1, ok1) = ledgerTotals()
    val lastBatch1 = VersionedLedger.lastAppliedBatch(spark, s"$mhReplay/ledger")
    // phase 2 — true redelivery: drop the last commit marker so the
    // restart re-delivers that batch id under the SAME query lineage
    dropLastCommit(s"$mhReplay/ckpt1")
    val mSecs2 = mediaPass(s"$mhReplay/ckpt1")
    val (seen2, ok2) = ledgerTotals()
    // phase 3 — new lineage: fresh checkpoint, same ledger, same files
    val mSecs3 = mediaPass(s"$mhReplay/ckpt2")
    val (seen3, ok3) = ledgerTotals()
    println(f"""{"op":"media_health_ledger_fenced","rows":$nMedia,"secs":$mSecs%.2f,"rows_per_sec":${(nMedia / mSecs).toLong},"ledger_seen":$seen1,"ledger_ok":$ok1,"last_batch":${lastBatch1.getOrElse(-1L)},"replay_secs":$mSecs2%.2f,"replayed_delta":${(seen2 - seen1) + (ok2 - ok1)},"new_lineage_secs":$mSecs3%.2f,"new_lineage_delta":${seen3 - seen2}}""")

    // round-15: tokenizer-fertility monitor — the q223 per-source
    // fertility face streaming against a committed WordPiece artifact,
    // with the same fenced-ledger redelivery measurement as media health
    // (delete the last checkpoint commit, restart the SAME lineage →
    // fenced_delta must be 0).
    val ftReplay = s"$replay/fertility"
    for (sub <- Seq("ledger", "ckpt1"))
      deleteRecursively(new java.io.File(s"$ftReplay/$sub"))
    val fdocs = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
    val nFdocs = fdocs.count()
    fdocs.repartition(16).write.mode("overwrite").parquet(s"$ftReplay/in")
    import graft.operators.{TokenizerArtifact, TrainPrep}
    TokenizerArtifact.commit(spark, s"$ftReplay/artifact",
      TokenizerArtifact.serializeWordPiece(
        TrainPrep.wordPieceVocabFromTrain(fdocs, "text", nMerges = 6)))
    val fSchema = spark.read.parquet(s"$ftReplay/in").schema
    def fertPass(ckpt: String): Double = {
      val src = spark.readStream.schema(fSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$ftReplay/in")
      val t = System.nanoTime()
      val fq = StreamingOps.tokenizerFertilityStream(src, "doc_id", "text",
          "source", s"$ftReplay/artifact", 16, s"$ftReplay/ledger")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      fq.awaitTermination()
      fq.stop()
      (System.nanoTime() - t) / 1e9
    }
    val fSecs = fertPass(s"$ftReplay/ckpt1")
    def fertTotals(): (Long, Long, Long) = {
      val l = VersionedLedger.read(spark, s"$ftReplay/ledger").get
        .agg(sum(col("n_words")), sum(col("n_tokens")), count(lit(1))).collect()(0)
      (l.getLong(0), l.getLong(1), l.getLong(2))
    }
    val (fw1, ft1, fsrc1) = fertTotals()
    dropLastCommit(s"$ftReplay/ckpt1")
    val fSecs2 = fertPass(s"$ftReplay/ckpt1")
    val (fw2, ft2, _) = fertTotals()
    println(f"""{"op":"tokenizer_fertility_ledger_fenced","rows":$nFdocs,"secs":$fSecs%.2f,"rows_per_sec":${(nFdocs / fSecs).toLong},"sources":$fsrc1,"ledger_words":$fw1,"ledger_tokens":$ft1,"fertility_milli":${if (fw1 > 0) ft1 * 1000 / fw1 else -1L},"replay_secs":$fSecs2%.2f,"replayed_delta":${(fw2 - fw1) + (ft2 - ft1)}}""")

    // round-17: quality-score monitor — the q229 committed-model scorer
    // streaming against a committed `linear` artifact (the model a
    // production pipeline retrains most often), with the same fenced-
    // ledger redelivery measurement as media health / fertility.
    // Setup trains the q228-shape weak-supervised model on the planted
    // marker stratum (untimed — the deployed amortization).
    val qsReplay = s"$replay/qscore"
    for (sub <- Seq("ledger", "ckpt1"))
      deleteRecursively(new java.io.File(s"$qsReplay/$sub"))
    val qdocs = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          lit(" buy now click here free offer")).otherwise(lit(""))).as("text"),
        col("source"),
        when(col("doc_id") % 5 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
    val nQdocs = qdocs.count()
    qdocs.select("doc_id", "text", "source").repartition(16)
      .write.mode("overwrite").parquet(s"$qsReplay/in")
    TokenizerArtifact.commit(spark, s"$qsReplay/model",
      TokenizerArtifact.serializeLinear(TrainPrep.logregTrain(
        qdocs, "doc_id", "text", "y", dim = 64, rounds = 32, lrDiv = 2L)))
    val qSchema = spark.read.parquet(s"$qsReplay/in").schema
    def qsPass(ckpt: String): Double = {
      val src = spark.readStream.schema(qSchema)
        .option("maxFilesPerTrigger", "2")
        .parquet(s"$qsReplay/in")
      val t = System.nanoTime()
      val qq = StreamingOps.qualityScoreStream(src, "doc_id", "text",
          "source", s"$qsReplay/model", s"$qsReplay/ledger")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      qq.awaitTermination()
      qq.stop()
      (System.nanoTime() - t) / 1e9
    }
    val qsSecs = qsPass(s"$qsReplay/ckpt1")
    def qsTotals(): (Long, Long, Long) = {
      val l = VersionedLedger.read(spark, s"$qsReplay/ledger").get
        .agg(sum(col("n_docs")), sum(col("n_spam")), count(lit(1))).collect()(0)
      (l.getLong(0), l.getLong(1), l.getLong(2))
    }
    val (qn1, qsp1, qsrc1) = qsTotals()
    dropLastCommit(s"$qsReplay/ckpt1")
    val qsSecs2 = qsPass(s"$qsReplay/ckpt1")
    val (qn2, qsp2, _) = qsTotals()
    println(f"""{"op":"quality_score_ledger_fenced","rows":$nQdocs,"secs":$qsSecs%.2f,"rows_per_sec":${(nQdocs / qsSecs).toLong},"sources":$qsrc1,"ledger_docs":$qn1,"ledger_spam":$qsp1,"spam_rate_milli":${if (qn1 > 0) qsp1 * 1000 / qn1 else -1L},"replay_secs":$qsSecs2%.2f,"replayed_delta":${(qn2 - qn1) + (qsp2 - qsp1)}}""")

    // round-18: banded-admission gate — the q231 word-bigram banding as
    // a per-trigger admit gate against the COMMITTED corpus index
    // (StreamingOps.bandedAdmitStream), with the same fenced-ledger
    // redelivery measurement as media health / fertility / qscore.
    // Setup commits the index over the lower-id half of the corpus
    // (untimed — the deployed amortization); the replay streams the
    // other half against it, so rejects are the planted near-dups that
    // straddle the median.
    val baReplay = s"$replay/badmit"
    for (sub <- Seq("ledger", "index", "out", "ckpt1"))
      deleteRecursively(new java.io.File(s"$baReplay/$sub"))
    val bdocs = Ingest.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val baCut = bdocs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    StreamingOps.commitBandedAdmitIndex(
      bdocs.filter(col("doc_id") < baCut), "doc_id", "text",
      s"$baReplay/index")
    val baIn = bdocs.filter(col("doc_id") >= baCut)
    val nBa = baIn.count()
    baIn.repartition(16).write.mode("overwrite").parquet(s"$baReplay/in")
    val baSchema = spark.read.parquet(s"$baReplay/in").schema
    def baPass(ckpt: String): Double = {
      val src = spark.readStream.schema(baSchema)
        .option("maxFilesPerTrigger", "2").parquet(s"$baReplay/in")
      val t = System.nanoTime()
      val qq = StreamingOps.bandedAdmitStream(src, "doc_id", "text",
          s"$baReplay/index", s"$baReplay/ledger", s"$baReplay/out")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      qq.awaitTermination()
      qq.stop()
      (System.nanoTime() - t) / 1e9
    }
    val baSecs = baPass(s"$baReplay/ckpt1")
    def baTotals(): (Long, Long, Long) = {
      val r = VersionedLedger.read(spark, s"$baReplay/ledger").get
        .collect()(0)
      (r.getAs[Long]("n_seen"), r.getAs[Long]("n_admitted"),
        r.getAs[Long]("n_rejected"))
    }
    val (bs1, ba1, br1) = baTotals()
    dropLastCommit(s"$baReplay/ckpt1")
    val baSecs2 = baPass(s"$baReplay/ckpt1")
    val (bs2, ba2, br2) = baTotals()
    println(f"""{"op":"banded_admit_gate_fenced","rows":$nBa,"secs":$baSecs%.2f,"rows_per_sec":${(nBa / baSecs).toLong},"seen":$bs1,"admitted":$ba1,"rejected":$br1,"replay_secs":$baSecs2%.2f,"replayed_delta":${(bs2 - bs1) + (ba2 - ba1) + (br2 - br1)}}""")

    spark.stop()
  }
}
