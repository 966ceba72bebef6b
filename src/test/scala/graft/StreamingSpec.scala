package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{StreamingOps, VersionedLedger}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("F3 streaming dedup: first-writer-wins across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = StreamingOps.dedupExact(mem.toDF(), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(0), 7, "click", 1.0), Ev(2, ts(1), 7, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts(2), 7, "dup", 9.0), Ev(3, ts(3), 8, "click", 3.0))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("event_id", "event_type")
        .as[(Long, String)].collect().toSet
      // event_id=1 second arrival dropped: the first writer's row survives
      assert(out == Set((1L, "click"), (2L, "click"), (3L, "click")))
    } finally q.stop()
  }

  test("streaming domain quota: cap enforced across micro-batches, per domain") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val docs = mem.toDF().toDF("source", "doc_id")
    val admitted = StreamingOps.domainQuotaStream(docs, "source", "doc_id", cap = 2)
    val q = admitted.writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    try {
      // batch 1: 3 docs for a (one over cap), 1 for b
      mem.addData(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
      q.processAllAvailable()
      // batch 2: a is exhausted, b admits one more then stops
      mem.addData(("a", 4L), ("b", 11L), ("b", 12L))
      q.processAllAvailable()
      val out = spark.table("quota_out")
        .select(col("domain"), get_json_object(col("payload"), "$.doc_id").cast("long"))
        .as[(String, Long)].collect().toSet
      // a: docs 1,2 (batch-1 sort admits the lowest ids); b: 10 then 11
      assert(out == Set(("a", 1L), ("a", 2L), ("b", 10L), ("b", 11L)))
    } finally q.stop()
  }

  test("streaming domain quota sorts numeric order columns natively, not lexicographically") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val docs = mem.toDF().toDF("source", "doc_id")
    val admitted = StreamingOps.domainQuotaStream(docs, "source", "doc_id", cap = 2)
    val q = admitted.writeStream.format("memory").queryName("quota_num_out")
      .outputMode("append").start()
    try {
      // lexicographic order would admit "10" and "100" before "2"
      mem.addData(("a", 100L), ("a", 2L), ("a", 10L), ("a", 9L))
      q.processAllAvailable()
      val out = spark.table("quota_num_out")
        .select(get_json_object(col("payload"), "$.doc_id").cast("long"))
        .as[Long].collect().toSet
      assert(out == Set(2L, 9L))
    } finally q.stop()
  }

  test("streaming domain quota keeps 64-bit order ids exact beyond 2^53") {
    // -(2^54+1) and -2^54 collapse to the SAME double (-2^54), and their
    // string forms sort in the WRONG order ("-…985" > "-…984"
    // lexicographically, but -…985 < -…984 numerically) — only the exact
    // DECIMAL(38,0) key admits the numerically smallest id (round-7
    // advice: snowflake-style ids above 2^53 must not fall back to the
    // lexicographic tie-break).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val docs = mem.toDF().toDF("source", "doc_id")
    val admitted = StreamingOps.domainQuotaStream(docs, "source", "doc_id", cap = 1)
    val q = admitted.writeStream.format("memory").queryName("quota_big_out")
      .outputMode("append").start()
    try {
      mem.addData(("a", -18014398509481984L), ("a", -18014398509481985L))
      q.processAllAvailable()
      val out = spark.table("quota_big_out")
        .select(get_json_object(col("payload"), "$.doc_id").cast("long"))
        .as[Long].collect().toSet
      assert(out == Set(-18014398509481985L))
    } finally q.stop()
  }

  test("stateful queries run on the RocksDB state store (production provider)") {
    // the unbounded-key operators (dedupExact, domainQuotaStream) ship
    // with RocksDbStateStoreConfs as their production setting — prove the
    // whole stack (provider class + changelog checkpointing + rocksdbjni)
    // actually loads and produces identical results
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withConfs(StreamingOps.RocksDbStateStoreConfs.toSeq: _*) {
      val mem = MemoryStream[(String, Long)]
      val docs = mem.toDF().toDF("source", "doc_id")
      val admitted = StreamingOps.domainQuotaStream(docs, "source", "doc_id", cap = 2)
      val q = admitted.writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("append").start()
      try {
        mem.addData(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
        q.processAllAvailable()
        mem.addData(("a", 4L), ("b", 11L))
        q.processAllAvailable()
        // the running query's state store MUST be RocksDB, not the
        // heap-backed default
        val provider = q.lastProgress.stateOperators.headOption
          .map(_.customMetrics.keySet.asScala.toSet).getOrElse(Set.empty[String])
        assert(provider.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics on the state operator: $provider")
        val out = spark.table("rocksdb_out")
          .select(col("domain"), get_json_object(col("payload"), "$.doc_id").cast("long"))
          .as[(String, Long)].collect().toSet
        assert(out == Set(("a", 1L), ("a", 2L), ("b", 10L), ("b", 11L)))
      } finally q.stop()
    }
  }

  test("tumbling window counts aggregate by hour + type") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val counts = StreamingOps.tumblingCounts(mem.toDF(), "ts", "1 hour", "2 hours")
    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      mem.addData(
        Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(30), 1, "click", 2.0),
        Ev(3, Timestamp.valueOf("2024-01-01 11:05:00"), 1, "click", 4.0))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select(col("window_start").cast("string"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(out("2024-01-01 10:00:00") == 2)
      assert(out("2024-01-01 11:00:00") == 1)
    } finally q.stop()
  }

  test("file-source stream: arrival-triggered micro-batches dedup end-to-end") {
    // the reference's trigger model: files land, each becomes a micro-batch
    SparkSpec.withTempDir("graft-stream") { dir =>
      val src = s"$dir/in"
      Seq(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 1, "a", 1.0))
        .toDF().write.parquet(s"$src/f1.parquet")
      Seq(Ev(1, ts(2), 1, "dup", 9.0), Ev(3, ts(3), 2, "a", 1.0))
        .toDF().write.parquet(s"$src/f2.parquet")
      val stream = spark.readStream
        .schema(Seq.empty[Ev].toDF().schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*/")
      val q = StreamingOps.dedupExact(stream, Seq("event_id"))
        .writeStream.format("memory").queryName("file_dedup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(60000)
        val out = spark.table("file_dedup").select("event_id").as[Long].collect().toSet
        assert(out == Set(1L, 2L, 3L)) // duplicate event_id=1 dropped across files
      } finally q.stop()
    }
  }

  test("batch-stream equivalence: tumblingCounts over the events fixture") {
    // the same DataFrame transformation must produce identical results
    // applied in batch and as a file-source stream (the engine's
    // batch/streaming unification claim, SURVEY.md §2.7). Watermark far
    // larger than the fixture's time span so no row is ever late however
    // files are split into micro-batches.
    val ev = graft.sources.Ingest.events(spark, "/root/testdata/sf0.001")
    SparkSpec.withTempDir("graft-bseq") { dir =>
      ev.write.parquet(s"$dir/in")
      val batch = StreamingOps.tumblingCounts(ev, "ts", "1 hour", "365 days")
        .select(col("window_start").cast("string"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().toSet
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "7") // force several micro-batches
        .parquet(s"$dir/in")
      val q = StreamingOps.tumblingCounts(stream, "ts", "1 hour", "365 days")
        .writeStream.format("memory").queryName("bseq_out")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(120000)
        val streamed = spark.table("bseq_out")
          .select(col("window_start").cast("string"), col("event_type"), col("n"))
          .as[(String, String, Long)].collect().toSet
        assert(streamed == batch)
        assert(batch.nonEmpty)
      } finally q.stop()
    }
  }

  test("stream tumblingCounts ≡ q31's oracle semantics (round-8 verdict item 6)") {
    // q31_hourly_rollup (date_trunc-hour groupBy, DuckDB-oracle-checked at
    // verify time) and the streaming tumblingCounts window must be THE SAME
    // aggregation: a 1-hour tumbling window's start == date_trunc('hour').
    // Run the stream over a file replay of the real events fixture and
    // compare row-for-row against the registered batch query — so the
    // stream is transitively pinned to the same DuckDB oracle as q31.
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.sources.Ingest.events(spark, sfDir)
    SparkSpec.withTempDir("graft-q31eq") { dir =>
      ev.write.parquet(s"$dir/in")
      val q31 = Queries.all.find(_.name == "q31_hourly_rollup").get
        .run(spark, sfDir)
        .select(col("hour").cast("string"), col("event_type"), col("n"),
          round(col("sum_value"), 2))
        .as[(String, String, Long, Double)].collect().toSet
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "7")
        .parquet(s"$dir/in")
      val q = StreamingOps.tumblingCounts(stream, "ts", "1 hour", "365 days")
        .writeStream.format("memory").queryName("q31eq_out")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(120000)
        // tumblingCounts sums double; q31 sums exact decimal — compare at
        // cents (the fixture values are 2-decimal amounts, so a drift here
        // would mean a real aggregation difference, not float noise)
        val streamed = spark.table("q31eq_out")
          .select(col("window_start").cast("string"), col("event_type"), col("n"),
            round(col("sum_value"), 2))
          .as[(String, String, Long, Double)].collect().toSet
        assert(streamed == q31)
        assert(q31.nonEmpty)
      } finally q.stop()
    }
  }

  test("TTL dedup (flatMapGroupsWithState): blocked while lock lives, re-admitted after") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // 30-minute event-time TTL
    val out = StreamingOps.dedupWithTtl(mem.toDF(), "event_id", "ts",
      ttlMs = 30L * 60 * 1000)
    val q = out.writeStream.format("memory").queryName("ttl_out")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts(5), 1, "dup", 9.0)) // 5 min later: lock live → dropped
      q.processAllAvailable()
      mem.addData(Ev(1, Timestamp.valueOf("2024-01-01 10:45:00"), 1, "readmit", 2.0))
      q.processAllAvailable() // 45 min later: lock expired → re-admitted
      val byPayload = spark.table("ttl_out").select("key", "payload")
        .as[(String, String)].collect().groupBy(_._1)
      assert(byPayload("2").length == 1)
      assert(byPayload("1").length == 2) // original + re-admission, dup dropped
      assert(!byPayload("1").exists(_._2.contains("\"dup\"")))
    } finally q.stop()
  }

  test("foreachBatch ledger upsert: appends only unseen keys across batches") {
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft_ledger") { tmp =>
      val dir = s"$tmp/t"
      val mem = MemoryStream[Ev]
      val q = StreamingOps.upsertStream(mem.toDF(), Seq("event_id"), dir).start()
      try {
        mem.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 1, "a", 2.0),
          Ev(2, ts(1), 1, "intra-batch-dup", 9.0))
        q.processAllAvailable()
        // replayed key 1 (cross-batch dup) + fresh key 3
        mem.addData(Ev(1, ts(5), 1, "cross-batch-dup", 9.0), Ev(3, ts(6), 2, "a", 3.0))
        q.processAllAvailable()
        val ledger = spark.read.parquet(dir)
        assert(ledger.count() == 3)
        assert(ledger.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
        assert(!ledger.select("event_type").as[String].collect().exists(_.contains("dup")))
      } finally q.stop()
    }
  }

  test("checkpoint restart + batch replay: ledger upsert stays exactly-once") {
    // The production contract the reference's Redis SETNX approximates
    // (/root/reference/src/redis_tools.py:15-36): output must be
    // exactly-once even though foreachBatch delivery is at-least-once.
    // Simulate the worst crash window — AFTER the batch's writes, BEFORE
    // its commit marker — by deleting the latest checkpoint commit and
    // restarting: Spark redelivers that batch, and the anti-join must
    // absorb the replay.
    SparkSpec.withTempDir("graft_ckpt") { base =>
      val src = s"$base/in"; val ledger = s"$base/ledger"; val ckpt = s"$base/ckpt"
      val schema = Seq.empty[Ev].toDF().schema
      def run(): Unit = {
        val stream = spark.readStream.schema(schema).parquet(s"$src/*/")
        val q = StreamingOps.upsertStream(stream, Seq("event_id"), ledger)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination(120000) finally q.stop()
      }
      Seq(Ev(1, ts(0), 1, "orig", 1.0), Ev(2, ts(1), 1, "orig", 2.0))
        .toDF().write.parquet(s"$src/f1.parquet")
      run()
      assert(spark.read.parquet(ledger).count() == 2)
      // crash window: drop the newest commit marker → batch replays on restart
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit))
      commits.sortBy(_.getName.toLong).lastOption.foreach { f =>
        assert(f.delete())
        // the local ChecksumFs keeps a hidden .N.crc twin; a stale one
        // blocks the replayed commit's atomic rename
        new java.io.File(f.getParent, s".${f.getName}.crc").delete()
      }
      // new data lands too: a cross-restart duplicate key + a fresh key
      Seq(Ev(1, ts(5), 1, "cross-restart-dup", 9.0), Ev(3, ts(6), 2, "orig", 3.0))
        .toDF().write.parquet(s"$src/f2.parquet")
      run()
      val out = spark.read.parquet(ledger)
      assert(out.count() == 3, "replayed batch or duplicate key re-appended")
      assert(out.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
      // the replayed/duplicate rows never overwrote the first writer
      assert(out.select("event_type").as[String].collect().forall(_ == "orig"))
    }
  }

  for ((provider, confs) <- Seq("default" -> Map.empty[String, String],
      "RocksDB" -> StreamingOps.RocksDbStateStoreConfs))
    test(s"ledger upsert over a seeded ledger: each key once, first writer kept ($provider state store)") {
      implicit val sqlCtx = spark.sqlContext
      SparkSpec.withTempDir("graft_seeded") { base =>
        val ledger = s"$base/ledger"
        // rows already in the ledger before the query starts
        Seq(Ev(1, ts(0), 1, "seed", 1.0), Ev(2, ts(0), 1, "seed", 2.0))
          .toDF().write.parquet(ledger)
        SparkSpec.withConfs(confs.toSeq: _*) {
          val mem = MemoryStream[Ev]
          val q = StreamingOps.upsertStream(mem.toDF(), Seq("event_id"), ledger)
            .option("checkpointLocation", s"$base/ckpt").start()
          try {
            // a seeded key, a fresh key and its in-batch duplicate
            mem.addData(Ev(1, ts(1), 1, "dup", 9.0), Ev(3, ts(1), 1, "first", 3.0),
              Ev(3, ts(2), 1, "dup", 9.0))
            q.processAllAvailable()
            // a cross-batch duplicate, the other seeded key, a fresh key
            mem.addData(Ev(3, ts(3), 1, "dup", 9.0), Ev(2, ts(3), 1, "dup", 9.0),
              Ev(4, ts(4), 2, "first", 4.0))
            q.processAllAvailable()
            // duplicates only: nothing to append
            mem.addData(Ev(4, ts(5), 2, "dup", 9.0), Ev(1, ts(5), 1, "dup", 9.0))
            q.processAllAvailable()
            val out = spark.read.parquet(ledger).select("event_id", "event_type")
              .as[(Long, String)].collect()
            assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
            assert(out.toMap == Map(1L -> "seed", 2L -> "seed", 3L -> "first", 4L -> "first"))
            // one state row per distinct key the run has seen, seeded ones too
            val state = q.lastProgress.stateOperators.head
            assert(state.numRowsTotal == 4)
            if (confs.nonEmpty)
              assert(state.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
                s"no rocksdb metrics on the state operator: ${state.customMetrics.keySet}")
          } finally q.stop()
        }
      }
    }

  test("ledger upsert: jobs per micro-batch stay flat as the ledger grows") {
    implicit val sqlCtx = spark.sqlContext
    // job count by (query id, batch id), from the local properties every
    // micro-batch job carries
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        for {
          props <- Option(js.properties)
          query <- Option(props.getProperty("sql.streaming.queryId"))
          batch <- Option(props.getProperty("streaming.sql.batchId"))
        } jobs.merge((query, batch.toLong), 1, _ + _)
    }
    // listener events post asynchronously: poll until the count stops moving
    def settled(): Unit = {
      def total = jobs.values.asScala.sum
      var prev = -1; var cur = total
      while (prev != cur) { prev = cur; Thread.sleep(250); cur = total }
    }
    def jobsPerBatch(seeded: Boolean): Seq[Int] = {
      SparkSpec.withTempDir("graft_jobs") { tmp =>
        val ledger = s"$tmp/l"
        if (seeded) Seq(Ev(0, ts(0), 1, "seed", 0.0)).toDF().write.parquet(ledger)
        val mem = MemoryStream[Ev]
        val q = StreamingOps.upsertStream(mem.toDF(), Seq("event_id"), ledger).start()
        val batches = 6
        try (1 to batches).foreach { b =>
          mem.addData((1 to 8).map(i => Ev(b * 100L + i, ts(b), i, "a", 1.0)): _*)
          q.processAllAvailable()
        } finally q.stop()
        settled()
        assert(spark.read.parquet(ledger).count() == batches * 8 + (if (seeded) 1 else 0))
        (0 until batches).map(b => jobs.getOrDefault((q.id.toString, b.toLong), 0))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // an empty ledger: the dedup shuffle and the append are one job
      val empty = jobsPerBatch(seeded = false)
      assert(empty.forall(_ == 1), s"jobs per batch from an empty ledger: $empty")
      // a seeded ledger adds the snapshot join (a broadcast job), the same every batch
      val seeded = jobsPerBatch(seeded = true)
      assert(seeded.forall(_ == seeded.head) && seeded.head <= 2,
        s"jobs per batch from a seeded ledger: $seeded")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming LSH near-dup: admit-at-ingest across micro-batches, batch-consistent buckets") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft_lsh") { tmp =>
      val dir = s"$tmp/out"
      val mem = MemoryStream[(Long, String)]
      val textA = "the quick brown fox jumps over the lazy dog again and again"
      val textD = "completely different content about spark streaming state stores"
      val q = StreamingOps.lshNearDupStream(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        nHashes = 8, bands = 4, rowsPerBand = 2, dir).start()
      try {
        // batch 1: doc 1 and its exact dup doc 2 (same text → same bands)
        mem.addData((1L, textA), (2L, textA))
        q.processAllAvailable()
        // batch 2: cross-batch dup doc 3 + genuinely distinct doc 4
        mem.addData((3L, textA), (4L, textD))
        q.processAllAvailable()
        val out = spark.read.parquet(dir)
          .select("doc_id", "admitted", "dup_of", "n_collisions")
          .as[(Long, Boolean, Option[Long], Long)].collect()
          .map(r => r._1 -> r).toMap
        // first writer admitted; intra-batch dup rejected, earliest claimant named
        assert(out(1L)._2 && out(1L)._3.isEmpty)
        assert(!out(2L)._2 && out(2L)._3.contains(1L) && out(2L)._4 == 4)
        // cross-batch dup rejected against the STATE, not the batch
        assert(!out(3L)._2 && out(3L)._3.contains(1L))
        // distinct content shares no band with doc 1 → verify against the
        // BATCH bucketing (stream and batch must agree), then admission
        val bandsOf = (t: String) => spark.range(1)
          .select(explode(TextOps.lshBandKeys(TextOps.minhashSignature(
            TextOps.shingleHashes(TextOps.wordBigrams(TextOps.tokens(lit(t)))), 8),
            4, 2)).as("b")).as[String].collect().toSet
        assert((bandsOf(textA) & bandsOf(textD)).isEmpty) // fixture precondition
        assert(out(4L)._2 && out(4L)._3.isEmpty)
        // every doc reports all 4 bands
        assert(out.values.forall(r => spark.read.parquet(dir)
          .where(col("doc_id") === r._1).select("n_bands").as[Long].head() == 4))
      } finally q.stop()
    }
  }

  test("streaming LSH near-dup with TTL: claims expire, late dups re-admit, state compacts") {
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft_lsh_ttl") { tmp =>
      val dir = s"$tmp/out"
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val text = "the quick brown fox jumps over the lazy dog again and again"
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
      def ts(min: Long) = new java.sql.Timestamp(t0 + min * 60000L)
      val ttlMs = 30L * 60 * 1000 // 30-minute claim TTL
      val q = StreamingOps.lshNearDupStream(
        mem.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
        nHashes = 8, bands = 4, rowsPerBand = 2, dir,
        stateTtl = Some(("ts", ttlMs))).start()
      try {
        // t+0: doc 1 claims; t+10: dup doc 2 inside the TTL → blocked
        mem.addData((1L, ts(0), text), (2L, ts(10), text))
        q.processAllAvailable()
        // t+45: doc 1's claims (expiry t+30) lapsed → doc 3 RE-CLAIMS;
        // t+50: doc 4 inside doc 3's fresh TTL → blocked BY DOC 3
        mem.addData((3L, ts(45), text), (4L, ts(50), text))
        q.processAllAvailable()
        val out = spark.read.parquet(dir)
          .select("doc_id", "admitted", "dup_of")
          .as[(Long, Boolean, Option[Long])].collect()
          .map(r => r._1 -> r).toMap
        assert(out(1L)._2 && out(1L)._3.isEmpty)
        assert(!out(2L)._2 && out(2L)._3.contains(1L))
        assert(out(3L)._2 && out(3L)._3.isEmpty) // Redis-expiry re-admission
        assert(!out(4L)._2 && out(4L)._3.contains(3L)) // new claimant named
      } finally q.stop()
    }
  }

  test("streaming media-decode health ledger accumulates per-format rates") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    SparkSpec.withTempDir("health") { tmp =>
      val dir = s"$tmp/ledger"
      val q = StreamingOps.mediaHealthStream(
        mem.toDF().toDF("doc_id", "bin"), "doc_id", "bin", dir).start()
      def ledger(): Map[String, (Long, Long, Double)] =
        VersionedLedger.read(spark, dir).get.collect().map(r =>
          r.getAs[String]("format") -> ((r.getAs[Long]("n_seen"),
            r.getAs[Long]("n_ok"), r.getAs[Double]("fail_rate")))).toMap
      try {
        mem.addData((0L, Multimodal.synthWav(0L)), (1L, Multimodal.synthBmp(1L)),
          (2L, "garbage text payload".getBytes))
        q.processAllAvailable()
        val l1 = ledger()
        assert(l1("wav") == ((1L, 1L, 0.0)) && l1("bmp") == ((1L, 1L, 0.0)))
        assert(l1("unknown")._2 == 0L && l1("unknown")._3 == 1.0)
        // batch 2: a truncated PNG sniffs as png but FAILS decode — the
        // per-format rate moves within one trigger, cumulatively
        mem.addData((3L, Multimodal.synthWav(3L)),
          (4L, Multimodal.synthPng(4L).take(30)))
        q.processAllAvailable()
        val l2 = ledger()
        assert(l2("wav") == ((2L, 2L, 0.0)))
        assert(l2("png") == ((1L, 0L, 1.0)))
        assert(l2("unknown") == ((1L, 0L, 1.0))) // batch-1 state survived
      } finally q.stop()
    }
  }

  test("mediaHealth ledger replay fence: re-delivered (runTag, batchId) is a no-op; a NEW lineage applies") {
    import graft.operators.Multimodal
    SparkSpec.withTempDir("health-replay") { tmp =>
      val dir = s"$tmp/ledger"
      def ledger(): Map[String, (Long, Long)] =
        VersionedLedger.read(spark, dir).get.collect().map(r =>
          r.getAs[String]("format") -> ((r.getAs[Long]("n_seen"),
            r.getAs[Long]("n_ok")))).toMap
      val batch = Seq((0L, Multimodal.synthWav(0L))).toDF("doc_id", "bin")
      // lineage A, batch 0: applies
      StreamingOps.mediaHealthMerge(batch, 0L, "runA", "doc_id", "bin", dir)
      assert(ledger()("wav") == ((1L, 1L)))
      assert(VersionedLedger.lastAppliedBatch(spark, dir).contains(0L))
      assert(VersionedLedger.lastAppliedRun(spark, dir).contains("runA"))
      // a foreachBatch sink is at-least-once: a crash after the ledger
      // commit but before Spark's checkpoint commit re-delivers the SAME
      // batch id UNDER THE SAME query lineage (the query id is persisted
      // in the checkpoint) — the fence must no-op it
      StreamingOps.mediaHealthMerge(batch, 0L, "runA", "doc_id", "bin", dir)
      assert(ledger()("wav") == ((1L, 1L)), "replayed (runA, 0) double-counted")
      // the NEXT batch id in the same lineage is new work and must apply
      StreamingOps.mediaHealthMerge(batch, 1L, "runA", "doc_id", "bin", dir)
      assert(ledger()("wav") == ((2L, 2L)))
      assert(VersionedLedger.lastAppliedBatch(spark, dir).contains(1L))
      // a NEW stream run (fresh checkpoint ⇒ new query id) restarts batch
      // ids at 0 with genuinely new data — round-14 advice: a batch-id-only
      // fence would silently DISCARD it; the run-tag-aware fence applies it
      StreamingOps.mediaHealthMerge(batch, 0L, "runB", "doc_id", "bin", dir)
      assert(ledger()("wav") == ((3L, 3L)), "new lineage (runB, 0) silently discarded")
      assert(VersionedLedger.lastAppliedRun(spark, dir).contains("runB"))
    }
  }

  test("legacy two-line pointer (no run tag) fences by batch id alone until the first tagged commit") {
    // round-16 doc pin: a pointer written BEFORE the run-tag line existed
    // carries only (version, batchId); `forall` on the absent tag makes
    // alreadyApplied true for ANY run — the documented legacy behavior —
    // so a legacy ledger stays bound to its original lineage until one
    // post-upgrade commit writes the tag.
    import spark.implicits._
    SparkSpec.withTempDir("legacy-ptr") { tmp =>
      val dir = s"$tmp/ledger"
      VersionedLedger.writeVersion(Seq((1L, 2L)).toDF("k", "v"), dir, 0L)
      // hand-written pre-round-15 pointer: two lines, no tag
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/CURRENT"), "0\n3")
      assert(VersionedLedger.lastAppliedBatch(spark, dir).contains(3L))
      assert(VersionedLedger.lastAppliedRun(spark, dir).isEmpty)
      // the legacy fence catches EVERY lineage's batches <= 3 — including a
      // fresh checkpoint's first batches (the documented caveat)
      assert(VersionedLedger.alreadyApplied(spark, dir, "oldRun", 3L))
      assert(VersionedLedger.alreadyApplied(spark, dir, "freshRun", 0L),
        "legacy pointer must fence batch-id-only, tag ignored")
      assert(!VersionedLedger.alreadyApplied(spark, dir, "freshRun", 4L))
      // one tagged commit retires the legacy pointer: tags now distinguish
      VersionedLedger.swapPointer(spark, dir, 0L, Some(4L), Some("runA"))
      assert(VersionedLedger.alreadyApplied(spark, dir, "runA", 4L))
      assert(!VersionedLedger.alreadyApplied(spark, dir, "freshRun", 0L),
        "post-upgrade pointer must stop fencing foreign lineages")
    }
  }

  test("swapPointer refuses a runTag without a batchId instead of silently dropping it") {
    SparkSpec.withTempDir("tag-no-batch") { tmp =>
      val dir = s"$tmp/ledger"
      intercept[IllegalArgumentException] {
        VersionedLedger.swapPointer(spark, dir, 0L, None, Some("runA"))
      }
    }
  }

  test("mediaHealth fence end-to-end: a fresh-checkpoint stream run against an existing ledger APPLIES") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("health-fresh") { tmp =>
      val dir = s"$tmp/ledger"
      def seen(): Long = VersionedLedger.read(spark, dir).get
        .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("n_seen")))
        .collect()(0).getLong(0)
      val mem1 = MemoryStream[(Long, Array[Byte])]
      val q1 = StreamingOps.mediaHealthStream(
        mem1.toDF().toDF("doc_id", "bin"), "doc_id", "bin", dir).start()
      try {
        mem1.addData((0L, Multimodal.synthWav(0L)))
        q1.processAllAvailable()
        assert(seen() == 1L)
        // the run tag recorded is the real streaming query id
        assert(VersionedLedger.lastAppliedRun(spark, dir).contains(q1.id.toString))
      } finally q1.stop()
      // second, INDEPENDENT run (fresh MemoryStream ⇒ fresh checkpoint ⇒
      // new query id) whose first batch is again id 0: legitimately new
      // data, and it must land in the ledger, not be fenced away
      val mem2 = MemoryStream[(Long, Array[Byte])]
      val q2 = StreamingOps.mediaHealthStream(
        mem2.toDF().toDF("doc_id", "bin"), "doc_id", "bin", dir).start()
      try {
        mem2.addData((1L, Multimodal.synthWav(1L)))
        q2.processAllAvailable()
        assert(seen() == 2L, "fresh-lineage batch 0 was silently discarded")
      } finally q2.stop()
    }
  }

  test("tokenizerFertilityStream: per-source cumulative fertility, batch-equivalent, artifact hot-swap, fenced") {
    import graft.operators.{TokenizerArtifact, TrainPrep}
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft-fert") { base =>
      val artPath = s"$base/artifact"
      val ledger = s"$base/ledger"
      // deployed tokenizer v0: full alphabet for "alpha beta", plus "beta"
      val v0 = Seq("a", "l", "p", "h", "b", "e", "t",
        "##a", "##l", "##p", "##h", "##b", "##e", "##t", "beta")
      TokenizerArtifact.commit(spark, artPath,
        TokenizerArtifact.serializeWordPiece(v0))

      val mem = MemoryStream[(Long, String, String)]
      val docs = mem.toDF().toDF("doc_id", "text", "source")
      val q = StreamingOps.tokenizerFertilityStream(docs, "doc_id", "text",
        "source", artPath, maxInputChars = 16, ledger).start()
      def rows(): Map[String, (Long, Long, Long, Long, Double)] =
        VersionedLedger.read(spark, ledger).get.collect().map(r =>
          r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
            r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("n_unk"), r.getAs[Double]("fertility")))).toMap
      try {
        // batch 0: "alpha" = a ##l ##p ##h ##a (5 pieces), "beta" = beta (1)
        mem.addData((0L, "alpha beta", "web"), (1L, "beta", "books"))
        q.processAllAvailable()
        val l1 = rows()
        assert(l1("web") == ((1L, 2L, 6L, 0L, 3.0)))
        assert(l1("books") == ((1L, 1L, 1L, 0L, 1.0)))
        // batch 1 accumulates; "qq" has no vocab coverage → [UNK]
        mem.addData((2L, "alpha qq", "web"))
        q.processAllAvailable()
        val l2 = rows()
        assert(l2("web") == ((2L, 4L, 12L, 1L, 3.0))) // 6 + 5 + 1(UNK)
        // cumulative ≡ batch-equivalent: the one-shot fertility on the
        // union of all batches matches the ledger exactly
        val all = Seq((0L, "alpha beta", "web"), (1L, "beta", "books"),
          (2L, "alpha qq", "web")).toDF("doc_id", "text", "source")
        val oneShot = TrainPrep.tokenizerFertility(all, "doc_id", "text",
          "source", v0, 16).collect().map(r =>
          r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
            r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("n_unk"), r.getAs[Double]("fertility")))).toMap
        assert(l2 == oneShot)
        // hot-swap: retrained artifact with "alpha" as one piece commits
        // atomically under the live monitor; the NEXT batch uses it
        TokenizerArtifact.commit(spark, artPath,
          TokenizerArtifact.serializeWordPiece(v0 :+ "alpha"))
        mem.addData((3L, "alpha", "web"))
        q.processAllAvailable()
        val l3 = rows()
        assert(l3("web") == ((3L, 5L, 13L, 1L, 2.6))) // +1 piece, not +5
      } finally q.stop()
      // replay fence at (runTag, batchId) granularity: a re-delivered batch
      // is a no-op, a new lineage applies (the mediaHealth contract)
      val b = Seq((9L, "beta", "web")).toDF("doc_id", "text", "source")
      val before = rows()("web")
      StreamingOps.tokenizerFertilityMerge(b, 99L, "runX", "doc_id", "text",
        "source", artPath, 16, ledger)
      val afterApply = rows()("web")
      assert(afterApply._1 == before._1 + 1)
      StreamingOps.tokenizerFertilityMerge(b, 99L, "runX", "doc_id", "text",
        "source", artPath, 16, ledger)
      assert(rows()("web") == afterApply, "re-delivered (runX, 99) double-counted")
      StreamingOps.tokenizerFertilityMerge(b, 0L, "runY", "doc_id", "text",
        "source", artPath, 16, ledger)
      assert(rows()("web")._1 == afterApply._1 + 1, "new lineage must apply")
    }
  }

  test("qualityScoreStream: per-source cumulative score ledger, batch-equivalent, model hot-swap, fenced") {
    import graft.operators.{TokenizerArtifact, TrainPrep}
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft-qscore") { base =>
      val modelPath = s"$base/model"
      val ledger = s"$base/ledger"
      // deployed model v0: trained on the separable planted fixture (the
      // TrainPrepSpec corpus — the trained model classifies it perfectly)
      val fixture = (0L until 40L).map { i =>
        val b = "alpha beta gamma delta epsilon"
        (i, if (i % 2 == 0) b + " spamword junkword scamword" else b,
          if (i % 2 == 0) 1L else 0L)
      }.toDF("doc_id", "text", "y")
      val w0 = TrainPrep.logregTrain(fixture, "doc_id", "text", "y",
        dim = 64, rounds = 32, lrDiv = 2L)
      TokenizerArtifact.commit(spark, modelPath,
        TokenizerArtifact.serializeLinear(w0))

      val mem = MemoryStream[(Long, String, String)]
      val docs = mem.toDF().toDF("doc_id", "text", "source")
      val q = StreamingOps.qualityScoreStream(docs, "doc_id", "text",
        "source", modelPath, ledger).start()
      def rows(): Map[String, (Long, Long, Long)] =
        VersionedLedger.read(spark, ledger).get.collect().map(r =>
          r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
            r.getAs[Long]("n_spam"), r.getAs[Long]("sum_p_micro")))).toMap
      val clean = "alpha beta gamma delta epsilon"
      try {
        // batch 0: one planted-spam doc and one clean doc per the fixture
        // shape — the committed model must flag exactly the marker doc
        mem.addData(
          (0L, clean + " spamword junkword scamword", "web"),
          (1L, clean, "web"),
          (2L, clean, "books"))
        q.processAllAvailable()
        val l1 = rows()
        assert(l1("web")._1 == 2L && l1("web")._2 == 1L,
          s"model must flag the marker doc only: ${l1("web")}")
        assert(l1("books")._1 == 1L && l1("books")._2 == 0L)
        // batch 1 accumulates; cumulative ≡ batch-equivalent: the one-shot
        // scorer over the union of all batches matches the ledger exactly
        mem.addData((3L, "spamword junkword scamword", "web"))
        q.processAllAvailable()
        val all = Seq(
          (0L, clean + " spamword junkword scamword", "web"),
          (1L, clean, "web"), (2L, clean, "books"),
          (3L, "spamword junkword scamword", "web"))
          .toDF("doc_id", "text", "source")
        val oneShot = TrainPrep.logregScore(all, "doc_id", "text", w0, 64)
          .join(all.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("pred")).as("n_spam"),
            sum(col("p_micro")).as("sum_p_micro"))
          .collect().map(r => r.getAs[String]("source") ->
            ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_spam"),
              r.getAs[Long]("sum_p_micro")))).toMap
        assert(rows() == oneShot)
        // hot-swap: a retrained (here: degenerate always-spam, bias-only)
        // model commits atomically under the live monitor; the NEXT batch
        // scores under it — p(margin = 1e6) = 750000 under the pinned
        // rational sigmoid, and dim rides in from the artifact
        val booksBefore = rows()("books")
        TokenizerArtifact.commit(spark, modelPath,
          TokenizerArtifact.serializeLinear(Seq.fill(64)(0L) :+ 1000000L))
        mem.addData((4L, clean, "books"))
        q.processAllAvailable()
        val booksAfter = rows()("books")
        assert(booksAfter._1 == booksBefore._1 + 1)
        assert(booksAfter._2 == booksBefore._2 + 1,
          "the swapped-in model must drive the next batch's predictions")
        assert(booksAfter._3 == booksBefore._3 + 750000L)
      } finally q.stop()
      // replay fence at (runTag, batchId) granularity: a re-delivered batch
      // is a no-op, a new lineage applies (the mediaHealth contract)
      val b = Seq((9L, clean, "web")).toDF("doc_id", "text", "source")
      val before = rows()("web")
      StreamingOps.qualityScoreMerge(b, 99L, "runX", "doc_id", "text",
        "source", modelPath, ledger)
      val afterApply = rows()("web")
      assert(afterApply._1 == before._1 + 1)
      StreamingOps.qualityScoreMerge(b, 99L, "runX", "doc_id", "text",
        "source", modelPath, ledger)
      assert(rows()("web") == afterApply, "re-delivered (runX, 99) double-counted")
      StreamingOps.qualityScoreMerge(b, 0L, "runY", "doc_id", "text",
        "source", modelPath, ledger)
      assert(rows()("web")._1 == afterApply._1 + 1, "new lineage must apply")
    }
  }

  test("bandedAdmitStream: per-trigger admit vs the committed corpus, index hot-swap, fenced") {
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft-badmit") { base =>
      val index = s"$base/index"
      val ledger = s"$base/ledger"
      val out = s"$base/out"
      // committed corpus: two docs with disjoint vocabularies
      val corpusA = "the quick brown fox jumps over the lazy dog tonight"
      val corpusB = "gradient descent converges on convex losses eventually"
      StreamingOps.commitBandedAdmitIndex(
        Seq((0L, corpusA), (1L, corpusB)).toDF("doc_id", "text"),
        "doc_id", "text", index)

      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = StreamingOps.bandedAdmitStream(docs, "doc_id", "text",
        index, ledger, out).start()
      def counts(): (Long, Long, Long) = {
        val r = VersionedLedger.read(spark, ledger).get.collect().head
        (r.getAs[Long]("n_seen"), r.getAs[Long]("n_admitted"),
          r.getAs[Long]("n_rejected"))
      }
      def verdict(id: Long): (Boolean, Option[Long]) = {
        val r = spark.read.parquet(out).filter(col("doc_id") === id)
          .collect().head
        (r.getAs[Boolean]("admitted"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue))
      }
      val fresh = "completely novel sentence about volcanic lighthouse keepers"
      try {
        // batch 0: an exact re-crawl of corpus doc 0 (jaccard 1 → reject,
        // dup_of = 0), a fresh doc (admit), and a 1-token doc (no bigrams
        // → trivially admitted: nothing to band)
        mem.addData((100L, corpusA), (101L, fresh), (102L, "hi"))
        q.processAllAvailable()
        assert(counts() == ((3L, 2L, 1L)), s"got ${counts()}")
        assert(verdict(100L) == ((false, Some(0L))))
        assert(verdict(101L) == ((true, None)))
        assert(verdict(102L) == ((true, None)))
        // the gate adjudicates vs the COMMITTED corpus, not the stream:
        // a near-dup of the batch-0 admitted doc still admits (its twin
        // was never committed) — the lshNearDupStream contrast
        mem.addData((103L, fresh))
        q.processAllAvailable()
        assert(counts() == ((4L, 3L, 1L)))
        assert(verdict(103L)._1, "uncommitted twins must not reject")
        // hot-swap: re-commit the index WITH the fresh doc; its next
        // near-dup is rejected against the new snapshot
        StreamingOps.commitBandedAdmitIndex(
          Seq((0L, corpusA), (1L, corpusB), (2L, fresh))
            .toDF("doc_id", "text"),
          "doc_id", "text", index)
        mem.addData((104L, fresh))
        q.processAllAvailable()
        assert(counts() == ((5L, 3L, 2L)))
        assert(verdict(104L) == ((false, Some(2L))))
      } finally q.stop()
      // replay fence: a re-delivered (runTag, batchId) is a COMPLETE
      // no-op — ledger counts AND the per-doc verdict sink; a new
      // lineage (ids restarting at 0) applies
      val b = Seq((200L, corpusB)).toDF("doc_id", "text")
      val before = counts()
      val outBefore = spark.read.parquet(out).count()
      StreamingOps.bandedAdmitMerge(b, 42L, "runX", "doc_id", "text",
        index, ledger, out, 0.5)
      assert(counts() == ((before._1 + 1, before._2, before._3 + 1)))
      assert(spark.read.parquet(out).count() == outBefore + 1)
      val applied = counts()
      StreamingOps.bandedAdmitMerge(b, 42L, "runX", "doc_id", "text",
        index, ledger, out, 0.5)
      assert(counts() == applied, "re-delivered (runX, 42) double-counted")
      assert(spark.read.parquet(out).count() == outBefore + 1,
        "re-delivered batch re-appended verdicts")
      StreamingOps.bandedAdmitMerge(b, 0L, "runY", "doc_id", "text",
        index, ledger, out, 0.5)
      assert(counts()._1 == applied._1 + 1, "new lineage must apply")
    }
  }

  test("driftGateStream: per-batch PSI vs a fixed reference, batch-equivalent, gate fires on drift") {
    import graft.operators.TrainPrep
    SparkSpec.withTempDir("graft-drift") { base =>
      val refPath = s"$base/ref"
      val monPath = s"$base/mon"
      val refDocs = Seq.fill(20)("alpha beta gamma delta").toDF("text")
      TrainPrep.tokenHistogram(refDocs, "text", dim = 32)
        .write.parquet(refPath)

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[String]
      // threshold = the standard PSI 0.2 alarm in scaled units
      // (nano-gap × micro-log = 1e15 per 1.0 of PSI)
      val q = StreamingOps.driftGateStream(mem.toDF().toDF("text"), "text",
        refPath, dim = 32, psiThresholdScaled = 200_000_000_000_000L, monPath).start()
      try {
        // batch 0: identical token DISTRIBUTION at identical token mass →
        // every bucket's smoothed pA equals pB exactly → PSI is exactly 0
        mem.addData(Seq.fill(20)("alpha beta gamma delta"): _*)
        q.processAllAvailable()
        // batch 1: disjoint vocabulary → strong drift
        mem.addData("zz yy xx ww vv uu", "qq pp oo nn mm ll")
        q.processAllAvailable()
        val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
        assert(mon.length == 2)
        assert(mon(0).getAs[Long]("psi_scaled") == 0L)
        assert(!mon(0).getAs[Boolean]("drifted"))
        assert(mon(1).getAs[Boolean]("drifted"))
        assert(mon(1).getAs[Long]("psi_scaled") > mon(0).getAs[Long]("psi_scaled"))

        // batch-equivalence pin: the streamed PSI for batch 1 equals the
        // batch tokenDrift over (reference docs = slice A, batch docs = B)
        val b1 = Seq("zz yy xx ww vv uu", "qq pp oo nn mm ll")
          .toDF("text").withColumn("is_ref", lit(false))
        val union = refDocs.withColumn("is_ref", lit(true)).unionByName(b1)
        val batchPsi = TrainPrep.tokenDrift(union, "text", col("is_ref"), dim = 32)
          .agg(sum(col("psi_contrib"))).collect()(0).getLong(0)
        assert(mon(1).getAs[Long]("psi_scaled") == batchPsi)
      } finally q.stop()
    }
  }

  test("incrementalComponentsStream: ledger equals batch CC over all streamed edges") {
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft-inc-cc") { tmp =>
      val ledger = s"$tmp/assignment"
      val mem = MemoryStream[(Long, Long)]
      val q = StreamingOps.incrementalComponentsStream(
          mem.toDF().toDF("src", "dst"), "src", "dst", ledger)
        .option("checkpointLocation", ledger + "-ckpt")
        .start()
      try {
        // batch 1: components {1,2} and {5,6}
        mem.addData((1L, 2L), (5L, 6L))
        q.processAllAvailable()
        val a1 = VersionedLedger.read(spark, ledger).get
          .as[(Long, Long)].collect().toMap
        assert(a1 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
        // batch 2: 2-3 extends, 3-5 MERGES the two, 10-11 is new
        mem.addData((2L, 3L), (3L, 5L), (10L, 11L))
        q.processAllAvailable()
        val a2 = VersionedLedger.read(spark, ledger).get
          .as[(Long, Long)].collect().toMap
        val full = graft.operators.Analytics.connectedComponents(
            Seq((1L, 2L), (5L, 6L), (2L, 3L), (3L, 5L), (10L, 11L))
              .toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(a2 == full, s"ledger $a2 != full recompute $full")
        assert(Seq(1L, 2L, 3L, 5L, 6L).forall(a2(_) == 1L)) // global min
      } finally q.stop()
    }
  }

  test("VersionedLedger: a writer killed between snapshot write and pointer swap loses nothing") {
    SparkSpec.withTempDir("graft-vled") { tmp =>
      val path = s"$tmp/assignment"
      // commit 1 completes normally
      val v0 = VersionedLedger.commit(
        Seq((1L, 1L), (2L, 1L)).toDF("id", "component"), path)
      assert(v0 == 0L)
      // a second writer is KILLED between the two commit halves: the next
      // snapshot dir exists in full, but the pointer was never swapped
      VersionedLedger.writeVersion(
        Seq((1L, 99L)).toDF("id", "component"), path, v0 + 1)
      assert(VersionedLedger.currentVersion(spark, path).contains(0L))
      val recovered = VersionedLedger.read(spark, path).get
        .as[(Long, Long)].collect().toMap
      assert(recovered == Map(1L -> 1L, 2L -> 1L),
        "prior assignment must survive a mid-commit crash")
      // the recovered writer re-commits: the orphan v1 dir is simply
      // rewritten and the pointer lands on it atomically
      val v1 = VersionedLedger.commit(
        Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component"), path)
      assert(v1 == 1L)
      assert(VersionedLedger.read(spark, path).get.count() == 3L)
      // GC after one more commit keeps current + previous only
      val v2 = VersionedLedger.commit(
        Seq((1L, 1L)).toDF("id", "component"), path)
      assert(v2 == 2L)
      val dirs = new java.io.File(path).listFiles().map(_.getName).toSet
      assert(dirs.contains("v2") && dirs.contains("v1") && !dirs.contains("v0"))
      assert(dirs.contains("CURRENT"))
    }
  }

  test("incrementalComponentsStream: ledger survives an orphan snapshot from a killed writer") {
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("graft-inc-cc-crash") { tmp =>
      val ledger = s"$tmp/assignment"
      val mem = MemoryStream[(Long, Long)]
      val q = StreamingOps.incrementalComponentsStream(
          mem.toDF().toDF("src", "dst"), "src", "dst", ledger)
        .option("checkpointLocation", ledger + "-ckpt")
        .start()
      try {
        mem.addData((1L, 2L))
        q.processAllAvailable()
        // simulate a previous incarnation killed mid-commit: a full orphan
        // snapshot at the next version, pointer untouched
        VersionedLedger.writeVersion(
          Seq((42L, 42L)).toDF("id", "component"), ledger,
          VersionedLedger.currentVersion(spark, ledger).get + 1)
        // next trigger must build on the last COMMITTED assignment (1-2),
        // not the orphan, and its own commit replaces the orphan dir
        mem.addData((2L, 3L))
        q.processAllAvailable()
        val a = VersionedLedger.read(spark, ledger).get
          .as[(Long, Long)].collect().toMap
        assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      } finally q.stop()
    }
  }

  test("driftGateStream: atomically refit reference swaps in under a live gate") {
    import graft.operators.TrainPrep
    SparkSpec.withTempDir("graft-drift-v") { base =>
      val refPath = s"$base/ref"
      val monPath = s"$base/mon"
      // fit the reference through the crash-atomic path this time
      VersionedLedger.commit(TrainPrep.tokenHistogram(
        Seq.fill(20)("alpha beta gamma delta").toDF("text"), "text", 32), refPath)
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[String]
      val q = StreamingOps.driftGateStream(mem.toDF().toDF("text"), "text",
        refPath, dim = 32, psiThresholdScaled = 200_000_000_000_000L, monPath).start()
      try {
        mem.addData("zz yy xx ww vv uu") // disjoint vocab vs reference
        q.processAllAvailable()
        // REFIT the reference to the new vocabulary — atomic under the gate
        VersionedLedger.commit(TrainPrep.tokenHistogram(
          Seq.fill(20)("zz yy xx ww vv uu").toDF("text"), "text", 32), refPath)
        // identical distribution AT identical token mass → PSI exactly 0
        // (add-1 smoothing makes proportions mass-sensitive otherwise)
        mem.addData(Seq.fill(20)("zz yy xx ww vv uu"): _*)
        q.processAllAvailable()
        val mon = spark.read.parquet(monPath).orderBy("batch_id").collect()
        assert(mon.length == 2)
        assert(mon(0).getAs[Boolean]("drifted"))  // vs old reference
        assert(!mon(1).getAs[Boolean]("drifted")) // vs refitted reference
        assert(mon(1).getAs[Long]("psi_scaled") == 0L)
      } finally q.stop()
    }
  }

  test("distinctMonitorStream: bounded KMV state, batch-equivalent estimates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val est = StreamingOps.distinctMonitorStream(
      mem.toDF().toDF("src", "text"), "src", "text", k = 4)
    val q = est.toDF().writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    try {
      mem.addData(("a", "x1 x2 x3"), ("b", "y1"))
      q.processAllAvailable()
      mem.addData(("a", "x2 x4 x5 x6 x7"), ("b", "y1 y1 y2"))
      q.processAllAvailable()
      val out = spark.table("kmv_out")
        .select("key", "n_rows", "n_mins", "est_distinct")
        .as[(String, Long, Long, Double)].collect()
      // per-batch emission: one row per key per batch it appeared in
      val aRows = out.filter(_._1 == "a").sortBy(_._2)
      assert(aRows.map(_._2).toSeq == Seq(1L, 2L))
      // batch 1: 3 distinct < k -> exact
      assert(aRows(0)._3 == 3L && aRows(0)._4 == 3.0)
      // final estimates equal the batch KMV over the UNION of batches,
      // computed independently with the same hash family
      def batchKmv(tokens: Seq[String], k: Int): (Long, Double) = {
        val hs = tokens.distinct.map(StreamingOps.kmvTokenHash).sorted.take(k)
        val est =
          if (hs.length < k) hs.length.toDouble
          else (k - 1) * graft.functions.KmvDistinctSketch.HashRange / hs(k - 1)
        (hs.length.toLong, est)
      }
      val aFinal = aRows.last
      val aExp = batchKmv(Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7"), 4)
      assert((aFinal._3, aFinal._4) == aExp,
        s"stream final $aFinal != batch sketch $aExp")
      // state is bounded: sketch size never exceeds k even at 7 distinct
      assert(aFinal._3 == 4L)
      val bFinal = out.filter(_._1 == "b").maxBy(_._2)
      val bExp = batchKmv(Seq("y1", "y2"), 4)
      assert(bFinal._2 == 2L && (bFinal._3, bFinal._4) == bExp)
      // under k distinct -> the estimate is EXACT
      assert(bFinal._4 == 2.0)
    } finally q.stop()
  }
}
