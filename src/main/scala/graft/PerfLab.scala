package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scratch timing harness for query-shape experiments:
  * `runMain graft.PerfLab <sfDir> <name> [reps]` times registered queries
  * (and ad-hoc variants below) through the same noop sink as Bench.
  */
object PerfLab {
  def time(label: String, reps: Int)(f: => DataFrame): Unit = {
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = f
      df.write.format("noop").mode("overwrite").save()
      println(f"[perf] $label rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // UNTIMED between-rep hygiene, mirroring Bench (round 19): without
      // it, dead operator-result checkpoints accumulate across reps/cuts
      // and distort later measurements (the q232phases tokenize cut
      // measured +11 s that the isolated operator does not have)
      df.sparkSession.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq.empty
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-perflab")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // measurement hook (round 19): `SPARK_GRAFT_EXTRA_CONF=k=v,k=v`
    // pins session confs — the SCALE.md drives pass
    // `spark.graft.localFastPath.enabled=false` to turn every
    // size-adaptive local fast path off, so the sf10 rows measure the
    // DISTRIBUTED loops (the plans that run at 100 TB)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(",")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    names.foreach {
      case "stages" =>
        import graft.sources.Ingest
        import graft.operators.{Dedup, Transforms}
        import org.apache.spark.sql.functions._
        val li = Ingest.table(spark, sfDir, "lineitem")
        val ord = Ingest.table(spark, sfDir, "orders")
        time("a_bronze", reps)(Ingest.bronzeFromTpch(li, ord))
        time("b_flatten", reps)(Ingest.flattenBronze(Ingest.bronzeFromTpch(li, ord)))
        time("c_silver", reps)(Ingest.toSilver(Ingest.flattenBronze(Ingest.bronzeFromTpch(li, ord))))
        time("d_dedup", reps)(Dedup.exact(
          Ingest.toSilver(Ingest.flattenBronze(Ingest.bronzeFromTpch(li, ord))), Seq("checksum")))
        time("e_ledger", reps)(Ingest.tpchSilverKeys(li, ord)
          .filter(substring(col("checksum"), 1, 1) === "0"))
      case "silverparts" =>
        import graft.sources.Ingest
        import graft.operators.Transforms
        import org.apache.spark.sql.functions._
        val flat = Ingest.flattenBronze(Ingest.bronzeFromTpch(
          Ingest.table(spark, sfDir, "lineitem"), Ingest.table(spark, sfDir, "orders")))
        time("flat_only", reps)(flat)
        time("silver_nodates", reps)(flat.select(
          col("line.checksum").as("checksum"),
          Transforms.etlChecksum(col("line.date"), col("line.concept"),
            Transforms.centsString(col("line.amount")),
            Transforms.centsString(col("line.remaining"))).as("etl_checksum"),
          col("line.amount").as("amount"),
          col("header.account_number").as("account_number"),
          col("companyId").as("company_id"),
          map_from_entries(col("line.metadata")).as("metadata")))
        time("silver_full", reps)(Ingest.toSilver(flat))
      case "q24probe" =>
        import graft.operators.TextOps
        import graft.sources.Ingest
        import org.apache.spark.sql.functions._
        val docs = Ingest.table(spark, sfDir, "documents")
        val base = docs.select(col("doc_id"),
          TextOps.wordBigrams(TextOps.tokens(col("text"))).as("sh")).filter(size(col("sh")) > 0)
        val sig = base.withColumn("hv", TextOps.shingleHashes(col("sh")))
          .withColumn("sig", TextOps.minhashSignature(col("hv"), 8))
        val banded = sig.select(col("doc_id"),
          posexplode(TextOps.lshBandKeys(col("sig"), 4, 2)).as(Seq("band", "bkey")))
        val cand = banded.alias("x").join(banded.alias("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
        println("docs=" + docs.count() + " cand=" + cand.count())
        val ex = base.select(col("doc_id"), explode(col("sh")).as("s"))
        println("ex_rows=" + ex.count())
        val inter = cand.join(ex.select(col("doc_id").as("id1"), col("s")), "id1")
          .join(ex.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
        println("inter_rows=" + inter.count())
      case "prphases" =>
        import graft.operators.Analytics
        import graft.sources.Ingest
        import org.apache.spark.sql.functions._
        val edges = Ingest.table(spark, sfDir, "lineitem")
          .select(col("l_partkey").as("src"), (col("l_suppkey") + lit(1L << 40)).as("dst"))
        Seq(0, 1, 3, 10).foreach { it =>
          val t0 = System.nanoTime()
          Analytics.pageRank(edges, "src", "dst", iters = it)
            .write.format("noop").mode("overwrite").save()
          println(f"[perf] pr_iters$it ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case "setops" =>
        // q36-shaped macro workload: the idiomatic built-in
        // size(array_intersect) — with the rule ON it fuses to the
        // hash-count (bare pattern), OFF it is the true built-in — vs
        // the registered q36's pre-sorted native call.
        import graft.functions.NativeSetOpsRule
        import graft.operators.TextOps
        import graft.sources.Ingest
        import org.apache.spark.sql.functions._
        graft.functions.GraftFunctions.register(spark)
        def pairs(theta: Double): DataFrame = {
          val g = Ingest.table(spark, sfDir, "documents").select(
            col("doc_id"), col("lang"),
            floor(length(col("text")) / 100).cast("long").as("lb"),
            sort_array(array_distinct(TextOps.shingleHashes(
              TextOps.charNgrams(col("text"), 3)))).as("hv"))
          val a = g.select(col("lang"), col("lb"), col("doc_id").as("id1"),
            col("hv").as("hv1"), size(col("hv")).as("n1"))
          val b = g.select(col("lang"), col("lb"), col("doc_id").as("id2"),
            col("hv").as("hv2"), size(col("hv")).as("n2"))
          a.join(broadcast(b), Seq("lang", "lb"))
            .filter(col("id1") < col("id2") &&
              least(col("n1"), col("n2")).cast("double") >=
                greatest(col("n1"), col("n2")) * theta)
            .withColumn("n_inter", size(array_intersect(col("hv1"), col("hv2"))))
            .withColumn("jaccard",
              col("n_inter").cast("double") /
                (col("n1") + col("n2") - col("n_inter")).cast("double"))
            .filter(col("jaccard") >= theta)
            .select(col("id1"), col("id2"), col("jaccard"))
        }
        def pairsPresorted(theta: Double): DataFrame =
          graft.Queries.ngramJaccardPairsNoCache(spark, sfDir, theta)
        // theta=0.7: production q36 shape (size-ratio prefilter prunes most
        // pairs). theta=0.1: prefilter passes nearly every same-block pair.
        for (theta <- Seq(0.7, 0.1)) {
          time(s"setops_rule_fused_t$theta", reps)(pairs(theta))
        }
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == NativeSetOpsRule)
        for (theta <- Seq(0.7, 0.1)) {
          time(s"setops_builtin_t$theta", reps)(pairs(theta))
          time(s"setops_presorted_native_t$theta", reps)(pairsPresorted(theta))
        }
      case "setopsmicro" =>
        // expression-level isolation: per-row intersect cost over CACHED
        // pre-built sorted arrays (no tokenize, no join) — 100k rows ×
        // two 8192-element sorted distinct sets each (~13 GB cached)
        import graft.functions.{GraftFunctions, NativeSetOpsRule}
        import org.apache.spark.sql.functions._
        GraftFunctions.register(spark)
        def set(seed: Column): Column =
          sort_array(array_compact(array_distinct(transform(
            sequence(lit(0), lit(8191)),
            i => pmod(xxhash64(seed * 16384 + i), lit(1000000L))))))
        val base = spark.range(0, 100000)
          .select(set(col("id")).as("a"), set(col("id") + 13).as("b"))
          .persist()
        base.write.format("noop").mode("overwrite").save() // materialize cache
        def sd(c: Column) = sort_array(array_distinct(c))
        // the rule's target pattern: sorts visible in the expression.
        // rule ON → fused merge (sorts kept, hash build deleted);
        // rule OFF → same sorts + the built-in hash intersect.
        val target = base.select(
          size(array_intersect(sd(col("a")), sd(col("b")))).as("n")).agg(sum("n"))
        println("[perf] rule fires on target pattern: " +
          target.queryExecution.optimizedPlan.toString
            .contains("graft_sorted_intersect_size"))
        time("micro_target_rule_on", reps)(
          base.select(size(array_intersect(sd(col("a")), sd(col("b")))).as("n")).agg(sum("n")))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == NativeSetOpsRule)
        time("micro_target_rule_off", reps)(
          base.select(size(array_intersect(sd(col("a")), sd(col("b")))).as("n")).agg(sum("n")))
        // reference points: the bare built-in (never rewritten) and the
        // ideal — native merge over the already-sorted cached arrays
        time("micro_builtin_hash", reps)(
          base.select(size(array_intersect(col("a"), col("b"))).as("n")).agg(sum("n")))
        // candidate bare-pattern replacement: fused hash-count (no
        // intersect-array materialization, primitive open addressing)
        time("micro_fused_hash_count", reps)(
          base.select(call_function(GraftFunctions.IntersectSizeName,
            col("a"), col("b")).as("n")).agg(sum("n")))
        time("micro_native_presorted", reps)(
          base.select(call_function(GraftFunctions.SortedIntersectName,
            col("a"), col("b")).as("n")).agg(sum("n")))
        base.unpersist()
      case "deconfixed" =>
        // q124 rehearsal with the probe set PINNED to the base copy
        // (doc_id < 10^10 = DeriveScale copy 0): against a fixed
        // benchmark set only the corpus side grows with sf, so this
        // measures the operator's true scan-bound scaling — the
        // registered q124's probe set grows with the corpus and its
        // 0.60 exponent measured the data construction (r9 verdict
        // item 5)
        import graft.operators.TextOps
        import graft.sources.Ingest
        import org.apache.spark.sql.functions._
        val docs = Ingest.table(spark, sfDir, "documents")
        val probes = docs.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 10000000000L)
        time("decon_fixed_probe", reps)(
          TextOps.decontaminate(docs, probes, "doc_id", "text", n = 3))
      case "semdedup10x" =>
        // SemDeDup at recipe-scaled cell counts: the paper sizes k with
        // the corpus (cells bound the quadratic pair work), so the fair
        // 10x rehearsal grows k 10x alongside n — the registered q147
        // keeps the fixed 4-cell table for oracle determinism.
        import graft.sources.Ingest
        import graft.operators.VectorOps
        val emb = Ingest.table(spark, sfDir, "embeddings")
        Seq(4, 40).foreach { k =>
          val cents: Array[Seq[Double]] = Array.tabulate(k)(c =>
            Seq.tabulate(64)(d => (((c * 131 + d * 17) % 101) - 50) * 20.0))
          time(s"semdedup_k$k", reps)(
            VectorOps.semDedup(emb, "vec_id", "embedding", cents, tau = 0.3))
        }
      case "logregdim" =>
        // round-17 verdict item 5: the logreg control plane at the
        // fence. Same fixture/rounds as q228; only dim varies. What
        // must stay bounded: the per-round gradient collect (<= dim+1
        // longs) and the broadcast weight vector (dim+1 longs) — at
        // 2^18 that is ~4 MB each, the bpeTrain bounded-control-plane
        // discipline at the production hashed-n-gram shape.
        import graft.sources.Ingest
        import graft.operators.TrainPrep
        import org.apache.spark.sql.functions._
        val docs = Ingest.table(spark, sfDir, "documents")
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 5 === 0,
              lit(" buy now click here free offer")).otherwise(lit(""))).as("text"),
            when(col("doc_id") % 5 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
        Seq(64, 4096, 1 << 18).foreach { d =>
          val t0 = System.nanoTime()
          val w = TrainPrep.logregTrain(docs, "doc_id", "text", "y",
            dim = d, rounds = 32, lrDiv = 2L)
          val secs = (System.nanoTime() - t0) / 1e9
          val nz = w.count(_ != 0L)
          println(f"[perf] logregdim dim=$d rounds=32 wall=$secs%.2f s nonzero_w=$nz vector_bytes=${(d + 1) * 8}")
        }
      case "logregphases" =>
        // round-19 anatomy for the local-GD fast-path decision: rounds=0
        // times the packed-feature build (+ count) alone; the deltas to
        // 1/8/32 are the per-round loop cost (one gradient job each).
        import graft.sources.Ingest
        import graft.operators.TrainPrep
        import org.apache.spark.sql.functions._
        val docs = Ingest.table(spark, sfDir, "documents")
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 5 === 0,
              lit(" buy now click here free offer")).otherwise(lit(""))).as("text"),
            when(col("doc_id") % 5 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
        (1 to reps).foreach { i =>
          Seq(0, 1, 8, 32).foreach { r =>
            val t0 = System.nanoTime()
            TrainPrep.logregTrain(docs, "doc_id", "text", "y", 64, r, 2L)
            println(f"[perf] logregphases rounds=$r rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
          }
        }
      case "ivfpqphases" =>
        // round-17: q172's sf10 exponent (1.08) decomposed. The timed
        // query bundles INDEX BUILD (cell assignment + PQ-encoding
        // every corpus vector — corpus-linear, built ONCE in
        // production) with the serve-time probe. Phase a times the
        // build; phase b serves from the materialized index
        // (ivfPqTopKFromIndex), which scans only the probed cells'
        // code rows. With the FIXED 4-cell oracle fixture, nProbe=2
        // still touches ~half the index — the recipe at 100 TB sizes
        // nCells ∝ √n so probed rows grow ~√n (q28/q162 precedent);
        // this case measures both phases so that claim has numbers.
        import graft.sources.Ingest
        import graft.operators.VectorOps
        import org.apache.spark.sql.functions._
        val emb = Ingest.table(spark, sfDir, "embeddings")
        val books = VectorOps.pqCodebooks(emb, "vec_id", "embedding", 16, 64)
        time("a_index_build", reps)(
          VectorOps.pqEncodeIndex(
            VectorOps.assignCellsAll(emb, "embedding", Queries.q115Centroids),
            "vec_id", "embedding", "cell", books))
        val index = VectorOps.pqEncodeIndex(
          VectorOps.assignCellsAll(emb, "embedding", Queries.q115Centroids),
          "vec_id", "embedding", "cell", books).localCheckpoint()
        time("b_serve_from_index", reps)(
          VectorOps.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", index, Queries.q115Centroids, books,
            k = 10, nProbe = 2))
      case "boiler50k" =>
        // round-18 verdict item 4: boilerplate suppression at a
        // PRODUCTION-sized suppressed set (~50k shingles) — the
        // typedlit literal plan (round 17's winner at control-plane
        // sizes) vs the broadcast-variable UDF
        // (TextOps.suppressBoilerplate's >BoilerLiteralMax arm).
        // Synthetic long-document corpus built so df > 1% holds for
        // exactly the 50k pool: 100k docs × (625 boilerplate shingles
        // cycled from a 50k pool — each pool value lands in 1 250 docs,
        // cap is 1 000 — plus 100 doc-unique shingles).
        import graft.operators.TextOps
        import org.apache.spark.sql.functions._
        val docs = spark.range(100000L).select(col("id").as("doc_id"),
          concat(
            transform(sequence(lit(0L), lit(624L)), i =>
              concat(lit("boiler "),
                pmod(col("id") + i * lit(197L), lit(50000L)).cast("string"))),
            transform(sequence(lit(0L), lit(99L)), i =>
              concat(lit("unique "),
                (col("id") * 100L + i).cast("string")))).as("sh"))
        val t0 = System.nanoTime()
        val boiler = docs.select(explode(col("sh")).as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("df"))
          .crossJoin(docs.select(count(lit(1)).as("n")))
          .filter(col("df") >
            greatest(lit(1L), floor(col("n") / lit(100)).cast("long")))
          .select(col("s")).collect().map(_.getString(0)).toSeq
        println(f"[perf] boiler_df_aggregate ${(System.nanoTime() - t0) / 1e9}%.2f s"
          + s" suppressed=${boiler.size}"
          + s" literal_payload_bytes=${boiler.map(_.length + 40).sum}")
        time("literal_typedlit", reps)(docs.select(col("doc_id"),
          array_except(col("sh"), typedlit(boiler)).as("s")))
        time("broadcast_udf", reps) {
          val bc = spark.sparkContext.broadcast(boiler.toSet)
          val f = udf((a: Seq[String]) =>
            if (a == null) null else a.distinct.filterNot(bc.value.contains))
          docs.select(col("doc_id"), f(col("sh")).as("s"))
        }
      case "toklab" =>
        // round 19: the q232 anatomy puts the tokenize link at ~+11 s —
        // decompose UnigramLm.apply over the flagship's mixed set into
        // its stages: word-freq aggregate, per-distinct-word Viterbi DP,
        // the per-occurrence join + per-doc md5 aggregate, full apply.
        import graft.operators.{TextOps, TokenizerArtifact, UnigramLm}
        import org.apache.spark.sql.functions._
        Queries.all.find(_.name == "q232_corpus_build_trained")
          .foreach(_.prepare.foreach(_(spark, sfDir)))
        val mixed = Queries.q232Upto(spark, sfDir, "mix").localCheckpoint()
        println(s"[perf] toklab mixed_docs=${mixed.count()}")
        val vocab = TokenizerArtifact.parseUnigram(
          TokenizerArtifact.load(spark, Queries.q232ArtifactDir(sfDir)).get)
        println(s"[perf] toklab vocab_size=${vocab.size}")
        time("a_wordfreqs", reps)(UnigramLm.wordFreqs(mixed, "text"))
        val words = UnigramLm.wordFreqs(mixed, "text")
          .filter(length(col("w")) <= UnigramLm.MaxTokenizeWordLen)
          .localCheckpoint()
        println(s"[perf] toklab distinct_words=${words.count()}")
        time("b_segment_dp", reps)(UnigramLm.segmentWords(words, vocab, 4))
        time("c_full_apply", reps)(
          UnigramLm.apply(mixed, "doc_id", "text", vocab, 4))
      case "q232phases" =>
        // per-link cost anatomy of the flagship (round 18): time each
        // CUMULATIVE cut of the chain; consecutive differences are the
        // per-link costs. prepare (artifact commits) runs untimed first.
        Queries.all.find(_.name == "q232_corpus_build_trained")
          .foreach(_.prepare.foreach(_(spark, sfDir)))
        Seq("corpus", "quality", "scored", "exactdedup", "suppress",
          "candidates", "verify", "elect", "decontam", "mix", "tokenize",
          "full").foreach { cut =>
          time(s"q232_$cut", reps)(Queries.q232Upto(spark, sfDir, cut))
        }
      case n =>
        Queries.all.find(_.name == n).foreach { q =>
          q.prepare.foreach(_(spark, sfDir)) // untimed, same as Bench
          time(n, reps)(q.fn(spark, sfDir))
        }
    }
    spark.stop()
  }
}
