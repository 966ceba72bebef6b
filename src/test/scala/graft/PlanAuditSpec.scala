package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: the scale claims the operator docs make, asserted
  * against the actual Catalyst output so regressions surface as test
  * failures rather than 100-TB incidents.
  *
  * The registry-wide audits (plan hygiene, the ≤1-row aggregate join,
  * q84's broadcasts, q163's window keys) read the one planning pass in
  * [[RegistryPlans]], which PlanFingerprintSpec reads too. That pass
  * plans with every LocalFastPath site off, so these audits check the
  * distributed plans: at 100 TB every fast-path site is over its bound,
  * and those are the plans that run. `sparkPlan` does not depend on AQE,
  * so the pass's AQE-off setting does not change what they see.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // q88's global window runs over a ~30-row post-aggregate (one row per
  // event day); q168's compaction planner windows over one row per input
  // FILE — the O(#files) control-plane cardinality a planner's split
  // enumeration already holds on the driver (ParquetFooters.compactionPlan
  // scaladoc). Both are bounded inputs by construction, documented at the
  // operator. Every OTHER registered query must partition its windows:
  // an empty partition spec coalesces the ENTIRE input into one task
  // (round 6 shipped exactly this in equiDepthBins — an OOM at 100 TB).
  private val partitionlessWindowExempt =
    Set("q88_rolling_dau", "q168_compaction_plan")

  test("plan hygiene: no CartesianProduct, no partitionless WindowExec") {
    // crossJoin against a broadcast side plans BroadcastNestedLoopJoin
    // (bounded: |small| × partition) — an unhinted CartesianProduct is the
    // O(n²) shuffle explosion no registered query should ever produce.
    RegistryPlans.all.foreach { q =>
      assert(!q.cartesian, s"${q.name} plans a CartesianProduct:\n${q.plan}")
      if (!partitionlessWindowExempt(q.name))
        assert(!q.windowKeys.contains(""),
          s"${q.name} plans a partitionless WindowExec (single-task global sort):\n${q.plan}")
    }
  }

  test("no registered query shuffle-joins against a global-aggregate (≤1-row) build side") {
    // A no-grouping aggregate is ≤ 1 row by construction; if it feeds a
    // join side (through narrow operators only — an explode could fan it
    // out again), broadcasting is strictly better than shuffling the big
    // side. VERDICT r6 task 5's third structural check; the side walk is
    // RegistryPlans.tinyAggSide.
    RegistryPlans.all.foreach { q =>
      assert(!q.tinyAggShuffleJoin,
        s"${q.name} shuffle-joins a ≤1-row global-aggregate side (broadcast it):\n${q.plan}")
    }
  }

  test("star join broadcasts every dimension (q84)") {
    val broadcasts = RegistryPlans("q84_star_revenue").broadcastJoins
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
  }

  test("column pruning reaches the parquet scan through the ingest fan-out") {
    import graft.sources.Ingest
    val df = Ingest.table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads pruned columns: $readSchema")
  }

  test("pageRank rank-side join is size-aware: no broadcast past threshold (q80)") {
    import graft.operators.Analytics
    import spark.implicits._
    val edges = (0L until 64L).map(i => (i, (i + 1) % 64)).toDF("u", "v")
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val ed = Analytics.pageRankEdgeState(edges)
    val ranks = ed.select(col("u").as("node")).distinct()
      .withColumn("rank", lit(1000000000L))
    SparkSpec.withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // past the threshold (disabled ⇒ everything is past it) the rank
      // side must shuffle-join — an unconditional broadcast() was the
      // 100×-scale driver-OOM hazard flagged in round 4
      val plan = Analytics.pageRankRound(ed, ranks, 150000000L, doBroadcast = false)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"rank side broadcast past the threshold:\n$plan")
    }
    // the explicit opt-in still forces the broadcast form
    val planB = Analytics.pageRankRound(ed, ranks, 150000000L, doBroadcast = true)
      .queryExecution.sparkPlan.toString
    assert(planB.contains("BroadcastExchange") || planB.contains("BroadcastHashJoin"),
      s"broadcastRanks=true did not plan a broadcast:\n$planB")
  }

  test("pageRank results are join-strategy invariant (broadcast vs shuffle)") {
    import graft.operators.Analytics
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (1L, 5L)).toDF("src", "dst")
    def run(bc: Boolean) = Analytics
      .pageRank(edges, "src", "dst", iters = 6, broadcastRanks = Some(bc))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run(bc = true)
    val b = run(bc = false)
    assert(a.nonEmpty && a == b)
  }

  test("exact TF-IDF pair join carries no forced broadcast (q43)") {
    import graft.operators.Similarity
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    SparkSpec.withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (pairs, vecs) = Similarity.exactTfidfCosinePairsImpl(
        docs, "doc_id", "text", "source", threshold = 0.8)
      try {
        val plan = pairs.queryExecution.sparkPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"blocked side force-broadcast past the threshold:\n$plan")
      } finally vecs.unpersist(blocking = false)
    }
  }

  test("AQE splits a deliberately hot-keyed join (skew path, complements saltedSum)") {
    // At 100 TB one hot key puts a single reducer orders of magnitude
    // above the rest; AQE's skew-join splitting is the engine's runtime
    // answer (SCALE.md). Reproduce at test scale: key 0 carries 50k
    // padded rows vs ~50 for every other key, thresholds scaled down so
    // the hot partition trips the (threshold, factor×median) detector.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    SparkSpec.withConfs(confs: _*) {
      // payload must be per-row distinct — a constant pad would compress
      // to nothing in the shuffle and the hot partition would never trip
      // the byte threshold
      val left = spark.range(0, 110000)
        .select(when(col("id") < 100000, lit(0L)).otherwise(col("id") % 100).as("k"),
          expr("repeat(md5(cast(id as string)), 6)").as("payload"))
      val right = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("attr"))
      val joined = left.join(right, "k")
      // execute THIS plan (count() would build its own collapsed query
      // tree and leave `joined`'s adaptive plan unfinalized)
      assert(joined.collect().length == 110000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot partition:\n$finalPlan")
    }
  }

  test("partition-column filters are pushed to the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .select(col("l_quantity"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || scan.contains("EqualTo(l_returnflag,R)"),
      s"filter not pushed to scan:\n$scan")
  }

  test("domainQuota plans two bounded window sorts, never one giant partition (q107)") {
    import graft.operators.TrainPrep
    val docs = graft.sources.Ingest.table(spark, sfDir, "documents")
    val plan = TrainPrep.domainQuota(docs, lower(col("source")), "doc_id", 10)
      .queryExecution.executedPlan.toString
    // phase 1 partitions by (domain, salt) — the salt must appear in the
    // first window's partition spec, or a mega-domain lands in one task
    assert(plan.contains("pmod"), s"salted local phase missing:\n$plan")
    val windows = "RunningWindowFunction|Window".r.findAllIn(plan).size
    assert(windows >= 2, s"expected 2 window phases:\n$plan")
  }

  test("featureHash aggregates map-side: partial then final HashAggregate (q110)") {
    import graft.operators.TextOps
    val docs = graft.sources.Ingest.table(spark, sfDir, "documents")
    val plan = TextOps.featureHash(docs, "doc_id", "text", 64)
      .queryExecution.executedPlan.toString
    // the explode fan-out must be reduced BEFORE the shuffle: a partial
    // aggregate below the exchange and a final one above it
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregates:\n$plan")
    assert(plan.contains("Generate explode"), s"tokenize explode missing:\n$plan")
  }

  test("kmeansFit runs a constant job count per Lloyd iteration (q28)") {
    // Round-5 verdict: q28's 6→102 s swing correlated with the k-means
    // fit's iterative jobs. The invariant that keeps the fit
    // contention-proportional (not superlinear) is: each extra Lloyd
    // iteration costs exactly the same number of Spark jobs — the
    // argmin assignment is a projection FUSED into the update
    // aggregate's job over the persisted corpus, never its own action.
    import graft.operators.VectorOps
    val emb = graft.sources.Ingest.table(spark, sfDir, "embeddings")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    // listener events post asynchronously — poll until the count stops
    // moving before reading it
    def settled(): Int = {
      var prev = -1; var cur = counter.get()
      while (prev != cur) { prev = cur; Thread.sleep(250); cur = counter.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def jobsFor(iters: Int): Int = {
        val before = settled()
        VectorOps.kmeansFit(emb, "vec_id", "embedding", k = 4, iters = iters)
        settled() - before
      }
      val j2 = jobsFor(2); val j4 = jobsFor(4); val j6 = jobsFor(6)
      val d1 = j4 - j2; val d2 = j6 - j4
      assert(d1 === d2,
        s"jobs per iteration drifted: +2 iters cost $d1 then $d2 (j2=$j2 j4=$j4 j6=$j6)")
      // one ACTION per iteration; under AQE each action executes as 2
      // jobs (the update aggregate's shuffle-map stage + the result
      // stage), so the constant is 2 jobs/iteration — what matters is
      // that it can never scale with k, dim, or iteration index
      assert(d1 <= 4, // ≤ 2 jobs per Lloyd iteration
        s"expected <=2 jobs/iteration, got ${d1 / 2.0} (j2=$j2 j4=$j4 j6=$j6)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("substringDedup windows only on doc_id, never on the gram (q163)") {
    // A gram-keyed window pins a corpus-frequent n-gram's every occurrence
    // into one task (advice r11). Gram occurrence counting must stay a
    // partial-aggregating groupBy + join-back; the only windows allowed on
    // this path are the per-document interval sweeps (bounded by doc
    // length by construction).
    val wins = RegistryPlans("q163_substring_dedup").windowKeys
    assert(wins.nonEmpty, "q163 lost its per-doc interval-merge window")
    wins.foreach { keys =>
      assert(keys.contains("doc_id") && !keys.contains("gram"),
        s"q163 windows on a non-doc key (hot-gram skew):\n  keys=$keys")
    }
  }
}
