package graft

import org.apache.spark.sql.functions._
import graft.sources.Ingest

/** Co-located join via bucketing (SURVEY.md §4 "Parallelism / shuffle"):
  * both sides bucketed+sorted on the join key → SortMergeJoin with NO
  * shuffle exchange — the layout strategy that keeps a 100 TB fact⋈fact
  * join off the network.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    // explicit per-table paths; warehouse.dir is a static conf and the
    // shared test session can't change it
    SparkSpec.withTempDir("graft-warehouse") { wh =>
      val dir = "/root/testdata/sf0.001"
      val li = Ingest.table(spark, dir, "lineitem")
      val ord = Ingest.table(spark, dir, "orders")

      li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").saveAsTable("li_b")
      ord.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord_b").saveAsTable("ord_b")

      // disable broadcast so the join strategy question is real
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val joined = spark.table("li_b")
          .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        val plan = joined.queryExecution.executedPlan.toString()
        assert(plan.contains("SortMergeJoin"))
        // the only exchange allowed is the one for the final groupBy —
        // the join itself must read co-located buckets
        val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"))
        assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"))
        // and results are right
        val n = joined.agg(sum(col("n"))).head().getLong(0)
        assert(n == li.count())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")
      }
    }
  }

  test("bucketed-ledger anti-join: no exchange on either ledger side (q108 shape)") {
    import graft.operators.Dedup
    SparkSpec.withTempDir("graft-q108-spec") { wh =>
      val dir = "/root/testdata/sf0.001"
      val li = Ingest.table(spark, dir, "lineitem")
      val ord = Ingest.table(spark, dir, "orders")
      val silver = Ingest.toSilver(Ingest.flattenBronze(Ingest.bronzeFromTpch(li, ord)))
      val batch = Dedup.exact(silver, Seq("checksum"))
      val ledger = Ingest.tpchSilverKeys(li, ord)
        .filter(org.apache.spark.sql.functions.substring(col("checksum"), 1, 1) === "0")

      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // broadcast off: at toy sizes Spark would broadcast the ledger and
        // the bucketing question would be moot — the layout exists for the
        // ledger that CANNOT broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        Dedup.prepareBucketedLedger(ledger, nBuckets = 8, warehouseDir = wh,
          tablePrefix = "graft_spec_ledger")
        val surv = Dedup.probeBucketedLedger(batch, tablePrefix = "graft_spec_ledger")
        val exec = surv.queryExecution.executedPlan
        // the two anti-joins must be sort-merge with a LEDGER side (right)
        // that reads co-located buckets and contains NO shuffle exchange —
        // the batch side and its upstream bronze rebuild may shuffle freely
        val joins = exec.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
        }
        assert(joins.size == 2, s"expected 2 SMJ anti-joins:\n$exec")
        joins.foreach { j =>
          val ledgerExchanges = j.right.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }
          assert(ledgerExchanges.isEmpty,
            s"ledger side of ${j.leftKeys.mkString(",")} shuffles:\n${j.right}")
          assert(j.right.toString.contains("SelectedBucketsCount"),
            s"ledger side is not a bucketed scan:\n${j.right}")
        }
        // layout must not change the answer
        val expected = Dedup.againstLedger(batch, ledger).count()
        assert(surv.count() == expected)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.sql("DROP TABLE IF EXISTS graft_spec_ledger_ck")
        spark.sql("DROP TABLE IF EXISTS graft_spec_ledger_eck")
      }
    }
  }
}
