package graft

import org.apache.spark.sql.functions._
import graft.operators.Sink
import graft.sources.Ingest

class SinkSpec extends SparkSpec {

  private lazy val silver = Ingest.toSilver(Ingest.flattenBronze(
    Ingest.bronzeFromTpch(
      Ingest.table(spark, "/root/testdata/sf0.001", "lineitem").limit(500),
      Ingest.table(spark, "/root/testdata/sf0.001", "orders")))).cache()

  test("L1 silver sink: partitioned parquet append, partition pruning on read") {
    SparkSpec.withTempDir("graft-silver") { dir =>
      Sink.writeSilver(silver, dir)
      val back = spark.read.parquet(dir)
      assert(back.count() == silver.count())
      // hive layout by company → partition filter prunes files
      val one = silver.select("company_id").head().getString(0)
      val pruned = back.filter(col("company_id") === one)
      assert(pruned.count() == silver.filter(col("company_id") === one).count())
      val scanned = pruned.queryExecution.executedPlan.toString()
      assert(scanned.contains("PartitionFilters"))
    }
  }

  test("T7/L2 pubsub projection drops created_at + etl_checksum, keeps the rest") {
    val msgs = Sink.pubsubMessages(silver)
    val m = msgs.head().getString(0)
    assert(m.contains("\"checksum\""))
    assert(m.contains("\"metadata\""))
    assert(!m.contains("created_at"))
    assert(!m.contains("etl_checksum"))
    // JSON lines sink round-trips through a text file
    SparkSpec.withTempDir("graft-msgs") { tmp =>
      val dir = s"$tmp/out"
      Sink.writeJsonLines(silver, dir)
      val back = spark.read.text(dir)
      assert(back.count() == silver.count())
      assert(Sink.logged(silver) == silver.count()) // L4
    }
  }

  test("compact: many small files rewritten to the size-derived count, rows intact") {
    SparkSpec.withTempDir("graft-compact") { dir =>
      val in = dir + "/in"
      val out = dir + "/out"
      // 40 tiny files
      spark.range(0, 4000).repartition(40).write.parquet(in)
      val small = spark.read.parquet(in)
      // target sized so the listing-derived count lands well under 40
      val n = Sink.compact(small, in, out, targetBytes = 64L * 1024)
      assert(n < 40)
      val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == n)
      assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq == (0L until 4000L))
      // refuses in-place rewrite
      intercept[IllegalArgumentException](Sink.compact(small, in, in))
    }
  }
}
