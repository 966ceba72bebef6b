package graft

import org.apache.spark.sql.functions._
import graft.sources.Ingest

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("S5 partition-path parser extracts hive-style key=value pairs") {
    val df = Seq("year=2024/month=11/day=24/company_id=c60ab568/test1.avro").toDF("p")
    val m = df.select(Ingest.parsePartitionPath(col("p")).as("m"))
      .select(try_element_at(col("m"), lit("year")),
        try_element_at(col("m"), lit("day")),
        try_element_at(col("m"), lit("company_id"))).head()
    assert(m.getString(0) == "2024")
    assert(m.getString(1) == "24")
    assert(m.getString(2) == "c60ab568")
  }

  test("S1 flatten ∘ build round-trips lineitem values through bronze") {
    val dir = "/root/testdata/sf0.001"
    val li = Ingest.table(spark, dir, "lineitem").limit(200).cache()
    val bronze = Ingest.bronzeFromTpch(li, Ingest.table(spark, dir, "orders"))
    val silver = Ingest.toSilver(Ingest.flattenBronze(bronze))
    assert(silver.count() == li.count())
    // amounts survive untouched
    val sumIn = li.agg(sum(col("l_extendedprice").cast("decimal(18,2)"))).head().getDecimal(0)
    val sumOut = silver.agg(sum(col("amount").cast("decimal(18,2)"))).head().getDecimal(0)
    assert(sumIn == sumOut)
    // silver schema has the 16 reference fields (FIXTURES.md §2)
    val cols = silver.columns.toSet
    assert(Set("checksum", "etl_checksum", "concept", "amount", "account_number",
      "bank", "account_alias", "currency", "report_type", "extraction_date",
      "user_id", "company_id", "transaction_date", "reported_remaining",
      "created_at", "metadata").subsetOf(cols))
    // metadata came back as a per-row map (Q4 fix), not an accumulated union
    val md = silver.select(map_keys(col("metadata"))).head().getSeq[String](0).toSet
    assert(md == Set("flag", "status"))
  }

  test("events loader normalizes the driver fixture's ts to TIMESTAMP") {
    val e = Ingest.events(spark, "/root/testdata/sf0.001")
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() == 1000)
  }

  // The driver has shipped events.ts in two physical forms across rounds
  // (TIMESTAMP(NANOS) → round 8's timestamp[us]); pin BOTH loader branches
  // to synthetic fixtures so the next drift fails one readable test here
  // instead of sixteen queries at verify time.
  test("events loader: BIGINT-nanos fixture takes the legacy DIV-1000 path") {
    SparkSpec.withTempDir("graft-events-nanos") { dir =>
      // 2024-01-02T03:04:05.678901 UTC in nanoseconds
      val micros = 1704164645678901L
      Seq((1L, micros * 1000L, "click"), (2L, micros * 1000L + 999L, "view"))
        .toDF("event_id", "ts", "kind")
        .write.parquet(s"$dir/events.parquet")
      val e = Ingest.events(spark, dir)
      assert(e.schema("ts").dataType.typeName == "timestamp")
      val got = e.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].collect()
      assert(got.toSeq == Seq(micros, micros)) // sub-µs nanos truncate losslessly
    }
  }

  test("events loader: timestamp-typed fixture passes through by value") {
    SparkSpec.withTempDir("graft-events-ts") { dir =>
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678901"), "click"))
        .toDF("event_id", "ts", "kind")
        .write.parquet(s"$dir/events.parquet")
      val e = Ingest.events(spark, dir)
      assert(e.schema("ts").dataType.typeName == "timestamp")
      assert(e.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].head()
        == "2024-01-02 03:04:05.678901")
    }
  }

  test("events loader fails loudly on an unsupported ts type") {
    SparkSpec.withTempDir("graft-events-bad") { dir =>
      Seq((1L, "2024-01-02", "click")).toDF("event_id", "ts", "kind")
        .write.parquet(s"$dir/events.parquet")
      val ex = intercept[IllegalStateException](Ingest.events(spark, dir))
      assert(ex.getMessage.contains("events.ts"))
    }
  }
}
