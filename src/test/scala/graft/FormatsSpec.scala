package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Ingest

/** Format pluggability (S3's capability class): the engine's sources and
  * sinks are `spark.read`/`write` format strings, so ORC / JSON / CSV
  * round-trip the same frames parquet does. The reference's actual
  * format is Avro (`/root/reference/etl/extraction/avro.py`); the
  * spark-avro connector module is not in this container, so the REAL
  * Avro path is graft's own [[graft.sources.AvroSource]] — a distributed
  * container-file read/write on Avro core + avro-mapred (which ARE Spark
  * runtime jars) — exercised end to end below.
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = Ingest.table(spark, "/root/testdata/sf0.001", "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")

  private def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, String)] =
    df.select(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        col("l_quantity").cast("double"), col("l_returnflag"))
      .as[(Long, Long, Double, String)].collect().toSet

  test("ORC round-trips the lineitem projection bit-exactly") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      li.write.mode("overwrite").orc(s"$dir/orc")
      val back = spark.read.orc(s"$dir/orc")
      assert(back.schema("l_shipdate").dataType == li.schema("l_shipdate").dataType)
      assert(key(back) == key(li))
    }
  }

  test("JSON lines round-trip with an explicit read schema") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      li.write.mode("overwrite").json(s"$dir/json")
      val back = spark.read.schema(li.schema).json(s"$dir/json")
      assert(key(back) == key(li))
    }
  }

  test("CSV round-trips with header + explicit schema (dates preserved)") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      li.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      val back = spark.read.schema(li.schema).option("header", "true").csv(s"$dir/csv")
      assert(key(back) == key(li))
      val d = (df: org.apache.spark.sql.DataFrame) =>
        df.agg(max(col("l_shipdate")).cast("string")).head().getString(0)
      assert(d(back) == d(li))
    }
  }

  test("Avro round-trips the lineitem projection bit-exactly (S3 real path)") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      import graft.sources.AvroSource
      AvroSource.write(li, s"$dir/avro")
      val back = AvroSource.read(spark, s"$dir/avro")
      // dates survive as dates (logical type `date`), not strings/ints
      assert(back.schema("l_shipdate").dataType == li.schema("l_shipdate").dataType)
      assert(key(back) == key(li))
      val d = (df: org.apache.spark.sql.DataFrame) =>
        df.agg(max(col("l_shipdate")).cast("string")).head().getString(0)
      assert(d(back) == d(li))
    }
  }

  test("Avro round-trips nullables, timestamps, binaries, arrays, maps and structs") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      import graft.sources.AvroSource
      val df = Seq(
        (1L, Option("a"), Option(java.sql.Timestamp.valueOf("2024-11-24 01:02:03.123456")),
          Array[Byte](1, 2, 3), Seq(1.5, 2.5), Map("k" -> 7L), ("x", 9)),
        (2L, None, None, Array.empty[Byte], Seq.empty[Double],
          Map.empty[String, Long], ("y", -1)))
        .toDF("id", "s", "ts", "bin", "arr", "m", "st")
      AvroSource.write(df, s"$dir/avro_types")
      val back = AvroSource.read(spark, s"$dir/avro_types").orderBy("id")
      assert(back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      val rows = back.collect()
      assert(rows(0).getAs[String]("s") == "a")
      assert(rows(0).getAs[java.sql.Timestamp]("ts") ==
        java.sql.Timestamp.valueOf("2024-11-24 01:02:03.123456"))
      assert(rows(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
      assert(rows(0).getSeq[Double](rows(0).fieldIndex("arr")) == Seq(1.5, 2.5))
      assert(rows(0).getMap[String, Long](rows(0).fieldIndex("m")) == Map("k" -> 7L))
      assert(rows(0).getAs[Row]("st") == Row("x", 9))
      assert(rows(1).isNullAt(rows(1).fieldIndex("s")) && rows(1).isNullAt(rows(1).fieldIndex("ts")))
    }
  }

  test("Avro round-trips decimals (bytes/decimal logical type) and reads fixed/decimal") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      import graft.sources.AvroSource
      // DECIMAL(18,2) — the payments-shaped silver amount (SURVEY.md §1.3);
      // negative, zero, max-magnitude and null values all survive
      val df = Seq(
        (1L, Option(BigDecimal("12345678901234.56"))),
        (2L, Option(BigDecimal("-0.01"))),
        (3L, Option(BigDecimal("0.00"))),
        (4L, None))
        .toDF("id", "amount")
        .select(col("id"), col("amount").cast(DecimalType(18, 2)).as("amount"))
      AvroSource.write(df, s"$dir/avro_dec")
      val back = AvroSource.read(spark, s"$dir/avro_dec").orderBy("id")
      assert(back.schema("amount").dataType == DecimalType(18, 2))
      assert(back.select(col("amount").cast("string")).as[String].collect().toSeq ==
        Seq("12345678901234.56", "-0.01", "0.00", null))
      // and through the DSv2 face (same converters, InternalRow path)
      val dsv2 = spark.read.format("graft-avro").load(s"$dir/avro_dec").orderBy("id")
      assert(dsv2.schema("amount").dataType == DecimalType(18, 2))
      assert(dsv2.select(sum("amount").cast("string")).head().getString(0) ==
        "12345678901234.55")
      // fixed/decimal (written by other engines, e.g. Iceberg defaults):
      // accepted on read with the same values
      import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
      import org.apache.avro.generic.GenericData
      val fixedSch = LogicalTypes.decimal(9, 2).addToSchema(
        Schema.createFixed("amt_fixed", null, "graft", 4))
      val recSch = SchemaBuilder.record("r").fields()
        .requiredLong("id")
        .name("amount").`type`(fixedSch).noDefault()
        .endRecord()
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](recSch))
      val f = new java.io.File(s"$dir/avro_fixed"); f.mkdirs()
      w.create(recSch, new java.io.File(f, "part-00000.avro"))
      val rec = new GenericData.Record(recSch)
      rec.put("id", 7L)
      // 123.45 → unscaled 12345 → 4-byte big-endian two's complement
      rec.put("amount", new GenericData.Fixed(fixedSch,
        java.nio.ByteBuffer.allocate(4).putInt(12345).array()))
      w.append(rec); w.close()
      val fixedBack = AvroSource.read(spark, s"$dir/avro_fixed")
      assert(fixedBack.schema("amount").dataType == DecimalType(9, 2))
      assert(fixedBack.select(col("amount").cast("string")).head().getString(0) == "123.45")
    }
  }

  test("graft-avro DSv2: spark.read.format round-trips and prunes columns at the scan") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      import graft.sources.AvroSource
      AvroSource.write(li, s"$dir/avro_dsv2")
      val back = spark.read.format("graft-avro").load(s"$dir/avro_dsv2")
      assert(back.schema.fieldNames.toSeq == li.schema.fieldNames.toSeq)
      assert(key(back) == key(li))
      // column pruning must reach the DSv2 scan's readSchema — Avro decode
      // CPU scales with converted fields, so this is the row-format
      // equivalent of parquet column pruning
      val pruned = back.select(col("l_orderkey"), col("l_quantity"))
      val scan = pruned.queryExecution.executedPlan.toString
      // DSv2 plans print the scan's output columns on the BatchScan line
      val scanCols = "BatchScan[^\\[]*\\[([^\\]]*)\\]".r
        .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
      assert(scanCols.contains("l_orderkey") && scanCols.contains("l_quantity"),
        s"missing projected columns in: $scan")
      assert(!scanCols.contains("l_returnflag"),
        s"scan converts pruned columns: $scanCols")
      assert(pruned.count() == li.count())
    }
  }

  test("graft-avro DSv2 write: overwrite and append modes round-trip") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      li.write.format("graft-avro").mode("overwrite").save(s"$dir/avro_w")
      assert(key(spark.read.format("graft-avro").load(s"$dir/avro_w")) == key(li))
      // append adds a second copy (per-query file names never collide)
      li.write.format("graft-avro").mode("append").save(s"$dir/avro_w")
      assert(spark.read.format("graft-avro").load(s"$dir/avro_w").count() == 2 * li.count())
      // overwrite truncates back down
      li.limit(10).write.format("graft-avro").mode("overwrite").save(s"$dir/avro_w")
      assert(spark.read.format("graft-avro").load(s"$dir/avro_w").count() == 10)
    }
  }

  test("Avro read is executor-parallel: one input split per part file") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      import graft.sources.AvroSource
      AvroSource.write(li.repartition(3), s"$dir/avro_split")
      val back = AvroSource.read(spark, s"$dir/avro_split")
      assert(back.rdd.getNumPartitions >= 3, "container files must arrive as separate splits")
      assert(back.count() == li.count())
    }
  }

  test("partitioned ORC write prunes partitions at read (layout parity with parquet silver)") {
    SparkSpec.withTempDir("graft-fmt") { dir =>
      val part = li.withColumn("bucket", pmod(col("l_orderkey"), lit(4)))
      part.write.mode("overwrite").partitionBy("bucket").orc(s"$dir/orc_part")
      val pruned = spark.read.orc(s"$dir/orc_part").filter(col("bucket") === 1)
      val plan = pruned.queryExecution.executedPlan.toString()
      // partition filter must land in the scan's partition filters, not a
      // post-scan Filter over all partitions
      assert(pruned.count() == part.filter(col("bucket") === 1).count())
      assert(plan.contains("PartitionFilters: [isnotnull(bucket"))
    }
  }
}
