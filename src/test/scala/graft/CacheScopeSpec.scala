package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** [[CacheScope]] pins: eager checkpoints that cut lineage, released when
  * the scope closes whether the builder returns or throws, and plain
  * `persist()`s under [[CacheScope.auditMode]].
  */
class CacheScopeSpec extends SparkSpec {

  private def base: DataFrame = spark.range(0, 1000).toDF("id")
    .withColumn("k", col("id") % 7)
    .groupBy("k").agg(sum("id").as("s"))

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint leaf: ${other.nodeName}")
  }

  test("a pin is a LogicalRDD leaf: lineage cut, partition count kept") {
    val finalStageKey = "spark.sql.adaptive.applyFinalStageShuffleOptimizations"
    val confBefore = spark.conf.getOption(finalStageKey)
    var pinLeaf = ""
    var pinParts = 0
    var downstreamLeaves = Seq.empty[String]
    val out = CacheScope.scoped { cs =>
      val pin = cs.cache(base)
      pinLeaf = pin.queryExecution.analyzed.nodeName
      pinParts = pin.rdd.getNumPartitions
      val down = pin.filter(col("k") > 2).join(pin.select(col("k")), "k")
      downstreamLeaves = down.queryExecution.analyzed.collectLeaves().map(_.nodeName)
      down
    }
    assert(pinLeaf == "LogicalRDD")
    // 7 rows would coalesce to one partition; a pin keeps the plan's own
    assert(pinParts == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(spark.conf.getOption(finalStageKey) == confBefore)
    assert(downstreamLeaves == Seq("LogicalRDD", "LogicalRDD"))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L))
  }

  test("pins are released on close, on success and when the builder throws") {
    val before = persistentIds
    var pinIds = Seq.empty[Int]
    val out = CacheScope.scoped { cs =>
      val a = cs.cache(base)
      val b = cs.cache(a.withColumn("t", col("s") * 2))
      pinIds = Seq(rddId(a), rddId(b))
      assert(pinIds.forall(persistentIds.contains))
      b.join(a, "k")
    }
    assert(out.count() == 7L)
    // only the scoped result's own checkpoint outlives the scope
    assert(persistentIds -- before == Set(rddId(out)))
    assert(pinIds.forall(id => !persistentIds.contains(id)))
    CacheScope.free(out)

    val beforeFail = persistentIds
    var failedPin = -1
    val err = intercept[IllegalStateException] {
      CacheScope.scoped { cs =>
        failedPin = rddId(cs.cache(base))
        throw new IllegalStateException("builder failed")
      }
    }
    assert(err.getMessage == "builder failed")
    assert(failedPin >= 0 && !persistentIds.contains(failedPin))
    assert((persistentIds -- beforeFail).isEmpty)
  }

  test("under auditMode pins persist and the interior plan stays visible") {
    CacheScope.auditMode.set(true)
    try {
      var pinned = false
      val out = CacheScope.scoped { cs =>
        val pin = cs.cache(base)
        pinned = pin.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        pin.filter(col("k") > 2)
      }
      assert(pinned)
      assert(!out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(out.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined)
      assert(out.count() == 4L)
    } finally {
      CacheScope.auditMode.set(false)
      spark.catalog.clearCache()
    }
  }
}
