package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.pipeline.Pipeline

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val yaml =
    """# reference config/transactions.yaml shape
      |pipelines:
      |  - name: transactions
      |    extraction: numbers
      |    transformations:
      |      - double
      |    filters:
      |      - keep_even
      |    loads:
      |      - remember
      |  - name: passthrough
      |    extraction: numbers
      |""".stripMargin

  test("P1 yaml parse: stages land in the right sections") {
    val confs = Pipeline.parseYaml(yaml)
    assert(confs.map(_.name) == Seq("transactions", "passthrough"))
    val t = confs.head
    assert(t.extraction == "numbers")
    assert(t.transformations == Seq("double"))
    assert(t.filters == Seq("keep_even"))
    assert(t.loads == Seq("remember"))
    assert(confs(1).transformations.isEmpty)
  }

  test("P3/P4 run: extraction → fold transforms → fold filters → loads") {
    var loaded = 0L
    val reg = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.range(1, 6).toDF("n"))
      .stage("double")(df => df.withColumn("n", col("n") * 2))
      .stage("keep_even")(df => df.filter(col("n") % 4 === 0))
      .load("remember")(df => loaded = df.count())
    val conf = Pipeline.parseYaml(yaml).head
    val out = Pipeline.run(spark, conf, reg)
    val ns = out.select("n").as[Long].collect().sorted.toSeq
    assert(ns == Seq(4L, 8L)) // (1..5)*2 = 2,4,6,8,10 → %4==0 → 4,8
    assert(loaded == 2)
  }

  /** A one-pipeline conf: extraction "numbers", stage "stage", the given loads. */
  private def loadsConf(loads: String*): Pipeline.Conf =
    Pipeline.Conf("p", "numbers", Seq("stage"), Nil, loads)

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("P3/P4 loads share one evaluation: a stage runs once per row, not once per load") {
    val acc = spark.sparkContext.longAccumulator("pipeline-stage-rows")
    val counted = udf { (n: Long) => acc.add(1); true }
    var n1, n2 = 0L
    val reg = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.range(0, 100).toDF("n"))
      .stage("stage")(df => df.filter(counted(col("n"))))
      .load("count")(df => n1 = df.count())
      .load("collect")(df => n2 = df.collect().length.toLong)
    Pipeline.run(spark, loadsConf("count", "collect"), reg)
    assert(n1 == 100 && n2 == 100)
    assert(acc.value == 100L, s"the stage ran over ${acc.value} rows for 100 input rows")
  }

  test("P3/P4 loads see the same rows, even from a non-deterministic stage") {
    val noise = udf(() => scala.util.Random.nextLong()).asNondeterministic()
    var seen = Vector.empty[Seq[(Long, Long)]]
    def keep(df: DataFrame): Unit =
      seen :+= df.as[(Long, Long)].collect().toSeq.sorted
    val reg = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.range(0, 50).toDF("n"))
      .stage("stage")(df => df.withColumn("r", noise()))
      .load("a")(keep)
      .load("b")(keep)
    Pipeline.run(spark, loadsConf("a", "b"), reg)
    assert(seen.size == 2 && seen.head.size == 50)
    val differing = seen(0).zip(seen(1)).count { case (a, b) => a != b }
    assert(differing == 0, "rows differ between the two loads")
  }

  test("P3/P4 the shared evaluation is freed after the last load, also when a load throws") {
    val before = persistedIds
    def added: Set[Int] = persistedIds -- before
    var heldInLoad = false
    val reg = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.range(0, 10).toDF("n"))
      .stage("stage")(df => df.withColumn("m", col("n") * 3))
      .load("first")(_.count())
      .load("held")(_ => heldInLoad = added.nonEmpty)
      .load("boom")(_ => throw new IllegalStateException("load failed"))
    Pipeline.run(spark, loadsConf("first", "held"), reg)
    assert(heldInLoad, "nothing was held between the loads")
    assert(added.isEmpty)
    heldInLoad = false
    val e = intercept[IllegalStateException] {
      Pipeline.run(spark, loadsConf("first", "held", "boom"), reg)
    }
    assert(e.getMessage == "load failed")
    assert(heldInLoad)
    assert(added.isEmpty)
  }

  test("P3/P4 one load, or a streaming frame, takes no pin") {
    var staged: DataFrame = null
    var asStaged = Vector.empty[Boolean]
    def check(df: DataFrame): Unit = asStaged :+= (df eq staged)
    val batch = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.range(0, 10).toDF("n"))
      .stage("stage")(df => { staged = df.withColumn("m", col("n") + 1); staged })
      .load("check")(check)
    Pipeline.run(spark, loadsConf("check"), batch)
    val stream = new Pipeline.Registry()
      .extraction("numbers")((s, _) => s.readStream.format("rate").load())
      .stage("stage")(df => { staged = df.withColumn("m", col("value") + 1); staged })
      .load("check")(check)
      .load("again")(check)
    val out = Pipeline.run(spark, loadsConf("check", "again"), stream)
    assert(out.isStreaming)
    assert(asStaged == Vector(true, true, true))
  }

  test("P2 unregistered stage fails fast with its name") {
    val reg = new Pipeline.Registry()
    val e = intercept[NoSuchElementException] { reg.resolveStage("nope") }
    assert(e.getMessage.contains("nope"))
  }
}
