package graft

import org.apache.spark.sql.functions._

import graft.operators.TrainPrep

/** Round-19 equivalence gate for logregTrain's size-adaptive LOCAL fast
  * path (the CC/graph-tier pattern applied to the GD round loop): with
  * [[LocalFastPath]] off the audited distributed loop runs; with
  * defaults the in-process replay runs; both must
  * produce bit-identical weight vectors on every fixture, including the
  * real sf0.001 corpus, duplicate label rows, and empty-text docs.
  */
class LogregLocalSpec extends SparkSpec {
  import spark.implicits._

  test("local GD fast path is bit-identical to the distributed rounds") {
    val real = graft.sources.Ingest.table(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          lit(" buy now click here free offer")).otherwise(lit(""))).as("text"),
        when(col("doc_id") % 5 === 0, lit(1L)).otherwise(lit(0L)).as("y"))
    val dupIds = Seq(
      (1L, "spam spam buy now", 1L),
      (1L, "spam spam buy now", 1L), // duplicate label row: replayed twice
      (2L, "the quick brown fox", 0L),
      (3L, "", 0L), // empty text: bias-only feature row
      (4L, "buy buy buy now now", 1L)).toDF("doc_id", "text", "y")
    for ((tag, docs, dim, rounds) <- Seq(
        ("real-sf0.001", real, 64, 8),
        ("real-sf0.001-dim4096", real, 4096, 4),
        ("dup-ids", dupIds, 16, 32))) {
      // precondition: n·(dim+1) fits the constant local bound, so the
      // default arm really runs in-process — the comparison is never
      // vacuously distributed-vs-distributed
      val n = docs.count()
      assert(n * (dim + 1L) <= LocalFastPath.LogregFeats,
        s"logregTrain $tag: n=$n, dim=$dim exceeds the local bound")
      val slow = withLocalFastPathOff(
        TrainPrep.logregTrain(docs, "doc_id", "text", "y", dim, rounds, 2L))
      val fast =
        TrainPrep.logregTrain(docs, "doc_id", "text", "y", dim, rounds, 2L)
      assert(fast == slow, s"logregTrain $tag diverges")
      assert(fast.exists(_ != 0L), s"logregTrain $tag learned nothing")
    }
  }

  test("scalar sigmoidMicroLocal matches the Column sigmoid everywhere") {
    val ms = Seq(Long.MinValue, Long.MinValue + 1, -TrainPrep.SigmoidSatMicro,
      -1000000000001L, -999999999999L, -123456789L, -1000001L, -1000000L,
      -999999L, -3L, -2L, -1L, 0L, 1L, 2L, 3L, 999999L, 1000000L, 1000001L,
      123456789L, 999999999999L, TrainPrep.SigmoidSatMicro,
      1000000000001L, Long.MaxValue)
    val viaColumn = ms.toDF("m")
      .select(col("m"), TrainPrep.sigmoidMicro(col("m")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ms.foreach { m =>
      assert(TrainPrep.sigmoidMicroLocal(m) == viaColumn(m),
        s"sigmoid diverges at m=$m")
    }
  }
}
