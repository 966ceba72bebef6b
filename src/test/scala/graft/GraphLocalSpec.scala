package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, VectorOps}

/** Round-19 equivalence gates for the size-adaptive LOCAL fast paths
  * (pagerank / k-core / triangle count / NN-descent — the CC fast path's
  * §1.2/§2.4 cure extended to every iterative graph operator): with
  * [[LocalFastPath]] off the audited distributed loops run; with
  * defaults the in-process replay runs; both must produce IDENTICAL rows
  * (including bitwise-equal doubles for NN-descent cosines).
  */
class GraphLocalSpec extends SparkSpec {
  import spark.implicits._

  private def graphFixtures: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(41)
    Seq(
      "sparse" -> Seq.fill(150)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b },
      "chain" -> (1L until 50L).map(i => (i, i + 1)),
      "dense+pairs" -> ((for (a <- 1L to 14L; b <- 1L to 14L if a < b)
        yield (a, b)) ++ Seq((100L, 101L), (200L, 201L))),
      "ring" -> ((1L until 30L).map(i => (i, i + 1)) :+ (30L, 1L)),
      "empty" -> Seq.empty[(Long, Long)])
  }

  test("pageRank local fast path is bit-identical to the distributed rounds") {
    for ((tag, edges) <- graphFixtures; iters <- Seq(0, 1, 3, 10)) {
      val df = edges.toDF("src", "dst")
      val slow = withLocalFastPathOff(
        Analytics.pageRank(df, "src", "dst", iters = iters)
          .as[(Long, Long)].collect().toSet)
      val fast = Analytics.pageRank(df, "src", "dst", iters = iters)
        .as[(Long, Long)].collect().toSet
      assert(fast == slow, s"pageRank $tag iters=$iters diverges")
    }
  }

  test("kCore local fast path matches the distributed peel exactly") {
    for ((tag, edges) <- graphFixtures; k <- Seq(1, 2, 3, 5)) {
      val df = edges.toDF("src", "dst")
      val slow = withLocalFastPathOff(
        Analytics.kCore(df, "src", "dst", k)
          .as[(Long, Long)].collect().toSet)
      val fast = Analytics.kCore(df, "src", "dst", k)
        .as[(Long, Long)].collect().toSet
      assert(fast == slow, s"kCore $tag k=$k diverges")
    }
  }

  test("triangleCount local fast path matches the distributed join plan") {
    for ((tag, edges) <- graphFixtures) {
      val df = edges.toDF("src", "dst")
      val slow = withLocalFastPathOff(
        Analytics.triangleCount(df, "src", "dst")
          .as[(Long, Long, Long)].collect().toSeq)
      val fast = Analytics.triangleCount(df, "src", "dst")
        .as[(Long, Long, Long)].collect().toSeq
      assert(fast == slow, s"triangleCount $tag diverges")
    }
  }

  private def nnRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select(col("vec_id"), col("neighbor_id"), col("nn_rank"),
        col("cosine_sim"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))

  test("nnDescentGraph local fast path is bitwise-identical to the distributed loop (q205 shape)") {
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.001",
      "embeddings")
    val slow = withLocalFastPathOff(nnRows(
      VectorOps.nnDescentGraph(emb, "vec_id", "embedding",
        k = 20, iters = 3, nBits = 4, seedMod = 64)))
    val fast = nnRows(
      VectorOps.nnDescentGraph(emb, "vec_id", "embedding",
        k = 20, iters = 3, nBits = 4, seedMod = 64))
    assert(fast.size == slow.size,
      s"nnDescentGraph row count ${fast.size} != ${slow.size}")
    // element-wise compare so a single drifted cosine names its row
    fast.zip(slow).foreach { case (f, s) =>
      assert(f == s, s"nnDescentGraph diverges at $f vs $s")
    }
  }
}
