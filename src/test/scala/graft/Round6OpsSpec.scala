package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 operator specs: degree-ordered triangle orientation. */
class Round6OpsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._
  import graft.operators.Analytics

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val df = edges.toDF("u", "v")
    val Array(r: Row) = Analytics.triangleCount(df, "u", "v").collect()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("degree ordering collapses hub-star wedge fan-out") {
    // star: hub 300 (a MIDDLE id — the id-ordered worst case: 200 lower-id
    // and 200 higher-id neighbours make the hub a wedge middle) plus 10
    // triangles among low leaves 1..30
    val star = (1L to 200L).map(h => (h, 300L)) ++
      (401L to 600L).map(h => (300L, h))
    val tris = (0 until 10).flatMap { i =>
      val (a, b, c) = (3L * i + 1, 3L * i + 2, 3L * i + 3)
      Seq((a, b), (b, c), (a, c))
    }
    val edges = star ++ tris
    val df = edges.toDF("u", "v")

    // wedges the triangle join would enumerate under degree ordering vs
    // the naive id ordering (orient low-id → high-id)
    val e = Analytics.canonicalEdges(df, "u", "v")
    val deg = Analytics.vertexDegrees(e)
    // `rd`: the degree of out-neighbour `b`, which orders b's pairs
    val o = Analytics.orientByDegree(e, deg)
      .join(deg.select(col("id").as("b"), col("deg").as("rd")), "b")
    val byDeg = o.as("e1").join(o.as("e2"),
        col("e1.a") === col("e2.a") &&
          (col("e1.rd") < col("e2.rd") ||
            (col("e1.rd") === col("e2.rd") && col("e1.b") < col("e2.b"))))
      .count()
    val byId = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u")).count()
    // id ordering: every (low, hub)×(hub, high) pair is a wedge through
    // the hub: 200 × 200 = 40000 (+ the triangle wedges)
    assert(byId >= 40000L)
    // degree ordering: all 400 star edges point INTO the hub (deg 400
    // beats deg ≤ 3) → zero wedges at the hub; only the triangle leaves
    // fan out. m = 430 edges → m^1.5 ≈ 8900 is the theoretical cap;
    // actual is far below even the edge count.
    assert(byDeg <= 430L, s"degree-ordered wedges $byDeg exceed edge count")
    assert(byDeg * 100 < byId, s"expected >=100x reduction, got $byDeg vs $byId")

    // count agrees with the definitional answer regardless of orientation:
    // 10 leaf triangles + 30 (hub, triangle-edge) closures
    val Array(r: Row) = Analytics.triangleCount(df, "u", "v").collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((401L, 430L, 40L)))
  }

  test("ewmaHalving: exact hand-computed values, ramp-up normalization, key isolation") {
    val df = Seq(
      ("a", 1L, 4L), ("a", 2L, 8L), ("a", 3L, 16L),
      ("b", 1L, 100L)).toDF("k", "t", "x")
    val got = Analytics.ewmaHalving(df, Seq("k"), "t", "x", window = 3)
      .select("k", "t", "x", "n_window", "ewma")
      .as[(String, Long, Long, Long, Double)].collect().toSeq.sorted
    // weights (most recent first) after normalization:
    //   n=1 → [1]; n=2 → [2/3, 1/3]; n=3 → [4/7, 2/7, 1/7]
    assert(got == Seq(
      ("a", 1L, 4L, 1L, 4.0),
      ("a", 2L, 8L, 2L, 20.0 / 3.0),
      ("a", 3L, 16L, 3L, 12.0),
      ("b", 1L, 100L, 1L, 100.0)))
    // partitioning-invariant (exact DECIMAL sums + one final division)
    val repart = Analytics.ewmaHalving(df.repartition(5), Seq("k"), "t", "x", 3)
      .select("k", "t", "x", "n_window", "ewma")
      .as[(String, Long, Long, Long, Double)].collect().toSeq.sorted
    assert(repart == got)
  }

  test("equiDepthBins: floor split, remainder to first bins, exact boundaries") {
    // 11 rows into 3 bins → sizes 4,4,3 (SQL-standard ntile remainder)
    val df = (1L to 11L).map(i => (i, i * 10L)).toDF("id", "v")
    val got = Analytics.equiDepthBins(df, "v", "id", nBins = 3)
      .select("bin", "n_rows", "lo", "hi")
      .as[(Int, Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1, 4L, 10L, 40L), (2, 4L, 50L, 80L), (3, 3L, 90L, 110L)))
  }

  test("kCore: known graphs, cascade peeling, empty core") {
    def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
      Analytics.kCore(edges.toDF("u", "v"), "u", "v", k)
        .as[(Long, Long)].collect().toMap

    // K4 with a pendant chain 4-5-6: 3-core = K4 exactly, chain peels
    // in cascade (6 first, then 5, needs >1 round)
    val k4 = (for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j))
    val g = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(core(g, 3) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 2-core keeps K4 (chain still peels: deg(6)=1)
    assert(core(g, 2) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above max degree → empty core
    assert(core(g, 5) == Map.empty)
    // 5-cycle is its own 2-core
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(core(c5, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L))
    // long chain: peeling a 10-vertex path with k=2 cascades from both
    // ends — the multi-round case the unrolled oracle must cover
    val path = (1L to 9L).map(i => (i, i + 1))
    assert(core(path, 2) == Map.empty)
  }

  test("degree-ordered triangleCount matches known graphs (regression)") {
    val k4 = for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j)
    assert(tri(k4) === ((4L, 6L, 4L)))
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(tri(c5) === ((5L, 5L, 0L)))
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(tri(bowtie) === ((4L, 5L, 2L)))
    // wheel: hub 10 connected to a 6-cycle 1..6 → 6 triangles; ties in
    // degree (cycle vertices all deg 3) exercise the id tiebreak
    val wheel = (1L to 6L).map(i => (10L, i)) ++
      (1L to 6L).map(i => (i, i % 6 + 1))
    assert(tri(wheel) === ((7L, 12L, 6L)))
  }
}
