package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, TextOps, VectorOps}

/** Specs for the round-2 operators: as-of join, char-n-gram Jaccard,
  * embedding-cosine near-dup.
  */
class AsofNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("asofJoin attaches latest right row with rts <= lts, per key") {
    val left = Seq(
      (1L, ts(5), "a"), // before any right row → null
      (1L, ts(10), "b"), // equal ts → matches the ts(10) right row
      (1L, ts(30), "c"), // between rights → ts(10)
      (1L, ts(50), "d"), // after both → ts(40)
      (2L, ts(20), "e") // other key, no right rows → null
    ).toDF("k", "t", "tag")
    val right = Seq((1L, ts(10), 100.0), (1L, ts(40), 200.0))
      .toDF("k", "t", "v")
    val out = Analytics.asofJoin(left, right, "k", "t", "t", Seq("v"))
      .select("tag", "asof_v").as[(String, Option[Double])].collect().toMap
    assert(out == Map("a" -> None, "b" -> Some(100.0), "c" -> Some(100.0),
      "d" -> Some(200.0), "e" -> None))
  }

  test("asofJoin preserves the matched row's NULL payloads (no older-row substitution)") {
    val left = Seq((1L, ts(20), "x"), (1L, ts(45), "y")).toDF("k", "t", "tag")
    // the ts(40) right row has v=null, note="n2": an as-of lookup at ts(45)
    // must return (null, "n2") — all payloads from THAT row — not carry
    // v=100.0 forward from the older ts(10) row
    val right = Seq(
      (1L, ts(10), Option(100.0), Option("n1")),
      (1L, ts(40), None: Option[Double], Option("n2"))
    ).toDF("k", "t", "v", "note")
    val out = Analytics.asofJoin(left, right, "k", "t", "t", Seq("v", "note"))
      .select("tag", "asof_v", "asof_note")
      .as[(String, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map("x" -> ((Some(100.0), Some("n1"))),
      "y" -> ((None, Some("n2")))))
  }

  test("asofJoin forward: earliest right row with rts >= lts, inclusive") {
    val left = Seq(
      (1L, ts(5), "a"), // before both rights → ts(10)
      (1L, ts(10), "b"), // equal ts → inclusive, matches ts(10)
      (1L, ts(30), "c"), // between → ts(40)
      (1L, ts(50), "d"), // after both → null
      (2L, ts(20), "e") // other key → null
    ).toDF("k", "t", "tag")
    val right = Seq((1L, ts(10), 100.0), (1L, ts(40), 200.0))
      .toDF("k", "t", "v")
    val out = Analytics.asofJoin(left, right, "k", "t", "t", Seq("v"),
        direction = "forward")
      .select("tag", "asof_v").as[(String, Option[Double])].collect().toMap
    assert(out == Map("a" -> Some(100.0), "b" -> Some(100.0),
      "c" -> Some(200.0), "d" -> None, "e" -> None))
  }

  test("rangeJoinBinned: inclusive tolerance, bin-edge pairs found, no duplicates") {
    val tol = 60L * 1000 * 1000 // 1 minute in micros
    val left = Seq((1L, ts(10)), (2L, ts(30))).toDF("lid", "lts")
    val right = Seq(
      (10L, ts(9)), // 60s before left 1 → inclusive boundary, matches
      (11L, ts(11)), // 60s after left 1 → matches
      (12L, ts(13)), // 3 min from left 1 → out
      (13L, ts(30)) // exact equality with left 2 → matches
    ).toDF("rid", "rts")
    val out = Analytics.rangeJoinBinned(left, right, "lts", "rts", tol)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    // no duplicates: each qualifying pair appears exactly once
    assert(out.size == out.toSet.size)
    assert(out.toSet == Set((1L, 10L), (1L, 11L), (2L, 13L)))
  }

  test("rangeJoinBinned equals the brute-force cross join on random data") {
    val rnd = new scala.util.Random(42)
    val tol = 90L * 1000 * 1000 // 90s
    val mkTs = (s: Int) => new java.sql.Timestamp(1704100000000L + s * 1000L)
    val ls = Seq.tabulate(80)(i => (i.toLong, mkTs(rnd.nextInt(3000))))
    val rs = Seq.tabulate(80)(i => (i.toLong, mkTs(rnd.nextInt(3000))))
    val left = ls.toDF("lid", "lts")
    val right = rs.toDF("rid", "rts")
    val binned = Analytics.rangeJoinBinned(left, right, "lts", "rts", tol)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = (for {
      (li, lt) <- ls; (ri, rt) <- rs
      if math.abs(lt.getTime - rt.getTime) * 1000L <= tol
    } yield (li, ri)).toSet
    assert(binned == brute)
    assert(brute.nonEmpty)
  }

  test("asofJoin equals the brute-force per-row max lookup on random data") {
    val rnd = new scala.util.Random(7)
    val mkTs = (s: Int) => new java.sql.Timestamp(1704100000000L + s * 1000L)
    val ls = Seq.tabulate(120)(i => (rnd.nextInt(5).toLong, mkTs(rnd.nextInt(2000)), i.toLong))
    // unique (key, ts) on the right, as the operator contract requires
    val rs = Seq.tabulate(120)(i => ((rnd.nextInt(5).toLong, mkTs(rnd.nextInt(2000))), i.toLong))
      .toMap.toSeq.map { case ((k, t), v) => (k, t, v.toDouble) }
    val left = ls.toDF("k", "t", "lid")
    val right = rs.toDF("k", "t", "v")
    val got = Analytics.asofJoin(left, right, "k", "t", "t", Seq("v"))
      .select("lid", "asof_v").as[(Long, Option[Double])].collect().toMap
    val expected = ls.map { case (k, lt, lid) =>
      val cands = rs.filter { case (rk, rt, _) => rk == k && !rt.after(lt) }
      lid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(_._2.getTime)._3))
    }.toMap
    assert(got == expected)
    assert(expected.values.exists(_.isDefined))
  }

  test("charNgrams: empty below n, distinct, normalized") {
    val df = Seq("ab", "abcab", "  A  b C  ").toDF("t")
      .select(TextOps.charNgrams(col("t"), 3).as("ng"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq.empty)
    assert(out(1) == Seq("abc", "bca", "cab"))
    // normalization: lowercased, whitespace collapsed → "a b c"
    assert(out(2) == Seq("a b", " b ", "b c"))
  }

  test("jaccard over charNgrams matches hand computation") {
    val grams = Seq(("abcd", "abcd"), ("abcd", "bcde"), ("ab", "ab"))
      .toDF("x", "y")
      .select(TextOps.charNgrams(col("x"), 3), TextOps.charNgrams(col("y"), 3))
      .as[(Seq[String], Seq[String])].collect()
    // set Jaccard; 0 when both sets are empty
    val out = grams.map { case (x, y) =>
      val uni = (x ++ y).toSet.size
      if (uni == 0) 0.0 else x.toSet.intersect(y.toSet).size.toDouble / uni
    }
    assert(out(0) == 1.0)
    // {abc,bcd} vs {bcd,cde}: inter 1, union 3
    assert(math.abs(out(1) - 1.0 / 3) < 1e-15)
    assert(out(2) == 0.0) // both empty → 0 by definition
  }

  test("cosineNearDupPairs finds planted near-duplicates, blocks by sign bucket") {
    val mk = (id: Long, v: Seq[Double]) => (id, v)
    val rows = Seq(
      mk(1, Seq(1.0, 2.0, 3.0, 4.0, 0.5, 0.5, 0.5, 0.5)),
      mk(2, Seq(1.0, 2.0, 3.0, 4.001, 0.5, 0.5, 0.5, 0.5)), // near-dup of 1
      mk(3, Seq(-1.0, 2.0, 3.0, 4.0, 0.5, 0.5, 0.5, 0.5)), // different bucket (sign flip)
      mk(4, Seq(4.0, 3.0, 2.0, 1.0, 0.5, 0.5, 0.5, 0.5)) // same bucket as 1, cosine ≈ 0.71
    ).toDF("id", "vec")
    val out = VectorOps.cosineNearDupPairs(rows, "id", "vec", threshold = 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L))) // 3 is bucket-blocked, 4 is below threshold
  }
}
