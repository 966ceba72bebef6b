package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Property test: large-star/small-star CC must produce EXACTLY the same
  * (id → min-of-component) labeling as the min-label-propagation variant
  * on random graphs of varying shape — sparse scatter, dense blocks,
  * long chains (worst case for propagation, the star variant's raison
  * d'être), rings, and an empty graph.
  */
class StarCCPropSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  private def check(edges: Seq[(Long, Long)], tag: String): Unit = {
    val df = edges.toDF("a", "b")
    // distributed loops (fast path disabled) — the 100-TB plans
    val (prop, star) = withLocalFastPathOff(
      (labels(Analytics.connectedComponents(df, "a", "b")),
        labels(Analytics.connectedComponentsStar(df, "a", "b"))))
    assert(star == prop, s"$tag: star vs propagation labelings diverge")
    // size-adaptive union-find fast path (round 18) must be label-exact
    // against both loops
    val propFast = labels(Analytics.connectedComponents(df, "a", "b"))
    val starFast = labels(Analytics.connectedComponentsStar(df, "a", "b"))
    assert(propFast == prop, s"$tag: local fast path diverges from propagation")
    assert(starFast == prop, s"$tag: local star fast path diverges")
  }

  test("random sparse graphs match propagation labeling") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120)(
        (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
        .filter { case (a, b) => a != b }
      check(edges, s"sparse-$trial")
    }
  }

  test("long chains (propagation's worst case) and rings") {
    val chain = (1L until 60L).map(i => (i, i + 1))
    check(chain, "chain")
    val ring = (1L until 40L).map(i => (i, i + 1)) :+ (40L, 1L)
    check(ring, "ring")
    // several disjoint chains with shuffled ids
    val multi = (0L until 5L).flatMap(c =>
      (0L until 10L).map(i => (c + 5 * i, c + 5 * (i + 1))))
    check(multi, "interleaved-chains")
  }

  test("dense block plus isolated pairs, self-loops ignored") {
    val dense = for (a <- 1L to 12L; b <- 1L to 12L if a < b) yield (a, b)
    val pairs = Seq((100L, 101L), (200L, 201L), (300L, 300L))
    check(dense ++ pairs, "dense+pairs")
    // self-loop-only input → empty labeling from both
    check(Seq((7L, 7L)), "self-loop-only")
  }

  test("a non-numeric endpoint casts to NULL: the fallback labels alike on and off") {
    // "x" casts to NULL under a non-ANSI cast, so connectedComponents'
    // fast path rejects the symmetric edge set and falls back to the
    // loop; star CC drops the NULL edge before its fast path
    val df = Seq(("1", "2"), ("2", "3"), ("x", "4"), ("5", "6"))
      .toDF("a", "b")
    def nullable(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    def both() = (nullable(Analytics.connectedComponents(df, "a", "b")),
      nullable(Analytics.connectedComponentsStar(df, "a", "b")))
    val ansi = "spark.sql.ansi.enabled"
    val prevAnsi = spark.conf.getOption(ansi)
    spark.conf.set(ansi, "false")
    val (off, on) =
      try (withLocalFastPathOff(both()), both())
      finally prevAnsi.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
    assert(on == off, "fast-path switch changes the NULL-endpoint labeling")
    // both variants label the NULL id NULL: no neighbour's label reaches it
    assert(on._1 == on._2, s"propagation ${on._1} vs star ${on._2} on a NULL endpoint")
    // union-find never emits a NULL id: this one proves the loop ran
    assert(on._1.exists(_._1.isEmpty), s"no NULL-row label: ${on._1}")
  }
}
