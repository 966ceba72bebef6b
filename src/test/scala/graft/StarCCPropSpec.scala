package graft

import graft.operators.Analytics

/** Property test: large-star/small-star connected components labels
  * every node with the smallest id of its component, and the
  * size-adaptive union-find fast path gives EXACTLY the labeling of the
  * distributed loop on random graphs of varying shape — sparse scatter,
  * dense blocks, long chains, rings, self-loops and NULL endpoints.
  */
class StarCCPropSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  /** The min-label propagation fixpoint — every node labelled with the
    * smallest id of its component — by a driver-side union-find. */
  private def expected(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => (k, find(k))).toSet
  }

  private def check(edges: Seq[(Long, Long)], tag: String): Unit = {
    val df = edges.toDF("a", "b")
    // distributed loop (fast path disabled) — the 100-TB plan
    val loop = withLocalFastPathOff(
      labels(Analytics.connectedComponents(df, "a", "b")))
    assert(loop == expected(edges), s"$tag: loop labeling is not min-id")
    // size-adaptive union-find fast path must be label-exact
    val fast = labels(Analytics.connectedComponents(df, "a", "b"))
    assert(fast == loop, s"$tag: local fast path diverges from the loop")
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
    // a self-loop adds no edge to contract; its node labels itself
    check(Seq((7L, 7L)), "self-loop-only")
  }

  test("a non-numeric endpoint casts to NULL: the fallback labels alike on and off") {
    // "x" casts to NULL under a non-ANSI cast, so the fast path rejects
    // the edge set and falls back to the loop
    val df = Seq(("1", "2"), ("2", "3"), ("x", "4"), ("5", "6"))
      .toDF("a", "b")
    def nullable(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    def cc() = nullable(Analytics.connectedComponents(df, "a", "b"))
    val ansi = "spark.sql.ansi.enabled"
    val prevAnsi = spark.conf.getOption(ansi)
    spark.conf.set(ansi, "false")
    val (off, on) =
      try (withLocalFastPathOff(cc()), cc())
      finally prevAnsi.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
    assert(on == off, "fast-path switch changes the NULL-endpoint labeling")
    // the NULL id is a node of its own: no neighbour's label reaches it,
    // and 4 keeps its own label
    assert(on == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(3L), Some(1L)), (None, None), (Some(4L), Some(4L)),
      (Some(5L), Some(5L)), (Some(6L), Some(5L))), s"labeling: $on")
  }
}
