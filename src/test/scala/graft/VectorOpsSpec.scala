package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorOps

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity 1.0, orthogonal 0.0, zero-vector guarded") {
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(0f, 0f, 0f), Seq(1f, 1f, 1f))
    ).toDF("a", "b")
    val out = df.select(VectorOps.cosine(
      VectorOps.quantize(col("a")), VectorOps.quantize(col("b")))).collect().map(_.getDouble(0))
    // self-similarity is n/(sqrt(n)*sqrt(n)) — a hair off 1.0 in IEEE; the
    // DuckDB oracle uses the identical formula, so cross-engine it's exact
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
    assert(out(2) == 0.0)
  }

  test("brute-force top-k ranks by cosine, breaks ties by id") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.01f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = VectorOps.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", 2)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(3L, 1L)) // exact match first, near-match second
  }

  test("IVF probes nearest cells only") {
    // two well-separated cells; query near cell 0 must not see cell 1
    // when nProbe=1
    val mk = (base: Float, n: Int) =>
      (0 until n).map(i => Seq.tabulate(64)(d => base + (if (d == i % 64) 0.01f else 0f)))
    val rows = mk(1f, 6).zipWithIndex.map { case (v, i) => (i.toLong, v, 0) } ++
      mk(-1f, 6).zipWithIndex.map { case (v, i) => ((i + 10).toLong, v, 1) }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = VectorOps.ivfTopK(df.filter(col("vec_id") === 0), df,
      "vec_id", "embedding", "label", k = 20, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 4L, 5L)) // cell-0 members only, self excluded
  }

  test("IVF recall@10 >= 0.6 vs oracle-checked brute force (q28 quality gate)") {
    // q28 is rows-only at the driver (probed-cell ANN has no SQL parity);
    // this is its quality contract: replicate q28's exact setup at sf0.01
    // (k=8 trained cells, nProbe=2) and gate mean recall@10 against the
    // oracle-checked q26 brute force.
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.01", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 10))
    val cells = VectorOps.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)._1
    val ivf = topSets(VectorOps.ivfTopK(queries, emb.join(cells, "vec_id"),
      "vec_id", "embedding", "cell", k = 10, nProbe = 2))
    val recalls = brute.map { case (q, exact) =>
      ivf.getOrElse(q, Set.empty).intersect(exact).size.toDouble / exact.size }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@10 (8 cells, nProbe=2, sf0.01): $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.6, f"mean recall@10 $mean%.3f below the 0.6 gate")
  }

  test("PQ: donor vectors encode to zero-distance codes; ADC recall@10 gated (q169)") {
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.01", "embeddings")
    val books = VectorOps.pqCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    assert(books.length == 16 && books.forall(_.length == 64) &&
      books.forall(_.forall(_.length == 4)))
    // exactness: a donor's sub-vector IS a code word, so its encoded
    // ADC distance to itself must be 0 in every subspace
    val vecs = emb.select(col("vec_id"),
        VectorOps.quantize(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val codes = VectorOps.pqEncode(emb, "vec_id", "embedding", books)
      .as[(Long, Seq[Int])].collect().toMap
    (0L until 64L).foreach { id =>
      val selfDist = (0 until 16).map { s =>
        val cw = books(s)(codes(id)(s))
        vecs(id).slice(s * 4, s * 4 + 4).zip(cw)
          .map { case (a, b) => val t = a - b; t * t }.sum
      }.sum
      assert(selfDist == 0.0, s"donor $id should be exactly representable")
    }
    // quality: ADC top-10 vs exact L2 top-10 (the q28 recall-gate
    // pattern — determinism is oracle-checked by q169, approximation
    // quality is bounded here)
    val queries = emb.filter(col("vec_id") < 5)
    val pq = VectorOps.pqTopK(queries, emb, "vec_id", "embedding", books, 10)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val exact = (0L until 5L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(c => (vecs(q).zip(vecs(c)).map { case (a, b) =>
          val t = a - b; t * t }.sum, c))
        .take(10).toSet
    }.toMap
    val recalls = exact.map { case (q, ex) =>
      pq.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"PQ mean recall@10 (m=16, 64-word books, sf0.01): $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.4, f"mean recall@10 $mean%.3f below the 0.4 gate")
  }

  test("IVF-PQ: probing all cells equals plain PQ; pruned probe gated (q172)") {
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.01", "embeddings")
    // the q115/q172 fixed centroid fixture
    val cents: Array[Seq[Double]] = Array(
      Seq.fill(64)(0.0),
      Seq.fill(64)(100.0),
      Seq.fill(64)(-100.0),
      Seq.tabulate(64)(d => if (d % 2 == 0) 100.0 else -100.0))
    val books = VectorOps.pqCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    val corpus = VectorOps.assignCellsAll(emb, "embedding", cents)
    // the keep-all assignment must agree with the two-column one
    val viaJoin = emb.join(
      VectorOps.assignCells(emb, "vec_id", "embedding", cents), "vec_id")
    assert(corpus.select(col("vec_id").cast("long"), col("cell"))
        .as[(Long, Int)].collect().toMap ==
      viaJoin.select(col("vec_id").cast("long"), col("cell"))
        .as[(Long, Int)].collect().toMap)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("adc_dist").cast("long")).as[(Long, Long, Long)].collect().toSet
    // nProbe = nCells disables pruning — the composed plan must then be
    // EXACTLY the unpruned ADC ranking (same distances, same tie-breaks)
    val full = rows(VectorOps.ivfPqTopK(queries, corpus, "vec_id", "embedding",
      "cell", cents, books, k = 10, nProbe = 4))
    val plain = rows(VectorOps.pqTopK(queries, emb, "vec_id", "embedding", books, 10))
    assert(full == plain, "all-cells IVF-PQ must equal plain PQ ADC exactly")
    // pruned (the q172 registration, nProbe=2): every neighbor must come
    // from a probed cell, and recall vs the unpruned ADC ranking is gated
    val pruned = rows(VectorOps.ivfPqTopK(queries, corpus, "vec_id", "embedding",
      "cell", cents, books, k = 10, nProbe = 2))
    val cellOf = corpus.select(col("vec_id").cast("long"), col("cell"))
      .as[(Long, Int)].collect().toMap
    val qv = emb.filter(col("vec_id") < 5)
      .select(VectorOps.quantize(col("embedding")).as("v"), col("vec_id").cast("long"))
      .as[(Seq[Double], Long)].collect().map(_.swap).toMap
    val probedCells = qv.map { case (q, v) =>
      q -> cents.indices.sortBy { i =>
        val d = cents(i).map(x => x * x).sum -
          2.0 * v.zip(cents(i)).map { case (a, b) => a * b }.sum
        (d, i)
      }.take(2).toSet
    }
    pruned.foreach { case (q, n, _) =>
      assert(probedCells(q).contains(cellOf(n)),
        s"neighbor $n of query $q came from an unprobed cell") }
    val recalls = plain.groupBy(_._1).map { case (q, rs) =>
      val ex = rs.map(_._2)
      pruned.filter(_._1 == q).map(_._2).intersect(ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(f"IVF-PQ recall@10 vs unpruned ADC (nProbe=2/4 cells, sf0.01): $mean%.3f")
    assert(mean >= 0.4, f"mean recall@10 $mean%.3f below the 0.4 gate")
  }

  test("IVF-PQ serve face: the stored index round-trips through parquet and serves identically (round 17)") {
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.001", "embeddings")
    val cents: Array[Seq[Double]] = Array(
      Seq.fill(64)(0.0),
      Seq.fill(64)(100.0),
      Seq.fill(64)(-100.0),
      Seq.tabulate(64)(d => if (d % 2 == 0) 100.0 else -100.0))
    val books = VectorOps.pqCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    val corpus = VectorOps.assignCellsAll(emb, "embedding", cents)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("adc_dist").cast("long")).as[(Long, Long, Long)].collect().toSet
    val bundled = rows(VectorOps.ivfPqTopK(queries, corpus, "vec_id",
      "embedding", "cell", cents, books, k = 10, nProbe = 2))
    // the deployed shape: materialize (cell, neighbor_id, codes) once,
    // read it back from bytes on disk, serve from the stored relation
    SparkSpec.withTempDir("graft-ivfpq") { dir =>
      VectorOps.pqEncodeIndex(corpus, "vec_id", "embedding", "cell", books)
        .write.parquet(s"$dir/index")
      val served = rows(VectorOps.ivfPqTopKFromIndex(queries, "vec_id",
        "embedding", spark.read.parquet(s"$dir/index"), cents, books,
        k = 10, nProbe = 2))
      assert(served == bundled,
        "serving from the parquet-round-tripped index must equal the bundled plan")
    }
  }

  test("labelCentroids: per-dim integer mean in index order") {
    val df = Seq(
      (0L, 0, Seq(1f, 2f)), (1L, 0, Seq(3f, 5f)), // label 0: means (2000, 3500)
      (2L, 1, Seq(10f, 0f)) // label 1: itself
    ).toDF("vec_id", "label", "embedding")
    val out = VectorOps.labelCentroids(df, "label", "embedding")
      .orderBy(col("label")).as[(Int, Seq[Double])].collect()
    assert(out.toSeq == Seq((0, Seq(2000.0, 3500.0)), (1, Seq(10000.0, 0.0))))
  }

  test("kmeansCells separates blobs deterministically; IVF runs on trained cells") {
    // two tight blobs far apart; k=2 must split them exactly, whatever
    // the seeding order
    val mk = (base: Float, ids: Range) =>
      ids.map(i => (i.toLong, Seq.tabulate(16)(d => base + 0.001f * ((i + d) % 3))))
    val df = (mk(1f, 0 until 8) ++ mk(-1f, 8 until 16)).toDF("vec_id", "embedding")
    val cells = VectorOps.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 3)._1
      .as[(Long, Int)].collect().toMap
    val blobA = (0L until 8L).map(cells).toSet
    val blobB = (8L until 16L).map(cells).toSet
    assert(blobA.size == 1 && blobB.size == 1 && blobA != blobB)
    // deterministic: a second training run assigns identically
    val cells2 = VectorOps.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 3)._1
      .as[(Long, Int)].collect().toMap
    assert(cells == cells2)
    // IVF over the trained cells: query in blob A sees only blob A at nProbe=1
    val out = VectorOps.ivfTopK(df.filter(col("vec_id") === 0),
        df.join(VectorOps.kmeansFit(df, "vec_id", "embedding", 2, 3)._1, "vec_id"),
        "vec_id", "embedding", "cell", k = 20, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == (1L until 8L).toSet)
  }

  test("mineSemiHardNegatives: band boundaries, self-exclusion, ties (hand-computed)") {
    // 2-dim vectors quantized ×1000 exactly; cosines are exact-integer
    // dots over exact norms, so band comparisons are deterministic.
    val vecs = Seq(
      // label 0: pos_sim(1) = cos(v1, v2) = 0.6 exactly (norms 1000, 1000)
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.6f, 0.8f), 0),
      // label 1 negatives vs v1 (margin 0.5 → band (0.1, 0.6) EXCLUSIVE):
      (10L, Seq(1f, 0.01f), 1),   // cos ≈ 0.99995 — hard, NOT semi-hard
      (11L, Seq(0.5f, 0.866f), 1), // cos ≈ 0.500013 — in band, rank 1
      (12L, Seq(0.3f, 0.954f), 1), // cos ≈ 0.300035 — in band, rank 2
      (13L, Seq(0.05f, 0.999f), 1), // cos ≈ 0.05 — too easy, below band
      // the exact upper boundary: cos(v1, v14) = 0.6 = pos_sim → the
      // STRICT < must exclude it
      (14L, Seq(0.6f, 0.8f), 1),
      // label 2 singleton: no same-label positive → never an anchor
      (20L, Seq(0.7f, 0.7f), 2),
      // tie-break block in the y<0 ORTHANT (bucket '10'), so its vectors
      // never enter the '11' candidates above: anchor 30 (label 3),
      // positive 31; negatives 40/41 (label 4) are scalar multiples →
      // bitwise-identical cos = 0.8 with anchor 30
      (30L, Seq(0f, -1f), 3),
      (31L, Seq(0.436f, -0.9f), 3),
      (40L, Seq(0.6f, -0.8f), 4),
      (41L, Seq(1.2f, -1.6f), 4)
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.mineSemiHardNegatives(vecs, "vec_id", "embedding",
        "label", k = 3, margin = 0.5, nBits = 2)
      .select("anchor_id", "neg_id", "neg_rank", "neg_sim_micro")
      .as[(Long, Long, Long, Long)].collect()
    // first-principles replication of quantize → exact-int dot → one
    // IEEE divide (same fold order as the operator)
    val fix = Seq(1L -> Seq(1f, 0f), 2L -> Seq(0.6f, 0.8f),
      10L -> Seq(1f, 0.01f), 11L -> Seq(0.5f, 0.866f),
      12L -> Seq(0.3f, 0.954f), 13L -> Seq(0.05f, 0.999f),
      14L -> Seq(0.6f, 0.8f), 20L -> Seq(0.7f, 0.7f),
      30L -> Seq(0f, -1f), 31L -> Seq(0.436f, -0.9f),
      40L -> Seq(0.6f, -0.8f), 41L -> Seq(1.2f, -1.6f)).toMap
      .map { case (k, v) => k -> v.map(x => math.round(x.toDouble * 1000).toDouble) }
    def cos(i: Long, j: Long): Double = {
      val (a, b) = (fix(i), fix(j))
      val dp = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
      dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def micro(c: Double): Long = math.round(c * 1e6)
    val forV1 = out.filter(_._1 == 1L).sortBy(_._3)
    // in band (0.1, 0.6) for anchor v1: 11 (~0.500) then 12 (~0.300)
    // hardest-first; excluded: 10 (~0.99995 — hard, not semi-hard),
    // 13 (~0.05 — too easy), 14 (cos = 0.6 == pos_sim exactly — the
    // STRICT upper bound), 20 (~0.707 — above band), 30..41 (other
    // orthant, pruned by the sign-bucket blocking)
    assert(forV1.map(x => (x._2, x._3)).toSeq == Seq((11L, 1L), (12L, 2L)),
      s"v1 semi-hard set wrong: ${forV1.mkString(",")}")
    assert(forV1.map(_._4).toSeq ==
      Seq(micro(cos(1, 11)), micro(cos(1, 12))))
    // label-2 singleton can never be an anchor (no positive)
    assert(!out.exists(_._1 == 20L))
    // bitwise tie: 40/41 are scalar multiples → identical cos = 0.8 with
    // anchor 30 (norms 1000/2000 exact) → rank falls to neg_id ascending
    val for30 = out.filter(_._1 == 30L).sortBy(_._3)
    assert(for30.map(x => (x._2, x._3)).toSeq == Seq((40L, 1L), (41L, 2L)))
    assert(for30.map(_._4).distinct.toSeq == Seq(800000L))
  }

  test("nnDescent: rounds monotonically improve per-rank cosines; recall@10 >= 0.9 vs brute force (q205 quality contract)") {
    val emb = graft.sources.Ingest.table(spark, "/root/testdata/sf0.01", "embeddings")
    def ranked(g: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] = {
      val base = emb.select(col("vec_id").cast("long").as("id"),
        VectorOps.quantize(col("embedding")).as("v"))
      g.join(base, Seq("id"))
        .join(base.select(col("id").as("nb"), col("v").as("bv")), Seq("nb"))
        .withColumn("c", VectorOps.nativeCosine(col("v"), col("bv")))
        .select(col("id"), col("nb"), col("c"))
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq)
        .toMap
    }
    // each round reads its input graph several times: the checkpoints
    // truncate lineage, so later rounds and every ranked() call do not
    // re-compute all earlier rounds
    val init = VectorOps.nnDescentInit(emb, "vec_id", "embedding", k = 20,
      nBits = 4, seedMod = 64).localCheckpoint()
    val r1 = VectorOps.nnDescentRound(emb, "vec_id", "embedding", init, k = 20)
      .localCheckpoint()
    val r2 = VectorOps.nnDescentRound(emb, "vec_id", "embedding", r1, k = 20)
      .localCheckpoint()
    val r3 = VectorOps.nnDescentRound(emb, "vec_id", "embedding", r2, k = 20)
      .localCheckpoint()
    val (g0, g1, g2, g3) = (ranked(init), ranked(r1), ranked(r2), ranked(r3))
    // each round re-ranks a SUPERSET of the previous edges, so the j-th
    // best cosine per node can only improve — an exact invariant
    g1.foreach { case (id, cur) =>
      val prev = g0.getOrElse(id, Seq.empty)
      prev.zip(cur).zipWithIndex.foreach { case (((_, pc), (_, cc)), j) =>
        assert(cc >= pc, s"node $id rank $j regressed: $pc -> $cc")
      }
      assert(cur.length >= prev.length)
    }
    g2.foreach { case (id, cur) =>
      val prev = g1.getOrElse(id, Seq.empty)
      prev.zip(cur).foreach { case ((_, pc), (_, cc)) => assert(cc >= pc) }
    }
    g3.foreach { case (id, cur) =>
      val prev = g2.getOrElse(id, Seq.empty)
      prev.zip(cur).foreach { case ((_, pc), (_, cc)) => assert(cc >= pc) }
    }
    // recall@10 vs the exact graph (every node a query) — the q28-style
    // quantitative gate for the registered q205 (k=10, 2 rounds)
    val brute = ranked(
      emb.crossJoin(emb.select(col("vec_id").as("nb2")))
        .filter(col("vec_id") =!= col("nb2"))
        .select(col("vec_id").cast("long").as("id"), col("nb2").cast("long").as("nb")))
      .view.mapValues(_.take(10).map(_._1).toSet).toMap
    val got = g3.view.mapValues(_.take(10).map(_._1).toSet).toMap
    val recalls = brute.map { case (id, exact) =>
      got.getOrElse(id, Set.empty).intersect(exact).size.toDouble / exact.size }
    val mean = recalls.sum / recalls.size
    info(f"NN-descent mean recall@10 (k=20, 3 rounds, nBits=4, seedMod=64, sf0.01): $mean%.3f over ${recalls.size} nodes")
    assert(mean >= 0.9, f"mean recall@10 $mean%.3f below the 0.9 gate")
    val initRecall = g0.map { case (id, ns) =>
      ns.take(10).map(_._1).toSet.intersect(brute(id)).size.toDouble / 10 }
    info(f"init-only recall@10: ${initRecall.sum / initRecall.size}%.3f")
    Seq(init, r1, r2, r3).foreach(CacheScope.free)
  }

  test("mineSemiHardNegatives: class-size contract is enforced, not just documented") {
    // the positive side is all-pairs within each label — a corpus-sized
    // label must be rejected BEFORE the quadratic join can be scheduled
    val vecs = (0L until 10L).map(i => (i, Seq(1f, i.toFloat), i % 2))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      VectorOps.mineSemiHardNegatives(vecs, "vec_id", "embedding", "label",
        k = 2, nBits = 2, maxLabelSize = 3)
    }
    assert(e.getMessage.contains("all-pairs"))
    // at the bound it runs; explicit opt-out (<= 0) also runs
    VectorOps.mineSemiHardNegatives(vecs, "vec_id", "embedding", "label",
      k = 2, nBits = 2, maxLabelSize = 5).count()
    VectorOps.mineSemiHardNegatives(vecs, "vec_id", "embedding", "label",
      k = 2, nBits = 2, maxLabelSize = 0).count()
  }

  test("matryoshkaRecall: full-length prefix is identity; truncation loses rank") {
    // 4-dim vectors where the FIRST 2 dims mislead: query (1,0,0,0);
    // n1 matches on the tail only, n2 on the head only — at dim 2 the
    // ranking flips vs full
    val vecs = Seq(
      (0L, Seq(1f, 0f, 1f, 1f)),
      (1L, Seq(0f, 0.1f, 1f, 1f)),   // full cos high (tail agrees)
      (2L, Seq(1f, 0f, -1f, -1f)),   // head agrees, tail opposes
      (3L, Seq(0.9f, 0f, -1f, -1f))) // head-perfect, tail-opposed: enters
      .toDF("vec_id", "embedding")    // the dim-2 top-2, not the full one
    val q = vecs.filter(col("vec_id") === 0)
    val out = VectorOps.matryoshkaRecall(q, vecs, "vec_id", "embedding",
        dims = Seq(2, 4), k = 2)
      .select("dim", "query_id", "n_overlap", "k")
      .as[(Long, Long, Long, Long)].collect().toSet
    // dim 4 = the full vector: overlap must be exactly k (identity)
    assert(out.contains((4L, 0L, 2L, 2L)))
    // dim 2: full top-2 = {1, 2}; truncated ranks 2 first and CANNOT see
    // 1's tail (cos(head(1)) = 0 ties with 3... ) — overlap strictly < k
    val d2 = out.find(_._1 == 2L).get
    assert(d2._3 < 2L, s"truncation should lose rank agreement, got $d2")
  }

  test("sign-bucket LSH finds same-orthant neighbors") {
    val vecs = Seq(
      (0L, Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (1L, Seq(2f, 1f, 1f, 1f, 1f, 1f, 1f, 3f)),
      (2L, Seq(-1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f))) // different orthant → pruned
      .toDF("vec_id", "embedding")
    val out = VectorOps.bucketedTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L))
  }
}
