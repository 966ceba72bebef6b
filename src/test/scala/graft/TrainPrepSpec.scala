// (groupAuc tests appended round 12)
package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainPrep

class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDocs: offsets, overlap, final short chunk, empty text") {
    val df = Seq((1L, "a" * 450), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val out = TrainPrep.chunkDocs(df, "doc_id", "text", chunkSize = 200, overlap = 50)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "start", "chunk_len")
      .as[(Long, Long, Long, Long)].collect()
    // doc 1: starts 1, 151, 301 — lens 200, 200, 150 (len 450)
    assert(out.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0L, 1L, 200L), (1L, 1L, 151L, 200L), (1L, 2L, 301L, 150L)))
    // doc 2: single short chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 2L)))
    // doc 3: empty text still yields one (empty) chunk row
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 1L, 0L)))
  }

  test("chunkDocs: chunks reassemble the original text (zero overlap)") {
    val text = (1 to 97).map(i => ('a' + i % 26).toChar).mkString
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = TrainPrep.chunkDocs(df, "doc_id", "text", chunkSize = 10, overlap = 0)
      .orderBy("chunk_idx")
      .select(expr("substr('" + text + "', cast(start as int), 10)"))
      .as[String].collect()
    assert(chunks.mkString == text)
  }

  test("packSequences: contiguous fill, per-bucket reset, overflow by one doc max") {
    val df = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 300L), (4L, "a", 50L),
      (10L, "b", 600L), (11L, "b", 10L)).toDF("doc_id", "src", "n_tok")
    val out = TrainPrep.packSequences(df, "doc_id", "src", "n_tok", budget = 512L)
      .orderBy("doc_id")
      .select("doc_id", "pack_id", "pack_offset").as[(Long, Long, Long)].collect()
    // bucket a: cum-start offsets 0,300,600,900 → packs 0,0,1,1
    assert(out.toSeq == Seq(
      (1L, 0L, 0L), (2L, 0L, 300L), (3L, 1L, 88L), (4L, 1L, 388L),
      // bucket b restarts: offsets 0, 600
      (10L, 0L, 0L), (11L, 1L, 88L)))
  }

  test("stratifiedSample: unlisted strata dropped, rates honored, deterministic") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val kept = TrainPrep.stratifiedSample(df, "id", "lang", Map("en" -> 50))
    val rows = kept.select("lang").as[String].collect()
    assert(rows.forall(_ == "en"))
    // md5 buckets are uniform-ish: 50% rate over 500 'en' docs → 200..300
    assert(rows.length > 200 && rows.length < 300)
    // deterministic: same result on rerun
    assert(kept.select("id").as[Long].collect().toSet ==
      TrainPrep.stratifiedSample(df, "id", "lang", Map("en" -> 50))
        .select("id").as[Long].collect().toSet)
  }

  test("tokenRarity: rare-token docs outscore common-token docs; exact values") {
    // corpus: 'the' x3, 'zyzzyva' x1  → T=4; weight(the)=4 DIV 3=1, weight(zyzzyva)=4
    val df = Seq((1L, "the the"), (2L, "the zyzzyva")).toDF("doc_id", "text")
    val out = TrainPrep.tokenRarity(df, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "n_tok", "rarity_score")
      .as[(Long, Long, Double)].collect()
    assert(out(0) == ((1L, 2L, 1.0)))          // (1+1)/2
    assert(out(1) == ((2L, 2L, 2.5)))          // (1+4)/2
  }

  test("quantizeVectors: exact int8 summaries, saturation, zero vector") {
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(2.0f))).toDF("vec_id", "embedding")
    val out = TrainPrep.quantizeVectors(df, "vec_id", "embedding")
      .orderBy("vec_id")
      .select("vec_id", "n_dims", "scale", "qsum", "qnorm", "n_sat")
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    // vec 1: q = [127, -127, 64] (floor(63.5+0.5)=64)
    assert(out(0) == ((1L, 3L, 1.0, 64L, 2 * 127L * 127L + 64L * 64L, 2L)))
    // vec 2: zero scale → all-zero q, no NaN
    assert(out(1) == ((2L, 2L, 0.0, 0L, 0L, 0L)))
    // vec 3: single element saturates at 127
    assert(out(2) == ((3L, 1L, 2.0, 127L, 127L * 127L, 1L)))
    // qvec column survives for downstream ANN use
    val qv = TrainPrep.quantizeVectors(df, "vec_id", "embedding")
      .filter(col("vec_id") === 1L).select("qvec").as[Seq[Long]].head()
    assert(qv == Seq(127L, -127L, 64L))
  }

  test("clusterRepresentatives: argmax by quality key, tiebreak by key uniqueness") {
    val df = Seq(
      ("c1", 1L, 100L), ("c1", 2L, 300L), ("c1", 3L, 300L),
      ("c2", 9L, 5L)).toDF("cluster", "member", "len")
    val out = TrainPrep.clusterRepresentatives(df, "cluster", "member",
        col("len") * 1000000L - col("member"))
      .orderBy("cluster")
      .select("cluster", "rep_id", "n_members").as[(String, Long, Long)].collect()
    // c1: len 300 tie between members 2 and 3 → lower member wins (higher key)
    assert(out.toSeq == Seq(("c1", 2L, 3L), ("c2", 9L, 1L)))
  }

  test("stableRowIds: contiguous, order-correct, invariant to input partitioning") {
    // duplicate sort values force the tiebreak; shuffled input order
    val rows = Seq((5L, 30L), (1L, 10L), (4L, 20L), (2L, 10L), (3L, 20L), (6L, 30L))
    val df = rows.toDF("id", "len")
    def ids(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      TrainPrep.stableRowIds(d, Seq("len", "id"))
        .select("id", "row_id").as[(Long, Long)].collect().toSeq.sorted
    val got = ids(df)
    // global (len, id) order: 1,2,3,4,5,6 → row_id 0..5
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L)))
    assert(ids(df.repartition(5)) == got)
    assert(ids(df.coalesce(1)) == got)
  }

  test("domainQuota: cap honored, deterministic under repartitioning, two-phase exact") {
    // 3 domains: a mega-domain (120 rows), a mid one (15), a tiny one (3)
    val rows = (1L to 120L).map(i => (i, "big.com")) ++
      (200L to 214L).map(i => (i, "mid.org")) ++
      (300L to 302L).map(i => (i, "tiny.net"))
    val df = rows.toDF("doc_id", "host")

    val out = TrainPrep.domainQuota(df, col("host"), "doc_id", cap = 10, nSalts = 4)
      .select("domain", "doc_id", "quota_rank")
    val got = out.as[(String, Long, Int)].collect().toSeq.sorted

    // per-domain sizes: min(cap, domain size)
    val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sizes == Map("big.com" -> 10, "mid.org" -> 10, "tiny.net" -> 3))
    // quota_rank is 1..n within each domain
    got.groupBy(_._1).foreach { case (d, rs) =>
      assert(rs.map(_._3).sorted == (1 to rs.size).toList, s"ranks broken for $d")
    }

    // two-phase == naive single-window (the oracle form), and invariant
    // to input partitioning / salt count
    val naive = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(md5(concat_ws("|", col("host"), col("doc_id").cast("string"))),
          col("doc_id"))
      df.withColumn("r", row_number().over(w)).filter(col("r") <= 10)
        .select(col("host"), col("doc_id"), col("r").cast("int"))
        .as[(String, Long, Int)].collect().toSeq.sorted
    }
    assert(got == naive)
    val repart = TrainPrep.domainQuota(df.repartition(7, col("doc_id")),
        col("host"), "doc_id", cap = 10, nSalts = 11)
      .select("domain", "doc_id", "quota_rank")
      .as[(String, Long, Int)].collect().toSeq.sorted
    assert(repart == got)
  }

  test("temperatureMix damps head domains and up-weights the tail") {
    // head: 900 docs, tail: 100 → raw ratio 9:1, sqrt ratio 3:1
    val docs = (Seq.fill(900)("head") ++ Seq.fill(100)("tail"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("doc_id", "source")
    val got = TrainPrep.temperatureMix(docs, "source", 1000L)
      .orderBy("domain").collect()
    val byDom = got.map(r => r.getString(0) -> r).toMap
    assert(byDom("head").getLong(1) == 900 && byDom("tail").getLong(1) == 100)
    // sqrt masses: 30e6 and 10e6 → weights exactly 0.75 / 0.25
    assert(byDom("head").getDouble(2) == 0.75)
    assert(byDom("tail").getDouble(2) == 0.25)
    // budgets: floor(1000 * mass / total) = 750 / 250
    assert(byDom("head").getLong(3) == 750 && byDom("tail").getLong(3) == 250)
    // tail got 2.5x its raw share (100/1000); head damped from 0.9 to 0.75
    // floor never over-allocates: totals ≤ budget
    assert(got.map(_.getLong(3)).sum <= 1000)
  }

  test("dsirScore: target-marker docs score above the rest, deterministically") {
    import org.apache.spark.sql.functions.col
    // target docs share a marker vocabulary; raw-only docs use another.
    // DSIR must rank marker-bearing held-out docs above raw-style ones.
    val docs = ((0 until 12).map(i =>
        (i.toLong, s"alpha beta gamma delta marker$i token$i", true)) ++
      (12 until 24).map(i =>
        (i.toLong, s"noise$i junk$i filler$i spam$i other$i extra$i", false)) ++
      Seq((24L, "alpha beta gamma delta fresh new", false), // target-like holdout
        (25L, "noise1 junk2 filler3 spam4 words here", false))) // raw-like holdout
      .toDF("doc_id", "text", "is_tgt")
    val out = TrainPrep.dsirScore(docs, "doc_id", "text", col("is_tgt"), dim = 64)
      .select("doc_id", "score_micro", "keep")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(24L)._2 > out(25L)._2,
      s"target-like holdout ${out(24L)._2} should outscore raw-like ${out(25L)._2}")
    assert(out(24L)._3 && !out(25L)._3)
    // exact determinism: a second fit+score run reproduces every score
    val again = TrainPrep.dsirScore(docs, "doc_id", "text", col("is_tgt"), dim = 64)
      .select("doc_id", "score_micro", "keep")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out == again)
  }

  test("cluster split never straddles a near-dup pair; q46's doc split does (q174)") {
    val dir = "/root/testdata/sf0.01"
    val pairs = Queries.ngramJaccardPairs(spark, dir, 0.7)
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs at theta 0.7")
    // q46's per-doc md5 split, replayed driver-side
    def bucket(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 100
    }
    def docSplit(id: Long): String = {
      val v = bucket(id.toString)
      if (v < 80) "train" else if (v < 90) "valid" else "test"
    }
    val docStraddle = pairs.count { case (a, b) => docSplit(a) != docSplit(b) }
    val bySplit = Queries.all.find(_.name == "q174_leakage_safe_split").get
      .run(spark, dir)
      .select(col("doc_id").cast("long"), col("split"))
      .as[(Long, String)].collect().toMap
    val clusterStraddle = pairs.count { case (a, b) => bySplit(a) != bySplit(b) }
    info(s"near-dup pairs: ${pairs.length}; straddling doc-split: $docStraddle; " +
      s"straddling cluster-split: $clusterStraddle")
    assert(clusterStraddle == 0,
      "cluster-keyed split must never separate a near-dup pair")
    assert(docStraddle > 0,
      "fixture should demonstrate the leak the cluster split closes")
  }

  test("materializeMix: exact per-domain takes, two-phase equals naive window, partition-invariant") {
    import org.apache.spark.sql.functions.col
    val rows = (1L to 120L).map(i => (i, "big.com")) ++
      (200L to 214L).map(i => (i, "mid.org")) ++
      (300L to 302L).map(i => (i, "tiny.net"))
    val df = rows.toDF("doc_id", "source")
    val caps = Seq(("big.com", 10L), ("mid.org", 12L), ("tiny.net", 99L))
      .toDF("source", "target_docs")
    val got = TrainPrep.materializeMix(df, "source", "doc_id", caps, "target_docs",
        nSalts = 4)
      .select("source", "doc_id", "mix_rank")
      .as[(String, Long, Long)].collect().toSeq.sorted
    val sizes = got.groupBy(_._1).view.mapValues(_.size).toMap
    // exactly the cap, or the whole domain when the cap exceeds it
    assert(sizes == Map("big.com" -> 10, "mid.org" -> 12, "tiny.net" -> 3))
    // equals the naive single-window form (the oracle shape)
    val naive = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(concat_ws("|", col("source"), col("doc_id").cast("string"))),
          col("doc_id"))
      df.withColumn("r", row_number().over(w).cast("long"))
        .join(caps, "source").filter(col("r") <= col("target_docs"))
        .select(col("source"), col("doc_id"), col("r"))
        .as[(String, Long, Long)].collect().toSeq.sorted
    }
    assert(got == naive)
    // invariant to input partitioning and salt count
    val repart = TrainPrep.materializeMix(df.repartition(7, col("doc_id")),
        "source", "doc_id", caps, "target_docs", nSalts = 11)
      .select("source", "doc_id", "mix_rank")
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(repart == got)
  }

  test("packSplit: exact-full packs, docs cut at boundaries, offsets reassemble") {
    import org.apache.spark.sql.functions.col
    // bucket a: 300+300+50 tokens over budget 256 → doc 1 spans packs
    // 0-1, doc 2 spans 1-2, doc 3 fits in pack 2
    val df = Seq((1L, "a", 300L), (2L, "a", 300L), (3L, "a", 50L),
      (10L, "b", 600L)).toDF("doc_id", "src", "n_tok")
    val out = TrainPrep.packSplit(df, "doc_id", "src", "n_tok", budget = 256L)
      .orderBy("doc_id", "seg_idx")
      .select("doc_id", "seg_idx", "pack_id", "offset_in_doc",
        "offset_in_pack", "seg_len")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 0L, 0L, 256L), (1L, 1L, 1L, 256L, 0L, 44L),
      (2L, 0L, 1L, 0L, 44L, 212L), (2L, 1L, 2L, 212L, 0L, 88L),
      (3L, 0L, 2L, 0L, 88L, 50L),
      // bucket b restarts its pack ids
      (10L, 0L, 0L, 0L, 0L, 256L), (10L, 1L, 1L, 256L, 0L, 256L),
      (10L, 2L, 2L, 512L, 0L, 88L)))
    // invariants: per-doc segment lengths sum to n_tok; every pack
    // except each bucket's last is exactly full
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._6).sum).toMap
    assert(byDoc == Map(1L -> 300L, 2L -> 300L, 3L -> 50L, 10L -> 600L))
  }

  test("tokenDrift: zero for identical slices, positive and localized for disjoint vocab") {
    import org.apache.spark.sql.functions.col
    // identical token distribution in both slices → every bucket's
    // counts match → dp_nano = 0 and dln_micro = 0 everywhere
    val same = Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val zero = TrainPrep.tokenDrift(same, "text", col("doc_id") === 0L, dim = 16)
      .collect()
    assert(zero.forall(r => r.getAs[Long]("psi_contrib") == 0L))
    // disjoint vocabularies → strong drift; every contribution is >= 0
    // (the gap and the log-ratio always share sign, and rounding can
    // only shrink magnitude, never flip it)
    val disj = Seq((0L, "aa bb cc dd"), (1L, "xx yy zz ww"))
      .toDF("doc_id", "text")
    val out = TrainPrep.tokenDrift(disj, "text", col("doc_id") === 0L, dim = 16)
      .collect()
    assert(out.forall(r => r.getAs[Long]("psi_contrib") >= 0L))
    assert(out.map(_.getAs[Long]("psi_contrib")).sum > 0L)
  }

  test("groupAuc: exact Mann-Whitney with midrank ties (hand-computed)") {
    import graft.operators.TrainPrep
    val rows = Seq(
      // group "perfect": every positive outranks every negative → AUC 1
      ("perfect", 10L, true), ("perfect", 9L, true),
      ("perfect", 2L, false), ("perfect", 1L, false),
      // group "reversed": every negative outranks every positive → AUC 0
      ("reversed", 1L, true), ("reversed", 9L, false),
      // group "tied": all scores equal → AUC exactly 1/2 by midranks
      ("tied", 5L, true), ("tied", 5L, true),
      ("tied", 5L, false), ("tied", 5L, false),
      // group "mixed": pos {3, 1}, neg {2, 1}: pairs won = (3>2)+(3>1)=2,
      // ties = (1,1) → U = 2.5 of 4 → AUC = 0.625
      ("mixed", 3L, true), ("mixed", 1L, true),
      ("mixed", 2L, false), ("mixed", 1L, false),
      // single-class groups → AUC null
      ("onlypos", 7L, true), ("onlyneg", 7L, false)
    ).toDF("g", "score", "y")
    val out = TrainPrep.groupAuc(rows, "g", "score", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out("perfect") == ((2L, 2L, 8L, Some(1.0))))
    assert(out("reversed") == ((1L, 1L, 0L, Some(0.0))))
    assert(out("tied") == ((2L, 2L, 4L, Some(0.5))))
    assert(out("mixed") == ((2L, 2L, 5L, Some(0.625))))
    assert(out("onlypos")._4.isEmpty && out("onlyneg")._4.isEmpty)
  }

  test("calibrationBins: fixed-width integer bins, exact rates") {
    import graft.operators.TrainPrep
    // scores 0..15, label = score >= 8; 4 bins of width 4 over [0, 15]
    val rows = (0L until 16L).map(s => (s, s >= 8L)).toDF("score", "y")
    val out = TrainPrep.calibrationBins(rows, "score", "y", nBins = 4)
      .orderBy("bin")
      .select("bin", "n", "n_pos", "s_min", "s_max", "pos_rate")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 4L, 0L, 0L, 3L, 0.0), (1L, 4L, 0L, 4L, 7L, 0.0),
      (2L, 4L, 4L, 8L, 11L, 1.0), (3L, 4L, 4L, 12L, 15L, 1.0)))
  }

  test("groupAuc/calibrationBins: fractional score columns are rejected") {
    import graft.operators.TrainPrep
    // a silent cast("long") would truncate every score in [0, 1] to 0
    // and report AUC 0.5 with no error — the guard makes it loud
    val rows = Seq(("a", 0.7, true), ("a", 0.3, false)).toDF("g", "score", "y")
    val e1 = intercept[IllegalArgumentException] {
      TrainPrep.groupAuc(rows, "g", "score", "y")
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      TrainPrep.calibrationBins(rows, "score", "y", nBins = 4)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("gateAgreement: Cohen's kappa — perfect, chance-level, hand table") {
    import graft.operators.TrainPrep
    def kappa(rows: Seq[(Boolean, Boolean)]): (Long, Long, Option[Double]) = {
      val r = TrainPrep.gateAgreement(rows.toDF("a", "b"), col("a"), col("b"))
        .collect().head
      (r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)))
    }
    // perfect agreement → kappa 1
    val p = kappa(Seq((true, true), (true, true), (false, false)))
    assert(p._3.contains(1.0))
    // statistical independence (balanced 2x2) → kappa exactly 0
    val i = kappa(Seq((true, true), (true, false), (false, true),
      (false, false)))
    assert(i._1 == 0L && i._3.contains(0.0))
    // hand-computed: n11=20 n10=5 n01=10 n00=15, n=50:
    // num = 50*35 - 25*30 - 25*20 = 1750 - 750 - 500 = 500
    // den = 2500 - 750 - 500 = 1250 → kappa = 0.4
    val h = kappa(
      Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false)))
    assert(h == ((500L, 1250L, Some(0.4))))
    // degenerate: every row in one cell → den 0 → NULL kappa
    assert(kappa(Seq.fill(3)((true, true)))._3.isEmpty)
  }

  test("epochShards: bijective per epoch, shard-consistent, decorrelated across epochs and seeds") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 200L).toDF("doc_id")
    val a = TrainPrep.epochShards(docs, "doc_id", "s1", epochs = 3, nShards = 4)
    val rows = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 600) // one row per (doc, epoch)
    // bijection per epoch: (shard, pos) pairs are distinct, pos is 1..|shard|
    (0L until 3L).foreach { e =>
      val ep = rows.filter(_._2 == e)
      assert(ep.map(r => (r._3, r._4)).distinct.length == 200)
      ep.groupBy(_._3).foreach { case (_, g) =>
        assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq, "pos must be dense per shard")
      }
      // rough balance: every shard sees a fair share of 200/4 = 50
      assert(ep.groupBy(_._3).values.map(_.length).min > 20)
    }
    // epochs decorrelate: the epoch-global (shard, pos) order differs
    def order(e: Long): Seq[Long] =
      rows.filter(_._2 == e).sortBy(r => (r._3, r._4)).map(_._1).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
    // seeds decorrelate; the SAME seed reproduces exactly
    val b = TrainPrep.epochShards(docs, "doc_id", "s2", epochs = 1, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a0 = rows.filter(_._2 == 0L).map(r => (r._1, r._3, r._4)).sortBy(_._1).toSeq
    assert(b.map(r => (r._1, r._3, r._4)).sortBy(_._1).toSeq != a0)
    val a2 = TrainPrep.epochShards(docs, "doc_id", "s1", epochs = 3, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a2.sorted.toSeq == rows.sorted.toSeq, "same seed must reproduce byte-identically")
  }

  test("packEpochShards: greedy budget fill in seeded order, reproducible, one window pass") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 120L).map(i => (i, 1L + i % 7)).toDF("doc_id", "n_tok")
    val out = TrainPrep.packEpochShards(docs, "doc_id", "n_tok",
      seed = "sx", epochs = 2, nShards = 4, budget = 16L)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == 240)
    // recompute the greedy fill per (epoch, shard) independently
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      var cum = 0L
      g.sortBy(_._4).foreach { case (_, _, _, _, tok, packId, off) =>
        assert(packId == cum / 16L && off == cum % 16L,
          s"pack math diverged at cum=$cum tok=$tok")
        cum += tok
      }
    }
    // reproducibility: the same seed regenerates identical boundaries
    val again = TrainPrep.packEpochShards(docs, "doc_id", "n_tok",
      seed = "sx", epochs = 2, nShards = 4, budget = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("logreg sigmoid is the pinned rational — integer-exact, odd-symmetric, saturating (r16 ADVICE)") {
    import spark.implicits._
    // reference values computed with DuckDB's direct BIGINT form
    // (500000 + sign(m)*((500000*least(abs(m),1e12)) // (1e6+least(abs(m),1e12))))
    // — the engine's overflow-free rewrite must match them exactly,
    // pinning the cross-engine contract by VALUE, not by libm behavior
    val pinned = Seq(
      0L -> 500000L, 1L -> 500000L, -1L -> 500000L,
      17L -> 500008L, -17L -> 499992L,
      123456L -> 554944L, -123456L -> 445056L,
      1000000L -> 750000L, -1000000L -> 250000L,
      3141592L -> 879273L, -3141592L -> 120727L,
      // at/past the ±1e12 clamp: within one micro of the asymptotes,
      // and TOTAL — no overflow reachable at any Long margin
      999999999999999L -> 999999L, -999999999999999L -> 1L,
      Long.MaxValue -> 999999L, Long.MinValue + 1 -> 1L,
      // round 18 (ADVICE): Long.MinValue itself — the one value where
      // abs() overflows in Spark and errors in DuckDB; the clamp now
      // runs BEFORE abs, so it is unreachable and p is still 1
      Long.MinValue -> 1L)
    val got = pinned.map(_._1).toDF("m")
      .select(col("m"), TrainPrep.sigmoidMicro(col("m")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pinned.foreach { case (m, p) =>
      assert(got(m) == p, s"sigmoidMicro($m) = ${got(m)}, pinned $p")
    }
    // exact odd symmetry around 500000 on a dense sweep (truncation on
    // |m| makes p(-m) = 1000000 - p(m) hold EXACTLY, not approximately)
    val sweep = (-2000L to 2000L).map(_ * 777L)
    val sm = sweep.toDF("m")
      .select(col("m"), TrainPrep.sigmoidMicro(col("m")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sweep.filter(_ >= 0).foreach { m =>
      assert(sm(m) + sm(-m) == 1000000L, s"symmetry broke at ±$m")
    }
    // monotone nondecreasing over the sweep
    sweep.sorted.sliding(2).foreach { w =>
      assert(sm(w(0)) <= sm(w(1)), s"monotonicity broke at ${w(0)}→${w(1)}")
    }
  }

  test("logreg: converges on a separable planted fixture; scoring is the training margin") {
    import spark.implicits._
    // 40 docs: half carry an unmistakable marker vocabulary, half don't —
    // linearly separable in hashed space with near-zero collision noise
    val docs = (0L until 40L).map { i =>
      val base = "alpha beta gamma delta epsilon"
      val text = if (i % 2 == 0) base + " spamword junkword scamword" else base
      (i, text, if (i % 2 == 0) 1L else 0L)
    }.toDF("doc_id", "text", "y")
    val w = TrainPrep.logregTrain(docs, "doc_id", "text", "y",
      dim = 64, rounds = 32, lrDiv = 2L)
    assert(w.size == 65)
    val scored = TrainPrep.logregScore(docs, "doc_id", "text", w, dim = 64)
      .join(docs.select(col("doc_id"), col("y")), "doc_id")
      .collect()
    assert(scored.forall(r => r.getAs[Long]("pred") == r.getAs[Long]("y")),
      "separable fixture must classify perfectly")
    // probability face is consistent with the margin face
    assert(scored.forall { r =>
      val p = r.getAs[Long]("p_micro"); val m = r.getAs[Long]("margin_micro")
      (m >= 0) == (p >= 500000L)
    })
    // determinism: retraining yields the identical weight vector
    assert(TrainPrep.logregTrain(docs, "doc_id", "text", "y",
      dim = 64, rounds = 32, lrDiv = 2L) == w)
  }

  test("logreg: the learning step divides TOWARD ZERO on both signs (the DuckDB // contract)") {
    import spark.implicits._
    // one positive doc, one negative doc, a single marker feature each —
    // after one round the gradient signs are opposite; with a huge lrDiv
    // the truncating division must yield EXACTLY zero for both (floor
    // division would yield -1 on the negative side and the weights would
    // drift apart from the oracle replay)
    val docs = Seq((0L, "posmarker", 1L), (1L, "negmarker", 0L))
      .toDF("doc_id", "text", "y")
    val w = TrainPrep.logregTrain(docs, "doc_id", "text", "y",
      dim = 8, rounds = 1, lrDiv = 1000000000L)
    assert(w.forall(_ == 0L),
      s"truncating division must zero every sub-threshold step, got $w")
  }

  test("logreg: training loss decreases across rounds on the planted fixture") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val base = "alpha beta gamma delta epsilon"
      val text = if (i % 2 == 0) base + " spamword junkword scamword" else base
      (i, text, if (i % 2 == 0) 1L else 0L)
    }.toDF("doc_id", "text", "y")
    def loss(rounds: Int): Double = {
      val w = TrainPrep.logregTrain(docs, "doc_id", "text", "y",
        dim = 64, rounds = rounds, lrDiv = 2L)
      TrainPrep.logregScore(docs, "doc_id", "text", w, dim = 64)
        .join(docs.select(col("doc_id"), col("y")), "doc_id")
        .collect().map { r =>
          val p = math.min(math.max(r.getAs[Long]("p_micro") / 1e6, 1e-9), 1 - 1e-9)
          val y = r.getAs[Long]("y")
          -(y * math.log(p) + (1 - y) * math.log(1 - p))
        }.sum
    }
    val l0 = loss(0); val l8 = loss(8); val l32 = loss(32)
    assert(l8 < l0 && l32 < l8, s"loss must fall: $l0 -> $l8 -> $l32")
  }
}
