package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheScope, LocalFastPath}
import graft.functions.GraftFunctions

/** Gap-fill analytics (SURVEY.md §2.7): windows, top-k, sessionization,
  * and skew-aware aggregation. The reference has none of these (row
  * counts via `len()` only); they generalize its per-batch counters and
  * `reported_remaining` reconciliation intent.
  */
object Analytics {

  /** Running balance: partitioned cumulative sum in exact decimal
    * (`sum(amount) over` — the reference stores `reported_remaining` per
    * line precisely so balances can be checked, SURVEY.md §2.7).
    */
  def runningSum(df: DataFrame, partition: Seq[String], order: Seq[Column],
      value: Column, as: String): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, sum(value.cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** Latest record per key — the rank flavor of F3 dedup. */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    Dedup.firstWriterWins(df, keys, order)

  /** Top-k by an ordering, deterministic via unique tie-breakers. */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Gap-based sessionization: a new session starts when the time since
    * the previous event (per key) exceeds `gapMicros`. Exact integer
    * timestamp arithmetic end to end.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("__ts_us", unix_micros(col(tsCol)))
      .withColumn("__prev_us", lag(col("__ts_us"), 1).over(w))
      .withColumn("__new",
        when(col("__prev_us").isNull || col("__ts_us") - col("__prev_us") > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__ts_us", "__prev_us", "__new")
  }

  /** As-of join: attach to each left row the most recent right row with
    * `rightTs <= leftTs` for the same key (time-series enrichment — the
    * operator Spark lacks natively).
    *
    * Implementation is a single co-shuffle: tag and union both sides,
    * sort within key by (ts, tag) — right rows sort BEFORE left rows at
    * equal timestamps, giving `<=` semantics — and carry the last
    * non-null right payload forward with an unbounded-preceding window.
    * One shuffle + one sort, no range cross-join blowup: at 100 TB this
    * is the same cost as any windowed aggregation over the union.
    * The right side must be unique per (key, ts) — pre-aggregate if not.
    *
    * All payload columns are carried as ONE struct per right row, so every
    * `asof_*` column comes from the same matched row and that row's NULL
    * payload values are preserved (a per-column `last(..., ignoreNulls)`
    * would silently substitute an older row's non-null value).
    *
    * `direction`: "backward" (default) matches the most recent right row
    * with `rightTs <= leftTs`; "forward" the earliest right row with
    * `rightTs >= leftTs` — the same single-shuffle union-tag plan, with
    * the within-key sort reversed.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, payloadCols: Seq[String],
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(direction == "backward" || direction == "forward",
      s"asofJoin: direction must be backward|forward, got $direction")
    val lCols = left.columns
    val payloadType = StructType(payloadCols.map(c =>
      StructField(c, right.schema(c).dataType, nullable = true)))
    val tagged = left
      .withColumn("__tag", lit(1))
      .withColumn("__ts", col(leftTs))
      .withColumn("__p", lit(null).cast(payloadType))
      .unionByName(
        right.select(col(rightTs).as("__ts"), col(keyCol).as(keyCol),
            struct(payloadCols.map(col): _*).as("__p"))
          .withColumn("__tag", lit(0)),
        allowMissingColumns = true)
    // right rows sort BEFORE left rows at equal timestamps (tag 0 first in
    // both directions), making the bound inclusive either way
    val order =
      if (direction == "backward") Seq(col("__ts").asc, col("__tag").asc)
      else Seq(col("__ts").desc, col("__tag").asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select((lCols.map(col) ++
        payloadCols.map(c => col(s"__asof.$c").as(s"asof_$c"))): _*)
  }

  /** Range join by binning: all (left, right) pairs with
    * `|leftTs − rightTs| <= toleranceMicros`, WITHOUT a cross join.
    *
    * Left rows land in time bins of `tolerance` width and are exploded
    * to {bin−1, bin, bin+1}; right rows keep their single bin; the join
    * is then a plain hash-shuffle equi-join on the bin plus the exact
    * range filter. Any qualifying pair differs by < tolerance, so the
    * right row's bin is always within ±1 of the left's — candidates are
    * complete, and each pair arises from exactly one (left-bin, right)
    * combination — no dedup needed. Work scales with true match density
    * per bin, not |L|×|R|; a hot bin is a data-skew problem (salt or
    * AQE), not an algorithmic one.
    */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, toleranceMicros: Long): DataFrame = {
    // exact integer floor division (same idiom as intervalOverlapJoin):
    // double-division floor drifts past 2^53 micros
    def floorDiv(a: Column): Column =
      call_function("div", a - pmod(a, lit(toleranceMicros)), lit(toleranceMicros))
    val lb = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__bin", explode(array(
        floorDiv(col("__lus")) - 1,
        floorDiv(col("__lus")),
        floorDiv(col("__lus")) + 1)))
    val rb = right
      .withColumn("__rus", unix_micros(col(rightTs)))
      .withColumn("__bin", floorDiv(col("__rus")))
    lb.join(rb, "__bin")
      .filter(abs(col("__lus") - col("__rus")) <= toleranceMicros)
      .drop("__bin", "__lus", "__rus")
  }

  // Local fast paths (round 18 for components, round 19 for pagerank,
  // k-core and triangles — guide §1.2/§2.4): the iterative loops below
  // cost a fixed 1–6 Spark jobs per round regardless of data size, so an
  // answer-sized edge set — the common case after near-dup verification
  // — pays seconds of pure job scheduling for milliseconds of work. When
  // [[graft.LocalFastPath]] admits the materialized edge set (bounds
  // `CcEdges` and `GraphEdges`), it is collected once and closed by a
  // primitive-array in-process engine that computes the same labels,
  // ranks or counts; above the bound the audited distributed loop runs
  // unchanged. StarCCPropSpec and GraphLocalSpec pin fast == loop.

  /** Sorted distinct node ids of a (u, v) edge array — the shared
    * primitive index the local engines binary-search instead of paying
    * boxed-HashMap lookups per edge per round. */
  private def sortedNodeIds(edges: Array[(Long, Long)]): Array[Long] = {
    val all = new Array[Long](edges.length * 2)
    var i = 0
    while (i < edges.length) {
      all(2 * i) = edges(i)._1; all(2 * i + 1) = edges(i)._2; i += 1
    }
    java.util.Arrays.sort(all)
    var n = 0
    var j = 0
    while (j < all.length) {
      if (n == 0 || all(j) != all(n - 1)) { all(n) = all(j); n += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** A (u, v) edge row for the local engines; a NULL endpoint (only if
    * a caller casts junk) is rejected, so the distributed loop keeps its
    * null-row semantics. */
  private def edgeRow(r: Row): Option[(Long, Long)] =
    if (r.isNullAt(0) || r.isNullAt(1)) None
    else Some((r.getLong(0), r.getLong(1)))

  /** Union-find with union-by-min over a bounded edge list: every root
    * is the smallest id of its component (attach the larger root under
    * the smaller), so `find` yields the same (id, component = min id in
    * component) labeling as the distributed fixpoints. */
  private def unionFindMinLabel(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x): Unit
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size)
    val it = parent.keySet.iterator
    var i = 0
    while (it.hasNext) { val k = it.next(); out(i) = (k, find(k)); i += 1 }
    out
  }

  /** Bounded edge set → (id, component) DataFrame via [[unionFindMinLabel]]. */
  private def localComponentsDf(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        unionFindMinLabel(edges).toSeq
          .map { case (id, c) => org.apache.spark.sql.Row(id, c) },
        1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
  }

  /** Connected components over an undirected edge list by alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): every node's label
    * converges to the smallest node id in its component, the
    * canonical-representative step that turns near-duplicate PAIRS into
    * dedup CLUSTERS. O(log n) rounds with BOUNDED intermediate edge
    * growth, where plain min-label propagation can amplify high-degree
    * neighborhoods.
    *
    *  - large-star(u): every STRICTLY LARGER neighbor of u re-points to
    *    `m(u) = min(Γ(u) ∪ u)`;
    *  - small-star(u): on the (larger → smaller) canonical edges, every
    *    smaller neighbor and u itself re-point to m(u).
    *
    * The input is read ONCE: its distinct canonical (larger, smaller)
    * pairs, self-loops and NULL endpoints included, are checkpointed,
    * and both the contraction's edge set and the final label-every-node
    * aggregate read that checkpoint. Both steps are one groupBy-min + one
    * equi-join — partial-aggregable, no windows. Convergence is exact AND
    * single-job: the old and new canonical edge sets are tagged ±1,
    * unioned, and groupBy-summed — the symmetric difference is empty iff
    * every (u,v) nets to zero. Per-round `localCheckpoint()` truncates
    * lineage: without it the logical plan grows every round and exhausts
    * the driver heap long before the data does.
    *
    * Returns (id BIGINT, component BIGINT) for every node that appears in
    * an edge; a NULL endpoint is its own node labelled NULL. Deterministic
    * at any parallelism (min is order-free). Isolated nodes never enter
    * and callers left-join + coalesce to themselves.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    // `a > b` is NULL on a NULL endpoint, so that row keeps both values
    val larger = col("a") > col("b")
    // lazy: the first job over it (the fast path's size probe, or the
    // loop's first round) fills the blocks, later jobs read them
    val base = raw
      .select(when(larger, col("a")).otherwise(col("b")).as("u"),
        when(larger, col("b")).otherwise(col("a")).as("v"))
      .distinct().localCheckpoint(eager = false)

    // size-adaptive local fast path: union-find over every canonical pair
    // (a self-loop labels its node) is the whole answer; a NULL endpoint
    // sends the edge set to the loop
    LocalFastPath.collect(base, LocalFastPath.CcEdges)(edgeRow).foreach { es =>
      CacheScope.free(base)
      return localComponentsDf(edges.sparkSession, es)
    }

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(cur: DataFrame): DataFrame = {
      // cur is canonical (u > v) after largeStar's (bigger → min) emits
      val canon = cur.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = canon.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    }

    // self-loops and NULL-endpoint rows carry no edge to contract
    var e = base.filter(col("u") =!= col("v"))
    var iter = 0
    var done = e.isEmpty
    while (!done && iter < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // exact convergence, ONE job: both sides are distinct sets, so the
      // symmetric difference is empty iff every (u,v) appears with +1 and
      // −1 — a single union+groupBy probe over the two edge sets
      done = next.withColumn("__side", lit(1))
        .unionByName(e.withColumn("__side", lit(-1)))
        .groupBy(col("u"), col("v")).agg(sum(col("__side")).as("__d"))
        .filter(col("__d") =!= 0).isEmpty
      // the old round's checkpoint is dead once the probe above ran (it
      // was the last reader); free its blocks eagerly (§5). The first
      // round's `e` is a filter over `base`, which free leaves alone.
      CacheScope.free(e)
      e = next
      iter += 1
    }
    // converged edges are stars (node → component root); roots and
    // nodes with only self-loop or NULL-endpoint rows label themselves
    val nodes = base.select(col("u").as("id"))
      .union(base.select(col("v").as("id"))).distinct()
    e.select(col("u").as("id"), col("v").as("component"))
      .union(nodes.select(col("id"), col("id").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
  }

  /** Interval overlap join WITHOUT an equi key: pairs of intervals (in
    * integer micros) that overlap in time. Each interval explodes to the
    * fixed-width bins it spans and pairs join per bin — a hash shuffle on
    * bin ids instead of the O(n²) cross join a raw
    * `a.start <= b.end AND b.start <= a.end` theta predicate plans.
    *
    * Each overlapping pair is emitted exactly ONCE without a distinct
    * pass: a pair is claimed only by the bin containing the overlap's
    * start (`greatest(s1, s2)`), the standard dedup-free binned interval
    * join. Bin width trades fan-out (long intervals explode into
    * `len/width` bins) against per-bin pair density — size it near the
    * typical interval length. All arithmetic is exact int64.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      idL: String, startL: String, endL: String,
      idR: String, startR: String, endR: String,
      binMicros: Long): DataFrame = {
    require(binMicros > 0, "intervalOverlapJoin: binMicros must be positive")
    // exact integer FLOOR division at any magnitude: subtract the
    // nonnegative pmod first, then integer-DIV the exactly-divisible
    // value (truncation == floor once the division is exact).
    // floor(a / b) in doubles loses precision past 2^53 and a bare
    // `DIV` truncates toward zero (wrong bin for pre-epoch times).
    def floorDiv(a: Column): Column =
      call_function("div", a - pmod(a, lit(binMicros)), lit(binMicros))
    def binned(df: DataFrame, id: String, s: String, e: String, side: String) =
      df.select(col(id).as(s"id$side"),
          col(s).cast("long").as(s"s$side"), col(e).cast("long").as(s"e$side"))
        .where(col(s"s$side") <= col(s"e$side"))
        .withColumn("__bin", explode(sequence(
          floorDiv(col(s"s$side")), floorDiv(col(s"e$side")))))
    val l = binned(left, idL, startL, endL, "1")
    val r = binned(right, idR, startR, endR, "2")
    l.join(r, Seq("__bin"))
      .filter(col("s1") <= col("e2") && col("s2") <= col("e1"))
      // claim each pair in exactly one bin: the one holding overlap start
      .filter(col("__bin") === floorDiv(greatest(col("s1"), col("s2"))))
      .select(col("id1"), col("id2"),
        (least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
          .as("overlap_micros"))
  }

  /** SCD2 (type-2 slowly changing dimension) history build from a change
    * log: per key ordered by (orderCol, tieCol), collapse consecutive
    * rows with identical tracked attributes, then derive
    * `[valid_from, valid_to)` with `valid_to = next version's valid_from`
    * (NULL = current). Two window passes over ONE shuffle on the key —
    * Spark reuses the (key, order) sort for both lag and lead.
    *
    * Attribute comparison is null-safe (`<=>` over a struct), so NULL
    * attribute values neither open spurious versions nor crash ANSI mode.
    */
  def scd2(df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
      attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    val attrs = struct(attrCols.map(col): _*)
    val changed = df
      .withColumn("__prev", lag(attrs, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrs))
    val w2 = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
    changed
      .withColumn("valid_from", col(orderCol))
      .withColumn("valid_to", lead(col(orderCol), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__prev")
  }

  /** Time-series gap fill: expand each key's daily series to EVERY day
    * between its first and last observation, then forward-fill values
    * from the most recent observed day. Input must be one row per
    * (key, day).
    *
    * The calendar explode is per-key `sequence()` (narrow after one
    * groupBy for the min/max bounds); the fill is
    * `last(value, ignoreNulls)` over the per-key day order — one shuffle
    * on the key, state bounded by the key's span. Filled values are
    * exact copies, so determinism is inherited from the input.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, dayCol: String,
      valCol: String): DataFrame = {
    val bounds = df.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("__d0"), max(col(dayCol)).as("__d1"))
    val calendar = bounds.select(col(keyCol),
      explode(sequence(col("__d0"), col("__d1"))).as(dayCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(df, Seq(keyCol, dayCol), "left")
      .withColumn("was_gap", col(valCol).isNull)
      .withColumn(valCol, last(col(valCol), ignoreNulls = true).over(w))
  }

  /** Incremental connected components (round 12 — the batch-update half
    * of the dedup-cluster lifecycle: q161 admits documents against a
    * persisted LSH ledger, THIS updates the cluster assignment when the
    * day's near-dup edges land, without re-touching the historical edge
    * set). A previous (id, component) assignment is connectivity-
    * equivalent to its STAR EDGES (id → component), so running CC over
    * (star edges ∪ new edges) returns exactly the assignment a full
    * recompute over (all old edges ∪ new edges) would — merged
    * components take the global min-id label, untouched components keep
    * theirs, and the cost scales with |assignment| + |batch| instead of
    * the lifetime edge count. The q202 oracle IS the full recompute, so
    * the equivalence is hash-checked, not asserted.
    */
  def incrementalComponents(assignment: DataFrame, idCol: String,
      compCol: String, newEdges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val star = assignment.select(col(idCol).cast("long").as("u"),
      col(compCol).cast("long").as("v"))
    val delta = newEdges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    connectedComponents(star.unionByName(delta), "u", "v")
  }

  /** PageRank over an undirected graph (symmetrized edge list), EXACT
    * integer arithmetic end to end: ranks are integers at `scale`
    * (initial rank = scale), and each round computes
    * `rank'(v) = (15·scale) DIV 100 + (85 · Σ_{u~v} (rank(u) DIV deg(u))) DIV 100`.
    * Integer DIV makes every round's result independent of accumulation
    * order — bit-identical at any parallelism and reproducible by a SQL
    * oracle (floating-point PageRank is not: the Σ over neighbors would
    * depend on shuffle order).
    *
    * Scale shape per round: one hash-shuffle equi-join (degree-annotated
    * edges ⋈ ranks on the source node) + one partial-aggregable SUM by
    * destination — the standard distributed power-iteration layout. The
    * degree-annotated symmetric edge list is materialized ONCE
    * (`localCheckpoint`) and reused every round; per-round checkpoints
    * truncate lineage (same driver-heap reasoning as
    * [[connectedComponents]]). Symmetry means every node has deg ≥ 1 and
    * an incoming edge, so there are no dangling-mass corrections.
    * Self-loops are dropped. Overflow headroom: node ranks stay O(scale),
    * so Σ over a node's neighbors is < |V|·scale — keep |V|·scale·85
    * under 2^63 (10^9 scale supports ~10^8 nodes).
    *
    * The per-round join strategy is SIZE-AWARE: the |V|-row rank table is
    * broadcast only when its estimated bytes fit
    * `spark.sql.autoBroadcastJoinThreshold` (an unconditional broadcast
    * would ship a multi-GB table to every executor per round at
    * |V| ≈ 10⁷–10⁸ and hit the 8 GB broadcast cap / driver OOM). Past the
    * threshold the rank side shuffle-joins instead: the checkpointed edge
    * state is already hash-partitioned by `u`, so only the small rank
    * side moves — the edge list never re-shuffles either way.
    * `broadcastRanks` overrides the auto decision for callers that know
    * their graph.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, scale: Long = 1000000000L,
      broadcastRanks: Option[Boolean] = None): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    // ONE shuffle builds the whole reusable state: hash-partition the
    // symmetrized list by u, then dedup, per-u degree (window count), and
    // the initial ranks all run exchange-free on that layout
    // (HashPartitioning(u) satisfies every later (u…) clustering), and
    // `localCheckpoint` preserves the partitioning — so the per-round join
    // moves only the |V|-row ranks side (broadcast when small, shuffled
    // when not), never the edge list. Deriving deg/ranks from the
    // checkpoint also means the symmetrize+dedup pipeline runs exactly
    // once (a deg-from-source formulation re-ran it per round — measured
    // ~2× the fixed cost).
    val ed = pageRankEdgeState(e0)
    val base = 15L * scale / 100L
    // size-adaptive LOCAL fast path (round 19 — the CC fast path's §1.2/
    // §2.4 cure extended to power iteration: each distributed round is a
    // join + aggregate + eager checkpoint = 2-3 fixed jobs regardless of
    // data size). All round arithmetic is integer (rank DIV deg,
    // (85·Σ) DIV 100), so the local replay is bit-identical to the
    // distributed fixpoint at any edge order; the count runs against the
    // already-checkpointed edge state, and above the threshold the
    // audited loop below runs unchanged — at 100 TB the edge state never
    // collects. GraphLocalSpec pins fast == loop.
    LocalFastPath.collect(ed, LocalFastPath.GraphEdges) { r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) None
      else Some((r.getLong(0), r.getLong(1), r.getLong(2)))
    }.foreach { es =>
      CacheScope.free(ed)
      return localPageRankDf(edges.sparkSession, es, iters, scale, base)
    }
    var ranks = ed.select(col("u").as("node")).distinct()
      .withColumn("rank", lit(scale))
    val doBroadcast = broadcastRanks.getOrElse {
      // ~32 bytes per (node, rank) entry in a broadcast hash relation;
      // a disabled threshold (-1) disables broadcasting too. The count is
      // one cheap job over the checkpointed edge state.
      val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      thr > 0 && ranks.count() * 32L <= thr
    }
    (1 to iters).foreach { _ =>
      // EAGER per-round checkpoint (was lazy): a lazy chain defers every
      // round to the caller's first action and keeps ALL `iters` rounds'
      // blocks pinned until the ContextCleaner gets around to them — at
      // |V| ≈ 10⁸ that is iters × a full rank table held in storage
      // memory (§5). Eager + free-previous keeps at most two rounds
      // alive; the work per round is identical (the rounds were always
      // computed exactly once).
      val next = pageRankRound(ed, ranks, base, doBroadcast).localCheckpoint()
      CacheScope.free(ranks) // no-op on the initial lazy rank table
      ranks = next
    }
    // once at least one round materialized, the returned ranks are pure
    // checkpoint blocks — the degree-annotated edge state has no reader
    // left; release its blocks before handing back ranks (at iters = 0
    // the initial rank table still reads `ed`, so it stays pinned)
    if (iters >= 1) CacheScope.free(ed)
    ranks
  }

  /** Bounded-edge local power iteration — the exact integer recurrence
    * of [[pageRankRound]] ((15·scale) DIV 100 + (85·Σ rank DIV deg) DIV
    * 100, all Long), so results match the distributed rounds bitwise:
    * integer DIV and Long addition are order-free. Node set follows the
    * distributed contract exactly: iters = 0 returns every distinct
    * source at `scale`; each round's output holds every DESTINATION
    * (= every node, the list is symmetric). */
  private def localPageRankDf(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long, Long)], iters: Int, scale: Long,
      base: Long): DataFrame = {
    // primitive-index layout: the symmetric list's sources ARE the node
    // set, and every node also appears as a destination, so one sorted
    // distinct array serves both sides
    val ids = {
      val us = edges.map(_._1)
      java.util.Arrays.sort(us)
      var n = 0; var j = 0
      while (j < us.length) {
        if (n == 0 || us(j) != us(n - 1)) { us(n) = us(j); n += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(us, n)
    }
    val m = edges.length
    val src = new Array[Int](m); val dst = new Array[Int](m)
    val deg = new Array[Long](m)
    var i = 0
    while (i < m) {
      src(i) = java.util.Arrays.binarySearch(ids, edges(i)._1)
      dst(i) = java.util.Arrays.binarySearch(ids, edges(i)._2)
      deg(i) = edges(i)._3
      i += 1
    }
    var rank = Array.fill[Long](ids.length)(scale)
    var r = 0
    while (r < iters) {
      val acc = new Array[Long](ids.length)
      var e = 0
      while (e < m) { acc(dst(e)) += rank(src(e)) / deg(e); e += 1 }
      var v = 0
      while (v < ids.length) { acc(v) = base + (85L * acc(v)) / 100L; v += 1 }
      rank = acc
      r += 1
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.indices.map(v => org.apache.spark.sql.Row(ids(v), rank(v))), 1),
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }

  /** The reusable per-round state: symmetrized, deduped, degree-annotated
    * edge list, hash-partitioned by `u` and checkpointed once (see
    * [[pageRank]] scaladoc). Package-private for PlanAuditSpec.
    */
  private[graft] def pageRankEdgeState(e0: DataFrame): DataFrame =
    e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .repartition(col("u"))
      .dropDuplicates("u", "v")
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("u"))))
      .localCheckpoint()

  /** One power-iteration round — exposed (package-private) so
    * PlanAuditSpec can assert the join strategy on the UN-checkpointed
    * plan: `doBroadcast = false` must plan no BroadcastExchange on the
    * rank side (the localCheckpoint in [[pageRank]] hides the join from
    * `queryExecution`, so the audit hooks in here).
    */
  private[graft] def pageRankRound(ed: DataFrame, ranks: DataFrame,
      base: Long, doBroadcast: Boolean): DataFrame = {
    val rside = if (doBroadcast) broadcast(ranks) else ranks
    ed.join(rside, ed("u") === ranks("node"))
      .select(ed("v").as("v"), expr("rank DIV deg").as("__c"))
      .groupBy(col("v"))
      .agg(sum(col("__c")).as("__s"))
      .select(col("v").as("node"),
        (lit(base) + expr("(85 * __s) DIV 100")).as("rank"))
  }

  /** Snapshot diff: row-level reconciliation of two versions of a keyed
    * table — every key classified `added` (v2 only), `removed` (v1 only),
    * `changed` (both, compared columns differ), or `unchanged`. The
    * drill-down companion to group fingerprinting (q86): fingerprints say
    * WHICH partition drifted, this says WHICH rows and HOW. One full
    * outer hash join on the key; the comparison is a null-safe struct
    * equality (`<=>`), so NULL attribute values diff correctly. Keys must
    * be unique per side (pre-aggregate if not).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    val a = v1.select((keyCols.map(col) :+
      struct(compareCols.map(col): _*).as("__a")): _*)
    val b = v2.select((keyCols.map(col) :+
      struct(compareCols.map(col): _*).as("__b")): _*)
    a.join(b, keyCols, "full_outer")
      .withColumn("diff_status",
        when(col("__b").isNull, lit("removed"))
          .when(col("__a").isNull, lit("added"))
          .when(col("__a") <=> col("__b"), lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("__a", "__b")
  }

  /** Skew-aware aggregation: two-phase salted hash aggregate.
    *
    * A hot key at 100 TB puts one reducer partition orders of magnitude
    * above the rest; salting splits each key into `saltBuckets` partial
    * groups (deterministic salt from a payload hash — no rand(), results
    * stay reproducible), aggregates partially, then merges. Only
    * decomposable aggregates belong here (sum/count/min/max); Spark's
    * partial aggregation handles mild skew already — this is for the
    * pathological tail, alongside AQE's skew-join splitting.
    */
  /** Join-key skew report (round 12 — the pre-flight diagnostic for a
    * 100 TB shuffle: BEFORE keying a join or window on a column, ask
    * how concentrated it is; `saltedSum`, AQE skew-split and the
    * banding operators are the mitigations this report tells you to
    * reach for). For the top `k` heaviest keys: count, corpus share in
    * exact micros, plus the global row/key counts and the key-
    * distribution Shannon entropy — each key's entropy term is
    * micro-quantized independently (the q134 one-ln-per-term contract)
    * and integer-summed, so the report is engine-exact. Shape: one
    * partial-aggregating groupBy, a 1-row broadcast for the totals, a
    * bounded top-k sort — the corpus never reshuffles.
    */
  def skewReport(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"skewReport: k must be >= 1, got $k")
    graft.CacheScope.scoped { cs =>
      // string key: the report works for ANY key type (domains are the
      // most common 100 TB skew culprit, and they are strings)
      val counts = cs.cache(
        df.select(col(keyCol).cast("string").as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("cnt")))
      val termMicro = round(
        log(col("n_rows").cast("double") / col("cnt").cast("double"))
          * (col("cnt").cast("double") / col("n_rows").cast("double"))
          * lit(1000000.0)).cast("long")
      val totals = counts.agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      val enriched = counts.crossJoin(broadcast(totals))
      val entropy = enriched
        .agg(sum(termMicro).as("entropy_micro"))
      enriched.crossJoin(broadcast(entropy))
        .orderBy(col("cnt").desc, col("key"))
        .limit(k)
        .select(col("key"), col("cnt"),
          round(col("cnt").cast("double") / col("n_rows").cast("double")
            * lit(1000000.0)).cast("long").as("share_micro"),
          col("n_rows"), col("n_keys").cast("long").as("n_keys"),
          col("entropy_micro"))
        .orderBy(col("cnt").desc, col("key"))
    }
  }

  def saltedSum(df: DataFrame, keys: Seq[String], value: Column, as: String,
      saltFrom: Column, saltBuckets: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(hash(saltFrom), lit(saltBuckets)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(value.cast("decimal(18,2)")).as("__psum"), count(lit(1)).as("__pn"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).cast("double").as(as), sum(col("__pn")).as(s"${as}_n"))
  }

  /** One skyline sweep within each group of `partCols`: keeps rows not
    * dominated by another row OF THE SAME GROUP. Dominance (maximize
    * both): (x', y') dominates (x, y) iff x' ≥ x, y' ≥ y and at least one
    * is strict. Two window probes on the x-descending order decide it —
    * `max(y)` over rows with strictly larger x (RANGE … 1 PRECEDING on
    * integer x), and `max(y)` among equal-x rows — so a group is ONE
    * sort, no self-join.
    */
  private def skylineSweep(df: DataFrame, xCol: String, yCol: String,
      partCols: Seq[Column]): DataFrame = {
    val wRange = Window.partitionBy(partCols: _*).orderBy(col(xCol).desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy(partCols :+ col(xCol): _*)
    df.withColumn("__hi", max(col(yCol)).over(wRange))
      .withColumn("__tie", max(col(yCol)).over(wTie))
      .filter((col("__hi").isNull || col("__hi") < col(yCol)) &&
        col("__tie") <= col(yCol))
      .drop("__hi", "__tie")
  }

  /** Global skyline sweep WITHOUT a partitionless window — the
    * stableRowIds trick applied to a running max instead of a running
    * count: `repartitionByRange` on x DESC gives contiguous x ranges
    * (equal x always co-located — range partitioning is key-
    * deterministic), one tiny job collects each partition's max(y)
    * (≤ one row per partition) and prefix-maxes them on the driver, and
    * the sweep windows partition BY RANGE-PARTITION ID — every window
    * group is one bounded range partition. A row's "max y at strictly
    * larger x" is then greatest(within-partition running max, broadcast
    * prefix max of all earlier — strictly-larger-x — partitions). The
    * range-sorted base is pinned for a [[graft.CacheScope]] (feeds the
    * max job AND the sweep) and released before returning.
    */
  private def globalSkylineSweep(df: DataFrame, xCol: String,
      yCol: String): DataFrame = graft.CacheScope.scoped { cs =>
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = df.sparkSession
    val ranged = cs.cache(df.repartitionByRange(col(xCol).desc))
    val maxes = ranged.groupBy(spark_partition_id().as("__pid"))
      .agg(max(col(yCol)).as("__m"))
      .collect().map(r => r.getInt(0) -> r.get(1)).sortBy(_._1)
    // __pref(p) = max __m over pids < p (null = no earlier non-null y);
    // within one column all values share a runtime type, all Comparable
    var acc: Any = null
    val prefRows = maxes.map { case (pid, m) =>
      val row = Row(pid, acc)
      if (m != null && (acc == null ||
          m.asInstanceOf[Comparable[Any]].compareTo(acc) > 0)) acc = m
      row
    }
    val prefDf = spark.createDataFrame(
      spark.sparkContext.parallelize(prefRows.toIndexedSeq, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__pref", ranged.schema(yCol).dataType, nullable = true))))
    val wRange = Window.partitionBy(col("__pid")).orderBy(col(xCol).desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy(col("__pid"), col(xCol))
    ranged.withColumn("__pid", spark_partition_id())
      .join(broadcast(prefDf), Seq("__pid"), "left")
      .withColumn("__hi", greatest(max(col(yCol)).over(wRange), col("__pref")))
      .withColumn("__tie", max(col(yCol)).over(wTie))
      .filter((col("__hi").isNull || col("__hi") < col(yCol)) &&
        col("__tie") <= col(yCol))
      .drop("__pid", "__pref", "__hi", "__tie")
  }

  /** 2-D Pareto frontier (skyline), both dimensions maximized, over
    * integer-valued columns (exact decimal/long inputs — the RANGE frame
    * needs a numeric order and exact ties).
    *
    * Scale shape: a naive skyline is a global sort into ONE task. Classic
    * two-phase layout instead: a LOCAL sweep per existing partition first
    * (any point dominated within its partition is not on the global
    * frontier — dominance is transitive, so discarding it is safe), then
    * the global sweep over the survivors — and that sweep is itself
    * distributed (`globalSkylineSweep`: range partitions + broadcast
    * prefix maxima, never a partitionless window), so even the degenerate
    * input that IS one giant frontier stays multi-task. Local frontiers
    * of random data are ~O(log n) points, so the global pass typically
    * sees partitions × log(n) rows, not n. The global phase persists its
    * range-sorted base — callers own the cache lifecycle (same contract
    * as triangleCount).
    */
  def paretoFrontier(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val local = skylineSweep(df.withColumn("__p", spark_partition_id()),
      xCol, yCol, Seq(col("__p"))).drop("__p")
    globalSkylineSweep(local, xCol, yCol)
  }

  /** Exact global triangle count (+ vertex/edge counts) of an undirected
    * graph given as an edge list (either direction, duplicates/self-loops
    * tolerated). One row: (n_vertices, n_edges, n_triangles).
    *
    * DEGREE-ORDERED orientation + EDGE-ITERATOR counting: every
    * undirected edge {a,b} is oriented from its lower-rank endpoint to
    * its higher-rank endpoint, where rank(x) = (degree(x), x); a
    * triangle {a,b,c} with rank a < b < c is then counted exactly once,
    * at its lowest edge, as c ∈ N⁺(a) ∩ N⁺(b). The count is
    *
    *   Σ over oriented edges (a→b) of |N⁺(a) ∩ N⁺(b)|
    *
    * with the out-neighbour lists collected ONCE as sorted arrays and
    * the per-edge intersection evaluated by the native codegen
    * two-pointer `graft_sorted_intersect_size` — the wedge stream
    * (O(m^1.5) rows under this orientation, 49M at sf0.1) is never
    * materialized or shuffled; the two hash joins ship each edge its
    * endpoints' adjacency arrays (Σ_e deg⁺(a)+deg⁺(b) ≤ O(m^1.5)
    * ARRAY CELLS, but only m ROWS — q104 median-of-3 at sf0.1: 11.9 s
    * vs 13.9 s for the wedge-join form; the query's floor is the
    * co-purchase edge-list build itself). Degree
    * orientation caps deg⁺ at O(√m) REGARDLESS of hubs — a star center
    * whose id-ordered wedge count is C(deg, 2) has every edge pointing
    * INTO it here, so its adjacency list is empty.
    *
    * Caching: BOTH the canonical edge list AND the out-adjacency table
    * are pinned for the duration of a [[graft.CacheScope]] — the 1-row
    * result is materialized eagerly and the pins are released before
    * returning, so no cache entry outlives the call.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    graft.CacheScope.scoped { cs =>
      GraftFunctions.register(edges.sparkSession)
      val e = cs.cache(canonicalEdges(edges, srcCol, dstCol))
      // size-adaptive LOCAL fast path (round 19 — same contract as the
      // CC/pagerank/k-core fast paths): the count runs against the
      // pinned canonical edges; the local orientation + sorted-adjacency
      // intersection is the exact distributed computation (degree
      // orientation and intersection counts are order-free), and above
      // the threshold the audited join plan runs unchanged.
      // GraphLocalSpec pins fast == join plan.
      LocalFastPath.collect(e, LocalFastPath.GraphEdges)(edgeRow).foreach {
        es => return localTriangleDf(edges.sparkSession, es)
      }
      // one |V|-row degree table serves the orientation joins AND the
      // vertex count (the former separate union+distinct was a second
      // full-edge shuffle for a number the degrees already knew)
      val deg = cs.cache(vertexDegrees(e))
      val o = orientByDegree(e, deg)
      // sorted out-adjacency per apex (deg⁺ ≤ O(√m) under degree order)
      val adj = cs.cache(
        o.groupBy(col("a")).agg(sort_array(collect_list(col("b"))).as("nbrs")))
      val nTri = o.select(col("a"), col("b"))
        .join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
        .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
        .select(call_function(GraftFunctions.SortedIntersectName,
          col("na"), col("nb")).as("c"))
        // coalesce: SUM over an edgeless graph is NULL, the count is 0
        .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("n_triangles"))
      val nE = e.agg(count(lit(1)).as("n_edges"))
      val nV = deg.agg(count(lit(1)).as("n_vertices"))
      nV.crossJoin(nE).crossJoin(nTri) // three 1-row inputs
    }

  /** Bounded-edge local triangle count — the exact distributed
    * computation: degree-orient each canonical edge ((deg, id)-lower
    * endpoint becomes the apex), sum |out-adj(a) ∩ out-adj(b)| over
    * oriented edges (a, b). Every count is order-free, so the single
    * (n_vertices, n_edges, n_triangles) row matches the join plan
    * bitwise. */
  private def localTriangleDf(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val ids = sortedNodeIds(edges)
    val n = ids.length
    val m = edges.length
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) {
      eu(i) = java.util.Arrays.binarySearch(ids, edges(i)._1)
      ev(i) = java.util.Arrays.binarySearch(ids, edges(i)._2)
      deg(eu(i)) += 1L; deg(ev(i)) += 1L
      i += 1
    }
    // orient each edge from its (deg, id)-lower endpoint, build a sorted
    // out-adjacency CSR (out-degree ≤ O(√m) under degree order)
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    val outDeg = new Array[Int](n)
    i = 0
    while (i < m) {
      val u = eu(i); val v = ev(i)
      val uLower = deg(u) < deg(v) ||
        (deg(u) == deg(v) && ids(u) < ids(v))
      val a = if (uLower) u else v
      ea(i) = a; eb(i) = if (uLower) v else u
      outDeg(a) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](m)
    i = 0
    while (i < m) { nbr(fill(ea(i))) = eb(i); fill(ea(i)) += 1; i += 1 }
    i = 0
    while (i < n) { java.util.Arrays.sort(nbr, off(i), off(i + 1)); i += 1 }
    // per-oriented-edge two-pointer intersect; Long sum is order-free so
    // the parallel reduction is deterministic
    val tri = java.util.stream.IntStream.range(0, m).parallel()
      .mapToLong { e =>
        var p = off(ea(e)); var q = off(eb(e)); var c = 0L
        val pe = off(ea(e) + 1); val qe = off(eb(e) + 1)
        while (p < pe && q < qe) {
          if (nbr(p) < nbr(q)) p += 1
          else if (nbr(p) > nbr(q)) q += 1
          else { c += 1L; p += 1; q += 1 }
        }
        c
      }.sum()
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        n.toLong, m.toLong, tri)), 1),
      StructType(Seq(StructField("n_vertices", LongType, nullable = false),
        StructField("n_edges", LongType, nullable = false),
        StructField("n_triangles", LongType, nullable = false))))
  }

  /** De-duplicated undirected edge list canonicalized to u < v (reversed
    * duplicates collapse, self-loops drop). */
  private[graft] def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    edges.select(least(s, d).as("u"), greatest(s, d).as("v"))
      .filter(col("u") < col("v")).distinct()
  }

  /** (id, deg) for every endpoint of the canonical edge list. */
  private[graft] def vertexDegrees(e: DataFrame): DataFrame =
    e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Orient each canonical edge from its (degree, id)-lower endpoint `a`
    * to its higher endpoint `b`. */
  private[graft] def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("a"),
        when(uLower, col("v")).otherwise(col("u")).as("b"))
  }

  /** Equi-depth (quantile) binning: split rows into `nBins` buckets of
    * near-equal COUNT by `valueCol` order (ties broken by `tieCol` for a
    * total order, so the split is deterministic at any parallelism) and
    * report each bin's boundaries and population — the quantile-bucket
    * profile used for stratified training mixes and skew diagnosis,
    * where the equi-WIDTH histogram (q53) under-resolves heavy tails.
    * The split follows the SQL-standard `ntile` floor rule (first
    * `n mod nBins` bins get the extra row), matching every warehouse
    * engine — the q112 oracle IS DuckDB's ntile.
    *
    * Scale shape: NOT a window. `ntile` with no partitionBy would plan a
    * partitionless WindowExec — ONE task sorting and holding the entire
    * input (an OOM at 100 TB, not a slowdown). Instead this rides
    * `TrainPrep.stableRowIds` (range partitions + broadcast prefix
    * offsets — Spark's own distributed sort machinery, every partition
    * bounded) and reproduces ntile arithmetically from the dense 0-based
    * `row_id`: with q = n/nBins and rem = n mod nBins, bins 1..rem hold
    * q+1 rows and the rest hold q, so
    *
    *   bin = row_id < rem·(q+1) ? row_id div (q+1)
    *                            : rem + (row_id − rem·(q+1)) div q    (+1)
    *
    * n comes from stableRowIds' own per-partition count job (no second
    * pass); stableRowIds closes its own cache scope (eager result,
    * pin released — see [[graft.CacheScope]]).
    * Output: (bin, n_rows, lo, hi).
    */
  def equiDepthBins(df: DataFrame, valueCol: String, tieCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"equiDepthBins: nBins must be >= 1, got $nBins")
    val (ids, n) = TrainPrep.stableRowIdsWithCount(
      df.select(col(valueCol), col(tieCol)), Seq(valueCol, tieCol))
    val q = n / nBins
    val rem = n % nBins
    val cut = rem * (q + 1) // rows below `cut` fall in the q+1-sized bins
    val bin =
      if (q == 0L) col("row_id") + lit(1L) // n < nBins: one row per bin
      else when(col("row_id") < cut, expr(s"row_id div ${q + 1}L"))
        .otherwise(lit(rem) + expr(s"(row_id - ${cut}L) div ${q}L"))
        .plus(lit(1L))
    ids.withColumn("__bin", bin.cast("int"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Bounded-window exponentially-weighted moving average with α = 1/2 —
    * time-series smoothing (anomaly baselines, trend dashboards) that
    * stays EXACT until one final division. The usual EWMA recurrence
    * (s_i = αx_i + (1−α)s_{i−1}) is order-serial and float-accumulating;
    * restated over the trailing `window` rows with power-of-two weights:
    *
    *   scaled_i = Σ_{o=0..n−1} x_{i−o} · 2^(window−1−o)   (exact DECIMAL)
    *   ewma_i   = scaled_i / (2^(window−n) · (2^n − 1))   (one division)
    *
    * where n = min(window, i) is the ramp-up count; the denominator
    * normalizes the geometric weights to sum to 1, making ewma a true
    * weighted average. All weights are integer powers of two, so both
    * the engine and a SQL oracle compute bit-identical values at any
    * parallelism.
    *
    * Scale shape: q88/q103's bounded-explode pattern — each row
    * contributes to ≤ `window` downstream windows (constant fan-out, one
    * hash aggregate, partial map-side), then one join back to the base
    * rows; never a per-key sorted state machine. `orderCol` must be
    * unique within each key group (pre-aggregate first), or row_number
    * ties make results partition-dependent. `window` ≤ 30 keeps every
    * weight in DECIMAL(10,0). `valueCol` must be INTEGER-VALUED
    * (integral or scale-0 decimal, enforced) — the exact-until-one-
    * division contract works in whole units; quantize fractional inputs
    * first (cents, the q109 pattern). The row-numbered base is pinned
    * for a [[graft.CacheScope]] (it feeds the weighted-contrib explode
    * AND the final join back) and released before returning.
    *
    * Output: keyCols + orderCol + `valueCol` + `n_window` + `ewma`.
    */
  def ewmaHalving(df: DataFrame, keyCols: Seq[String], orderCol: String,
      valueCol: String, window: Int): DataFrame = graft.CacheScope.scoped { cs =>
    require(window >= 1 && window <= 30,
      s"ewmaHalving: need 1 <= window <= 30, got $window")
    val vt = df.schema(valueCol).dataType
    val integral = vt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => false
    }
    require(integral,
      s"ewmaHalving: valueCol '$valueCol' must be integer-valued (got $vt) — " +
        "the decimal(18,0) weighting would silently round fractional inputs; " +
        "quantize first (e.g. cents)")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(orderCol))
    // pinned: the row-numbered base feeds both the weighted-contrib
    // explode and the final join back
    val base = cs.cache(df.withColumn("__rn", row_number().over(w)))
    val contrib = base
      .select(keys ++ Seq(col("__rn"), col(valueCol).as("__x")): _*)
      .withColumn("__o", explode(sequence(lit(0), lit(window - 1))))
      .select(keys ++ Seq(
        (col("__rn") + col("__o")).as("__t"),
        (col("__x").cast("decimal(18,0)") *
          expr(s"cast(shiftleft(1L, ${window - 1} - __o) as decimal(10,0))"))
          .as("__wx")): _*)
    val agg = contrib.groupBy(keys :+ col("__t"): _*)
      .agg(sum(col("__wx")).cast("decimal(38,0)").as("__s"),
        count(lit(1)).as("__n"))
      .withColumn("__den",
        expr(s"shiftleft(1L, cast($window - __n as int))") *
          (expr("shiftleft(1L, cast(__n as int))") - lit(1L)))
    // base and agg share lineage — alias both sides so the self-join
    // resolves unambiguously
    base.alias("__b").join(agg.alias("__g"),
        keyCols.map(k => col(s"__b.$k") <=> col(s"__g.$k")).reduce(_ && _) &&
          col("__b.__rn") === col("__g.__t"))
      .select((keyCols.map(k => col(s"__b.$k")) ++ Seq(
        col(s"__b.$orderCol"), col(s"__b.$valueCol"),
        col("__g.__n").as("n_window"),
        (col("__g.__s").cast("double") / col("__g.__den").cast("double"))
          .as("ewma"))): _*)
  }

  /** k-core decomposition: the maximal subgraph in which every vertex
    * has degree ≥ k — the standard graph-density filter between raw
    * near-dup edges and clustering (a k-core survives noise edges that
    * connected components happily swallow). Classic iterative peel:
    * drop vertices with degree < k, drop edges touching them, repeat to
    * the (unique, order-independent) fixpoint.
    *
    * Scale shape: each round is one degree aggregation + two LEFT SEMI
    * joins of the edge list against the surviving vertex set — all hash
    * shuffles on vertex ids; `localCheckpoint` truncates lineage per
    * round (the q61/q77 CC playbook). Rounds ≤ peel depth, which is
    * O(max degeneracy ordering length) and in practice a handful; the
    * fixpoint probe is the same one-row count CC uses. Output:
    * (id, core_deg) for every vertex in the k-core.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    var e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
    // size-adaptive LOCAL fast path (round 19 — the CC cure for peel
    // loops: each distributed round is an aggregate + checkpoint + count
    // + two semi-joins = 3 fixed jobs regardless of data size). The
    // k-core fixpoint is unique and order-independent, so the local peel
    // is label-identical; the count runs against the already-checkpointed
    // canonical edges, and above the threshold the audited loop runs
    // unchanged. GraphLocalSpec pins fast == loop.
    LocalFastPath.collect(e, LocalFastPath.GraphEdges)(edgeRow).foreach { es =>
      CacheScope.free(e)
      return localKCoreDf(edges.sparkSession, es, k)
    }
    var prev = -1L
    var done = false
    while (!done) {
      val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id").localCheckpoint()
      val cnt = keep.count()
      // keep sets shrink monotonically, so equal COUNT ⇒ equal SET ⇒
      // every surviving vertex already has deg ≥ k: fixpoint, and `e`
      // is already pruned to it
      if (cnt == prev) done = true
      else {
        prev = cnt
        val pruned = e
          .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
          .localCheckpoint()
        // the pre-peel edge set is dead once the pruned one materialized
        CacheScope.free(e)
        e = pruned
        if (cnt == 0) done = true // pruned to empty — nothing left to peel
      }
      // keep's last reader was the semi-join feeding the (now eager)
      // pruned checkpoint — release this round's survivor set either way
      CacheScope.free(keep)
    }
    e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
  }

  /** Bounded-edge local k-core peel — the exact round structure of the
    * distributed loop (degree ≥ k survivors, prune edges to survivors,
    * stop when the survivor COUNT repeats or hits zero), which reaches
    * the same unique fixpoint; output is the surviving edges' endpoint
    * degree table, identical to the loop's final aggregate. */
  private def localKCoreDf(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)], k: Int): DataFrame = {
    val ids = sortedNodeIds(edges)
    val m = edges.length
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    var i = 0
    while (i < m) {
      eu(i) = java.util.Arrays.binarySearch(ids, edges(i)._1)
      ev(i) = java.util.Arrays.binarySearch(ids, edges(i)._2)
      i += 1
    }
    val alive = Array.fill[Boolean](m)(true)
    var prev = -1L
    var done = false
    while (!done) {
      val deg = new Array[Long](ids.length)
      var e = 0
      while (e < m) {
        if (alive(e)) { deg(eu(e)) += 1L; deg(ev(e)) += 1L }
        e += 1
      }
      val keep = new Array[Boolean](ids.length)
      var cnt = 0L
      var v = 0
      while (v < ids.length) {
        if (deg(v) >= k) { keep(v) = true; cnt += 1L }
        v += 1
      }
      if (cnt == prev) done = true
      else {
        prev = cnt
        e = 0
        while (e < m) {
          if (alive(e) && (!keep(eu(e)) || !keep(ev(e)))) alive(e) = false
          e += 1
        }
        if (cnt == 0) done = true
      }
    }
    val core = new Array[Long](ids.length)
    var e = 0
    while (e < m) {
      if (alive(e)) { core(eu(e)) += 1L; core(ev(e)) += 1L }
      e += 1
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.indices.collect { case v if core(v) > 0L =>
          org.apache.spark.sql.Row(ids(v), core(v)) }, 1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("core_deg", LongType, nullable = false))))
  }
}
