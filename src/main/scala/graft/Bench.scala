package graft

import scala.collection.mutable

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Materializes every registered query through the `noop` sink so the
  * full plan executes (a bare `count()` lets Catalyst prune projections
  * and skip most of the work — that would be benchmarking the optimizer's
  * ability to delete the query, not run it).
  *
  * REP PROTOCOL (round 6): each query runs `SPARK_GRAFT_REPS` times
  * (default 3) and the headline `queries` map reports the per-query
  * MEDIAN; the raw per-rep timings ship in the detail file under `reps`.
  * One rep on a shared box is not a measurement — round 5's driver run
  * showed 8–27× contention artifacts (q60: 65 s driver vs 2.4 s isolated,
  * same build). Medians over ≥3 reps make round-over-round comparison
  * meaningful; see BASELINE.md "How to compare rounds".
  *
  * SURVIVABILITY (round 7): the round-6 driver artifact was rc=124 /
  * parsed=null — the 3-rep suite outran the driver's time budget and the
  * old Bench emitted its JSON only at the end, so the kill erased every
  * measurement. Three defenses, so a kill can never again lose the round:
  *
  *   - The cumulative headline JSON line is RE-PRINTED after every
  *     query, and kept COMPACT (short `qNN` keys, centisecond medians —
  *     under ~1.8 KB for 115 queries) because the driver parses only the
  *     last 2000 chars of output: rounds 3–6 all got parsed=null even at
  *     rc=0 purely because the full-name JSON line outgrew that window.
  *   - Full detail (full query names, medians, raw rep arrays, flaky
  *     list) is flushed to `SPARK_GRAFT_BENCH_OUT` (default
  *     `BENCH_local_latest.json`) after every query via
  *     write-to-temp + atomic rename — always a complete JSON document.
  *   - `SPARK_GRAFT_TIME_BUDGET` (seconds, default 1500) bounds the run:
  *     a rep pass only starts if the previous pass's duration (×1.1)
  *     still fits, and a pass in progress stops starting new queries
  *     once the budget is spent — degrading rep count, never losing
  *     completed measurements. `truncated:true` marks a budget-limited
  *     run; `skipped` lists queries with no completed rep.
  *
  * Flaky visibility (round-6 advice): a query that failed SOME reps but
  * has a successful median is listed under `flaky` — previously such
  * queries looked healthy unless someone read the raw rep arrays.
  */
object Bench {

  /** Median of the successful (>= 0) rep timings; -1 if every rep failed. */
  private def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
  }

  /** "q104_triangle_count" → "q104": the compact-headline key (unique by
    * construction — registered names are qNN_description). */
  private def shortKey(name: String): String = name.takeWhile(_ != '_')

  private def round2(v: Double): Double = math.rint(v * 100) / 100

  /** JSON string literal with backslash/quote/control escaping — paths
    * land in the artifact verbatim, and a quote or backslash in one
    * (round-7 advice) must not produce an unparseable JSON line. */
  private def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  private def jsonArr(names: Seq[String]): String =
    names.map(jsonStr).mkString("[", ",", "]")

  /** The compact driver-window headline (round 15). The driver parses only
    * the LAST 2000 chars of output, and the round-7 "short keys + 2-decimal
    * medians" scheme silently outgrew that window past ~150 queries
    * (BENCH_r14 `parsed:null` at 219). Two changes, spec-gated
    * (BenchHeadlineSpec) against the CURRENT registered-query count so the
    * invariant can never silently break again:
    *
    *  - per-query medians are CENTISECOND INTEGERS (`"q104":494` = 4.94 s)
    *    — the precision the driver comparison actually uses;
    *  - queries are listed HEAVIEST-FIRST and only while the whole line
    *    fits `charBudget`; the tail is summarized as `"q_omitted":N,
    *    "omitted_cs":C` (count + their total centiseconds), so the line is
    *    complete, parseable, and loses only the cheapest queries' detail
    *    (all of it still ships in the detail file).
    *
    * Run-health fields (`failed`/`flaky`/`truncated`/`detail`) trail the
    * queries map, inside the budget by construction.
    *
    * The budget is 1650, NOT 2000: the driver's window holds the TAIL of
    * the combined output, and after the last headline print the runner
    * still emits the `[bench] done` stderr line and sbt's `[success]
    * Total time` epilogue (~130 chars together, more under a WARN burst)
    * — a headline sized to the full window gets its HEAD cut off by its
    * own epilogue (measured in round 15: a 1900-char headline + epilogue
    * left no complete JSON line in the last 2000 chars). 1650 + epilogue
    * leaves ≥200 chars of slack; BenchHeadlineSpec gates the sum.
    */
  private[graft] def headline(done: Seq[(String, Double)], total: Double,
      sfDir: String, nReps: Int, nTotal: Int, failed: Seq[String],
      flaky: Seq[String], truncated: Boolean, outPath: String,
      charBudget: Int = 1650): String = {
    def cs(m: Double): Long = math.rint(m * 100).toLong
    val tail = s""","sf":${jsonStr(sfDir)},"n_reps":$nReps,"n_done":${done.size},"n_total":$nTotal,"failed":${jsonArr(failed)},"flaky":${jsonArr(flaky)},"truncated":$truncated,"detail":${jsonStr(outPath)}}"""
    val head = s"""{"metric":"total","value":$total,"unit":"sec","queries":{"""
    // heaviest-first: the entries that matter for regression reading
    val byCost = done.map { case (n, m) => (shortKey(n), cs(m)) }
      .sortBy { case (k, c) => (-c, k) }
    val entries = byCost.map { case (k, c) => "\"" + k + "\":" + c }
    // reserve room for the omitted summary at its widest
    val omitReserve = s""","q_omitted":${byCost.size},"omitted_cs":${byCost.map(_._2).sum}}""".length
    var used = head.length + tail.length + omitReserve + 1 // '}' closing queries
    val keep = Seq.newBuilder[String]
    var kept = 0
    var i = 0
    while (i < entries.size) {
      val add = entries(i).length + (if (kept > 0) 1 else 0) // comma
      if (used + add <= charBudget) { keep += entries(i); kept += 1; used += add }
      else i = entries.size
      i += 1
    }
    val omitted = byCost.drop(kept)
    val omitSummary =
      if (omitted.isEmpty) ""
      else s""","q_omitted":${omitted.size},"omitted_cs":${omitted.map(_._2).sum}"""
    head + keep.result().mkString(",") + "}" + omitSummary + tail
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budget = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "1500").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local_latest.json")
    // optional comma-separated name filter for isolated perf work, e.g.
    // SPARK_GRAFT_ONLY=q104_triangle_count,q28_ann_ivf_topk
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val suite = only.fold(Queries.all)(names => Queries.all.filter(q => names(q.name)))
    // adaptive default rep count (round 12): 3 reps × ~190 queries cost
    // ~1 060 s wall on a contended box — within one bad draw of the
    // driver's 1 500 s budget (VERDICT r11 flag). Above 160 queries the
    // default drops to 2 reps (≈ 700 s, real headroom); small filtered
    // suites (isolated top-10 runs) keep the 3-rep default, and an
    // explicit SPARK_GRAFT_REPS always wins.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt.max(1))
      .getOrElse(if (suite.size > 160) 2 else 3)
    val spark = LocalSession("graft-bench")
    // ERROR, not WARN: the headline JSON must land inside the driver's
    // 2000-char output tail, so routine WARN chatter after the last
    // print is budget spent against the parse window
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    // JVM/codegen warmup on the smallest SF so per-query numbers measure
    // the plan, not JIT compilation of Spark itself.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // insertion-ordered: name -> completed rep timings (-1 = failed rep)
    val recorded = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    suite.foreach(q => recorded(q.name) = mutable.ArrayBuffer.empty[Double])
    var truncated = false

    def emit(finalLine: Boolean): Unit = {
      val meds = suite.map(q => q.name -> median(recorded(q.name).toSeq))
      val done = meds.filter(_._2 >= 0)
      val failed = meds.collect {
        case (n, m) if m < 0 && recorded(n).nonEmpty => n
      }
      val flaky = meds.collect {
        case (n, m) if m >= 0 && recorded(n).exists(_ < 0) => n
      }
      val skipped = suite.map(_.name).filter(recorded(_).isEmpty)
      val total = round2(done.map(_._2).sum)
      val nReps = recorded.valuesIterator.map(_.size).foldLeft(0)(_ max _)
      val head = headline(done, total, sfDir, nReps, suite.size,
        failed.map(shortKey), flaky.map(shortKey), truncated, outPath)
      // full detail, atomically replaced after every query: full names,
      // medians, raw rep arrays — a mid-run kill leaves the last
      // complete snapshot, never a torn file
      val qsFull = done.map { case (n, m) => "\"" + n + "\":" + m }
        .mkString("{", ",", "}")
      val repArr = recorded.collect { case (n, xs) if xs.nonEmpty =>
        "\"" + n + "\":" + xs.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"reps":$repArr,"n_reps":$nReps,"failed":${jsonArr(failed)},"flaky":${jsonArr(flaky)},"skipped":${jsonArr(skipped)},"truncated":$truncated,"elapsed_sec":${round2(elapsed)},"sf":${jsonStr(sfDir)}}"""
      try {
        val out = java.nio.file.Paths.get(outPath)
        val tmp = java.nio.file.Paths.get(outPath + ".tmp")
        java.nio.file.Files.write(tmp,
          (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        try java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, out,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] detail flush failed: ${e.getMessage}")
      }
      println(head)
      System.out.flush()
      if (finalLine) System.err.println(s"[bench] done: $total s over ${done.size} queries, ${round2(elapsed)} s wall")
    }

    // rep-major order (full suite, then repeat) rather than query-major:
    // back-to-back reps of the same query would share still-warm OS page
    // cache and JIT state unrepresentatively, and a transient contention
    // spike on the box would poison all reps of one query instead of one
    // rep of many.
    var lastPass = 0.0
    var r = 0
    while (r < reps && !truncated) {
      if (r > 0 && elapsed + lastPass * 1.1 > budget) {
        truncated = true
        System.err.println(f"[bench] budget: stopping after $r rep pass(es) (elapsed $elapsed%.0f s + projected $lastPass%.0f s > $budget%.0f s)")
      } else {
        val passStart = elapsed
        for (q <- suite if !truncated) {
          if (elapsed > budget) {
            truncated = true
            System.err.println(f"[bench] budget: spent at ${q.name} in rep pass $r (elapsed $elapsed%.0f s)")
          } else {
            // UNTIMED setup (e.g. q108's bucketed-layout build): the cost a
            // production pipeline amortizes across runs; its own price is
            // benched by a dedicated query (q116), never buried here
            try q.prepare.foreach(_(spark, sfDir))
            catch { case e: Throwable =>
              System.err.println(s"[bench] ${q.name} prepare failed: ${e.getMessage}")
            }
            val qt0 = System.nanoTime()
            val ok =
              try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] ${q.name} rep $r failed: ${e.getMessage}")
                false
              }
            // No clearCache here (round 8): operators close their own cache
            // scopes (graft.CacheScope — CacheHygieneSpec proves the cache
            // manager is empty after every registered query materializes),
            // so there is nothing to clear and timings stay isolated.
            // failed queries record the sentinel -1, never a healthy-looking
            // near-zero elapsed time
            recorded(q.name) += (if (ok) (System.nanoTime() - qt0) / 1e9 else -1.0)
            // UNTIMED hygiene: dead result checkpoints are released
            // OUTSIDE the timed region (round 18: +27% suite-wide without
            // it), so every rep of every query computes from the parquet
            // inputs starting from the same storage state the first did.
            CacheScope.freeAll(spark)
            emit(finalLine = false)
          }
        }
        lastPass = elapsed - passStart
      }
      r += 1
    }

    emit(finalLine = true)
    spark.stop()
  }
}
