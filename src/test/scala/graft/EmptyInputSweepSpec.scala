package graft

/** Crash sweep: every registered query must run (not necessarily return
  * rows) against EMPTY tables with the production schemas — the
  * empty-batch path the reference special-cases by hand
  * (`checksum_bigquery.py:24`) and the shape 100-TB retries/backfills hit
  * constantly. Operators with a documented fail-fast on an empty corpus
  * (k-means seeding) are asserted to throw their REAL message, not an
  * obscure analysis error.
  */
class EmptyInputSweepSpec extends SparkSpec {

  // k-means/IVF seeding, corpus-derived SemDeDup centroids and PQ
  // codebooks all require at least one corpus vector by contract;
  // the logreg quality classifier (round 16) requires at least one
  // labeled example — a model trained on nothing is not a model, and
  // the q232 flagship trains that model in its prepare (round 17)
  private val documentedFailFast =
    Set("q28_ann_ivf_topk", "q162_semdedup_scaled", "q169_ann_pq_topk",
      "q172_ann_ivfpq_topk", "q228_quality_logreg_train",
      "q229_quality_logreg_score", "q230_model_artifact",
      "q232_corpus_build_trained",
      // round 18: the serve face's prepare trains the same PQ
      // codebooks as q172 — no corpus vectors, no index to serve
      "q234_ann_ivfpq_serve")

  test("all registered queries survive empty inputs (or fail fast by contract)") {
    SparkSpec.withTempDir("graft-empty") { dir =>
      // events.ts has shipped as both TIMESTAMP(NANOS) and timestamp[us];
      // keep the nanosAsLong conf (same as Ingest.events) so either form
      // copies cleanly — Ingest.events branches on the resulting type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
          .limit(0).write.parquet(s"$dir/$t.parquet")
      }
      val failures = Queries.all.flatMap { q =>
        try {
          q.run(spark, dir).write.format("noop").mode("overwrite").save()
          if (documentedFailFast(q.name)) Some(s"${q.name}: expected fail-fast, ran")
          else None
        } catch {
          case e: IllegalArgumentException if documentedFailFast(q.name) =>
            None // contract: require() with a real message
          case e: Throwable =>
            Some(s"${q.name}: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }
}
