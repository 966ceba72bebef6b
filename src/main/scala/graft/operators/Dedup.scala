package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup / anti-join filters (SURVEY.md §2.3, F1–F3, S7).
  *
  * The reference's two dedup paths — the BigQuery ledger `NOT IN` scan
  * (`/root/reference/etl/filters/checksum_bigquery.py:16-30,69-74`) and the
  * Redis first-writer-wins set (`/root/reference/src/redis_tools.py:42-54`)
  * — are both anti-joins in disguise. Spark plans them as broadcast-hash
  * anti-joins when the ledger side is small and shuffled-hash/SMJ otherwise;
  * nothing custom is needed, and AQE handles the empty-batch early-exit the
  * reference special-cases (`checksum_bigquery.py:24`).
  */
object Dedup {

  /** F1 `unique_ids` two-stage ledger anti-join
    * (`checksum_bigquery.py:16-30`): drop batch rows whose `checksum`
    * exists in the ledger for the same company, then rows whose
    * `etl_checksum` does. `company_id` is a join key, so multi-company and
    * empty batches are correct by construction (fixes Q5's `rows[0]`
    * assumption).
    */
  def againstLedger(batch: DataFrame, ledger: DataFrame): DataFrame = {
    val byChecksum = ledger.select("company_id", "checksum").distinct()
    val byEtl = ledger.select("company_id", "etl_checksum").distinct()
    batch
      .join(byChecksum, Seq("company_id", "checksum"), "left_anti")
      .join(byEtl, Seq("company_id", "etl_checksum"), "left_anti")
  }

  /** `againstLedger`, production layout, PREPARE half: materialize the
    * ledger's two anti-join key projections as BUCKETED tables
    * (bucket+sort on the exact anti-join keys), so the ledger side of
    * each anti-join in [[probeBucketedLedger]] reads co-located buckets
    * with NO shuffle exchange — only the (small) incoming batch shuffles
    * into the ledger's partitioning. This is the shape for the real
    * pipeline, where the ledger is a large silver table re-read every
    * micro-batch: its shuffle is paid ONCE at write time, not per batch
    * — the once-per-layout cost a production pipeline pays at
    * silver-write time, benched separately (q116) from the steady-state
    * probe (q108). (At 100 TB the bucketed write replaces the per-batch
    * `persist()` q00 models.) Nothing appends a batch's survivors to the
    * bucketed tables yet: they hold the ledger as of the last call, so a
    * later batch is checked against that ledger, not against the
    * batches since. The ledger scan is pinned while both projections
    * write, then released — the cache lifecycle closes inside this call.
    *
    * `warehouseDir`/`tablePrefix` locate the materialized tables
    * (external, `mode=overwrite` — re-running refreshes them). Bucketed
    * reads require `spark.sql.sources.bucketing.enabled` (default true);
    * with broadcast on, Spark may still prefer a broadcast anti-join at
    * toy sizes — the bucket layout matters precisely when the ledger is
    * too big to broadcast (BucketingSpec pins the shuffle-free plan with
    * broadcast disabled).
    */
  def prepareBucketedLedger(ledger: DataFrame, nBuckets: Int,
      warehouseDir: String, tablePrefix: String = "graft_ledger"): Unit = {
    val ck = s"${tablePrefix}_ck"
    val eck = s"${tablePrefix}_eck"
    val pinned = ledger.persist()
    try {
      pinned.select("company_id", "checksum").distinct()
        .write.mode("overwrite")
        .bucketBy(nBuckets, "company_id", "checksum")
        .sortBy("company_id", "checksum")
        .option("path", s"$warehouseDir/$ck").saveAsTable(ck)
      pinned.select("company_id", "etl_checksum").distinct()
        .write.mode("overwrite")
        .bucketBy(nBuckets, "company_id", "etl_checksum")
        .sortBy("company_id", "etl_checksum")
        .option("path", s"$warehouseDir/$eck").saveAsTable(eck)
    } finally pinned.unpersist(blocking = false): Unit
  }

  /** PROBE half of [[prepareBucketedLedger]]: the per-micro-batch
    * two-stage anti-join against the already-bucketed ledger tables —
    * the ledger side reads co-located buckets with no shuffle exchange;
    * only the (small) batch shuffles into the ledger's partitioning.
    */
  def probeBucketedLedger(batch: DataFrame,
      tablePrefix: String = "graft_ledger"): DataFrame = {
    val s = batch.sparkSession
    batch
      .join(s.table(s"${tablePrefix}_ck"), Seq("company_id", "checksum"), "left_anti")
      .join(s.table(s"${tablePrefix}_eck"), Seq("company_id", "etl_checksum"), "left_anti")
  }

  /** F2 `filter_rows_by_checksums` (`checksum_bigquery.py:69-74`):
    * membership exclusion. Small exclusion lists → `isin` (codegen'd);
    * large → use `againstLedger`.
    */
  def excludeIds(df: DataFrame, field: String, ids: Seq[String]): DataFrame =
    if (ids.isEmpty) df else df.filter(!col(field).isin(ids: _*))

  /** F3 `filter_unique_transactions` (`redis_tools.py:42-54`) batch form:
    * first-writer-wins within the batch by a deterministic order — the
    * distributed analog of "first worker to SADD wins".
    */
  def firstWriterWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Batch MERGE / upsert: updates win on key match, unmatched target
    * rows survive — the warehouse `MERGE INTO` shape (and the batch twin
    * of `StreamingOps.upsertStream`). One anti-join + union: Spark
    * broadcasts the update keys when the batch is small (the common
    * incremental-load case), so the target never shuffles; at
    * ledger-vs-ledger scale AQE picks shuffled-hash on the keys.
    * Schemas must match by name (`unionByName`).
    */
  def mergeUpsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(
      target.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** Exact whole-row/keyed dedup — hash-shuffle on the key columns. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** Bloom-prefiltered ledger anti-join — EXACT anti-join semantics, with
    * a Bloom filter as the scale optimization: rows the filter rules out
    * ("definitely not in the ledger") skip the join entirely; only the
    * `maybe` rows (true duplicates + fpp false positives) shuffle into the
    * exact anti-join that removes the false positives. At 100 TB the
    * filter is built once over the ledger keys (a few bytes per key,
    * broadcast to executors) and the join input drops from |batch| to
    * ≈ |dups| + fpp·|batch| — the standard bloom-join pruning Spark
    * applies to shuffle joins internally, surfaced as an operator so the
    * ledger filter can be REUSED across micro-batches instead of rebuilt
    * per query. Results are independent of fpp (false positives only cost
    * join work), so the query stays oracle-checkable as a plain anti-join.
    *
    * The ledger is scanned ONCE: the distinct key projection is
    * materialized via an eager `localCheckpoint` and feeds the empty
    * probe, the filter build, and the anti-join (it holds keys only — a
    * few bytes per key, the in-session stand-in for the filter a
    * production pipeline materializes and reuses). A checkpoint, not a
    * `persist`, deliberately: checkpoint blocks are released when the
    * returned DataFrame is GC'd, so repeated invocations (per
    * micro-batch, per bench rep) don't accumulate cache entries that only
    * an explicit unpersist would free. The batch is evaluated twice (once
    * per branch) — persist upstream if it is expensive to recompute. Key
    * column must be string or integral.
    */
  def bloomPrefilteredAntiJoin(batch: DataFrame, ledger: DataFrame,
      key: String, expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val keys = ledger.select(col(key)).distinct().localCheckpoint()
    // an empty ledger builds a null-buffered BloomFilter that NPEs at eval
    // time — and the anti-join against it is the identity anyway (empty
    // batches/ledgers are routine: retries, backfills)
    if (keys.isEmpty) return batch
    val bf = keys.stat.bloomFilter(key, expectedItems, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val maybe = batch.schema(key).dataType match {
      case StringType => udf((k: String) => k == null || bc.value.mightContainString(k))
      case LongType => udf((k: java.lang.Long) => k == null || bc.value.mightContainLong(k))
      case IntegerType => udf((k: java.lang.Integer) =>
        k == null || bc.value.mightContainLong(k.longValue()))
      case t => throw new IllegalArgumentException(
        s"bloomPrefilteredAntiJoin: unsupported key type $t")
    }
    batch.filter(!maybe(col(key)))
      .unionByName(batch.filter(maybe(col(key))).join(keys, Seq(key), "left_anti"))
  }

  /** Quality-aware canonical selection: given rows already labeled with a
    * duplicate-cluster id and a quality score, keep exactly one row per
    * cluster — the HIGHEST-scoring one, ties to the lowest id. This is
    * the published curation semantics for near-dup clusters (keep the
    * best copy, e.g. longest/highest-classifier-score), where the
    * reference's Redis set (`/root/reference/src/redis_tools.py:42-54`)
    * and q61's min-id election keep whichever copy ARRIVED first —
    * arrival order says nothing about quality.
    *
    * Shape: one `row_number` window partitioned by the cluster id — a
    * single shuffle on the cluster key, no join; cluster sizes are
    * near-dup group sizes (tiny), so no skew concern. All input columns
    * pass through plus a boolean `keep`.
    */
  def keepBestPerCluster(df: DataFrame, clusterCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("keep", row_number().over(w) === 1)
  }
}
