package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up derivation for the 10× rehearsal
  * (round-7 verdict item 1): `runMain graft.DeriveScale [src] [dst]
  * [copies]` writes a `copies`× (default 10×) version of the driver's
  * testdata — sf0.1 → ~sf1 — into a scratch dir, so the heavy queries
  * can be benched one decade closer to the 100-TB target and per-query
  * scaling exponents measured (SCALE.md "10× rehearsal").
  *
  * Derivation contract (no RNG anywhere — byte-identical on re-run):
  *
  *  - copy 0 is the ORIGINAL data unchanged (so fixed probes like
  *    q115's `vec_id < 5` still exist);
  *  - every 64-bit id column gets `+ copy · 10^10` (divisible by 10, so
  *    q00's `custkey % 10` company distribution is copy-invariant; far
  *    below q80's `2^40` supplier offset, so its bipartite node spaces
  *    stay disjoint) — copies are DISJOINT id universes, giving the
  *    natural-scaling baseline: graph queries see 10 isomorphic
  *    components, dedup sees 10 independent corpora;
  *  - `documents.text` is caesar-rotated per copy (`translate` over
  *    a–z), so cross-copy shingle/minhash/simhash similarity collapses
  *    and near-dup workloads scale like a 10×-larger crawl rather than
  *    a 10-way-duplicated one (which would quadratically inflate pair
  *    outputs and measure the DATA construction, not the operator);
  *  - `embeddings.embedding[0]` gets `+ copy/1000` (one quantization
  *    step per copy) so vectors are not bit-identical across copies;
  *  - `region`/`nation` stay fixed (TPC-H dims do not scale).
  *
  * The tiny source (17 MB at sf0.1) is scanned once per copy — the
  * unioned write is one job per table.
  */
object DeriveScale {

  private val Step = 10000000000L // 10^10: see contract above

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.drop(1).headOption.getOrElse("/root/repo/scratch/sf1")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val spark = LocalSession("graft-derive-scale")
    // events.ts has drifted between TIMESTAMP(NANOS) and timestamp[us]
    // across driver rounds; keep the nanos conf so a NANOS fixture is
    // copied as BIGINT (exactly how Ingest.events reads it) — for
    // timestamp[us] data it is a no-op and the copy round-trips as-is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")

    val abc = "abcdefghijklmnopqrstuvwxyz"
    def rot(c: Int): String = { val k = c % 26; abc.substring(k) + abc.substring(0, k) }

    /** All `cols` offset by copy·Step; `extra` applies any per-copy
      * column rewrites beyond id offsets. */
    def derive(table: String, idCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val scaled = (0 until copies).map { c =>
        val offset = idCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(c * Step))
        }
        extra(offset, c)
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[derive] $table: ${copies}x written")
    }

    derive("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    derive("orders", Seq("o_orderkey", "o_custkey"))
    // Name columns must NOT repeat verbatim across copies: q78's
    // edit-distance pairs (and any fuzzy-match workload) would see every
    // name with 9 exact duplicates and measure the DERIVATION's
    // quadratic pair inflation, not the operator (the round-8 full-suite
    // sf1 run showed exactly that: q78 exponent 1.26). A per-copy DIGIT
    // rotation (d → d + 3c mod 10; 3 coprime to 10, so all digits move)
    // is a character bijection: within-copy edit distances are
    // PRESERVED (each copy contributes exactly the base pair set) while
    // cross-copy twins now differ in every digit — distance ≥ 2, out of
    // the near-miss band. Same honesty move as the documents caesar.
    val digits = "0123456789"
    def rotDigits(c: Int): String =
      digits.map(d => digits((d - '0' + 3 * c) % 10))
    derive("customer", Seq("c_custkey"), (df, c) =>
      if (c == 0) df
      else df
        .withColumn("c_name", translate(col("c_name"), digits, rotDigits(c)))
        // break bit-identical balances across copies (one cent per copy
        // keeps q16's closeness semantics and the value distribution)
        .withColumn("c_acctbal", col("c_acctbal") + lit(c * 0.01)))
    derive("part", Seq("p_partkey"))
    derive("supplier", Seq("s_suppkey"), (df, c) =>
      if (c == 0) df
      else df.withColumn("s_name", translate(col("s_name"), digits, rotDigits(c))))
    derive("events", Seq("event_id", "user_id"))
    derive("documents", Seq("doc_id"), (df, c) =>
      if (c == 0) df
      else df.withColumn("text", translate(col("text"), abc, rot(c))))
    derive("embeddings", Seq("vec_id"), (df, c) =>
      if (c == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(c.toFloat / 1000f)).otherwise(x))))
    // fixed dims: copy through unchanged
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[derive] $t: copied (fixed dim)")
    }
    spark.stop()
  }
}
