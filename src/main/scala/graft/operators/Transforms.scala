package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

/** Row-level transforms (SURVEY.md §2.2, T1–T7).
  *
  * Re-expresses the reference's per-row dict loop
  * (`/root/reference/etl/transformations/transactions.py:7-50`) as pure
  * Catalyst column expressions — everything here stays inside
  * whole-stage codegen; zero UDFs.
  *
  * ANSI-safe by construction: Spark 4 runs with `spark.sql.ansi.enabled=true`,
  * so every parse uses a `try_*` variant and every division is guarded.
  */
object Transforms {

  /** T3 `fix_date_format` → typed DATE; null when no format matches.
    * Formats are tried in the reference's order (`transactions.py:57-81`,
    * SURVEY.md Q3): `yyyy-MM-dd`, `dd-MM-yyyy`, `yyyy/MM/dd`,
    * `dd/MM/yyyy`. Strict 4-digit-year patterns make the precedence
    * unambiguous (`15-03-1997` cannot match `yyyy-MM-dd`).
    *
    * Shape-guarded: each `try_to_date` is gated by a cheap regex so
    * non-matching rows skip the parser instead of throwing internally —
    * a failed DateTimeFormatter parse costs an exception, and in a
    * 4-format chain most rows fail ≥1 format (measured ~3× on the date
    * queries at sf0.1). Guards are mutually exclusive, so the when-chain
    * preserves the documented precedence exactly.
    */
  def normalizeDate(c: Column): Column =
    when(c.rlike("^\\d{4}-\\d{2}-\\d{2}$"), try_to_date(c, "yyyy-MM-dd"))
      .when(c.rlike("^\\d{2}-\\d{2}-\\d{4}$"), try_to_date(c, "dd-MM-yyyy"))
      .when(c.rlike("^\\d{4}/\\d{2}/\\d{2}$"), try_to_date(c, "yyyy/MM/dd"))
      .when(c.rlike("^\\d{2}/\\d{2}/\\d{4}$"), try_to_date(c, "dd/MM/yyyy"))

  /** T3 with the reference's "return input unchanged on failure"
    * (`transactions.py:81`): normalized `yyyy-MM-dd` string, or the raw
    * input when unparseable.
    */
  def normalizeDateString(c: Column): Column =
    coalesce(date_format(normalizeDate(c), "yyyy-MM-dd"), c)

  /** T4 `parse_date` + midnight truncation (`transactions.py:83-89`, use at
    * `:26`): accepts `yyyy-MM-dd` / `dd/MM/yyyy`, renders
    * `yyyy-MM-dd'T'00:00:00`. Null (reference: raised, row dropped — Q1)
    * when neither parses.
    */
  def createdAt(c: Column): Column =
    date_format(
      coalesce(try_to_date(c, "yyyy-MM-dd"), try_to_date(c, "dd/MM/yyyy")),
      "yyyy-MM-dd'T'00:00:00")

  /** Money/quantity → exact cents rendering, the documented number→string
    * normalization for checksums (SURVEY.md Q2). Engine-portable: integer
    * text, no float-repr dependence.
    */
  def centsString(c: Column): Column =
    round(c.cast("double") * 100).cast("long").cast(StringType)

  /** T2 `etl_checksum` (`transactions.py:21-22`):
    * md5 over the concatenated normalized field renderings; nulls render
    * as empty string (reference `.get(k, '')` defaulting).
    */
  def etlChecksum(cols: Column*): Column =
    md5(concat(cols.map(c => coalesce(c.cast(StringType), lit(""))): _*))

  /** Exact-sum aggregation for money at 100-TB scale: doubles summed in
    * shuffle-dependent order are non-deterministic; DECIMAL sums are exact
    * and order-independent. Final cast back to DOUBLE for a compact schema.
    */
  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** l_extendedprice * (1 - l_discount) in exact decimal arithmetic. */
  def discountedPrice(price: Column, discount: Column): Column =
    price.cast(DecimalType(18, 2)) * (lit(1).cast(DecimalType(18, 2)) - discount.cast(DecimalType(18, 2)))

  /** Bad-records quarantine: split a frame into (good, quarantined) on a
    * validity predicate, treating NULL-valued predicates as BAD (a
    * three-valued `!cond` would silently drop them from both sides —
    * the classic quarantine bug). The reference silently raises/drops
    * malformed rows (Q1); a production engine side-channels them so the
    * main pipeline stays total and reprocessing is possible.
    *
    * Both frames are filters over the same plan — Spark scans the source
    * once per sink but pushes each predicate down; callers writing both
    * should persist upstream if the scan is expensive.
    */
  def quarantine(df: DataFrame, valid: Column): (DataFrame, DataFrame) =
    (df.filter(valid), df.filter(!coalesce(valid, lit(false))))
}
