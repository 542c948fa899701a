package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleanse/normalize kernel — the reference ETL's transform vocabulary
  * re-expressed as codegen'd Catalyst expressions (zero UDFs).
  *
  * Reference behaviors (crime_immigration_etl.py):
  *  - C1 lower+trim name normalization (:34, :178-179)
  *  - C2 `pandas.to_numeric(errors="coerce")` → `try_cast` (:182, :214, :278)
  *  - C3 Eurostat missing marker ":" → 0 before coercion (:279)
  *  - C4/C5 pandas `.round` = HALF_EVEN → Spark `bround` (:191, :255, :297)
  *  - C7 per-100k rate derivation (:292-294)
  *  - F2/F3/F5 validity predicates (:165-167, :185, :215)
  *
  * All of these stay inside whole-stage codegen and are pushdown-friendly
  * (plain `Column` expressions), so at 100 TB they ride the parquet scan.
  */
object CleanseOps {

  /** C1: canonical string form — lowercase, outer whitespace stripped. */
  def normalizeName(c: Column): Column = lower(trim(c))

  /** C2: numeric coercion with invalid→null (pandas to_numeric coerce).
    * `try_cast` keeps ANSI mode on for everything else. */
  def coerceDouble(c: Column): Column = c.try_cast("double")
  def coerceLong(c: Column): Column = c.try_cast("bigint")
  def coerceInt(c: Column): Column = c.try_cast("int")

  /** C3: replace a sentinel missing-marker before coercion (Eurostat ":"). */
  def replaceMissingMarker(c: Column, marker: String, repl: String): Column =
    when(trim(c) === lit(marker), lit(repl)).otherwise(c)

  /** C4/C5: half-even (banker's) rounding — matches pandas `.round`. */
  def roundHalfEven(c: Column, scale: Int): Column = bround(c, scale)

  /** C7: per-100k rate. Caller guarantees denominator>0 (reference filters
    * population>0 first, :185); `try_divide` guards ANSI div-by-zero. */
  def per100k(num: Column, den: Column): Column =
    try_divide(num.cast("double"), den.cast("double")) * lit(100000.0)

  /** F2: fixed-length code validity (ISO3 len==3 / ISO2 len==2). */
  def validCode(c: Column, len: Int): Column =
    c.isNotNull && length(c) === lit(len)

  /** F5+F3: positive, non-null measure. */
  def positive(c: Column): Column = c.isNotNull && (c > lit(0))

  /** F7: drop rows with nulls in a key subset (pandas dropna(subset=...)). */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** Semi-structured property extraction: pull a scalar field out of a
    * JSON string column and coerce it, null on missing field / malformed
    * document / non-numeric value alike (`get_json_object` + `try_cast`
    * both null-propagate). The event-stream staple — `props` payloads
    * carry the long tail of attributes no schema migration keeps up
    * with. A plain codegen'd expression: rides the scan, no UDF, and at
    * 100 TB the JSON parse happens exactly once per row on the
    * projected column (for HOT fields, materialize the extraction at
    * ingest — this is the expression you materialize). */
  def jsonLong(c: Column, path: String): Column =
    get_json_object(c, path).try_cast("bigint")

  /** Exact money arithmetic: cast a 2-decimal double to decimal so sums are
    * order-independent and bit-stable across engines (oracle-hash safety —
    * SURVEY.md §7 "float formatting drift"). */
  def money(c: Column): Column = c.cast("decimal(18,4)")

  /** Exact revenue term: price * (1 - discount), all decimal. */
  def revenue(price: Column, discount: Column): Column =
    money(price) * (lit(1).cast("decimal(18,4)") - money(discount))
}
