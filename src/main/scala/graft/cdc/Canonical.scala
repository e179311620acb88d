package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value canonicalisation + stable row hashing — the verifier's comparison
  * machinery (`harness/verifier/index.js:78-136`):
  * `coerceComparable` (trim strings, numeric-strings → numbers),
  * `stableStringify` (deterministic JSON: sorted keys), equality by
  * canonical form. Plus the storage layer's `inferColumnType`
  * (`src/domain/storage.ts:35-43`) and search-haystack build
  * (`web/App.tsx:1428-1444`).
  */
object Canonical {

  /** Canonical comparable form of a scalar column: trimmed; numeric strings
    * normalize through an actual numeric round-trip — `'1.50'→'1.5'`,
    * `'007'→'7'`, `'1e3'→'1000'` — matching the reference's `Number()`
    * coercion (`coerceComparable`, `index.js:84-87`). One expression per
    * column: the trim, then [[jsNumberString]] as a UDF, so a row hash
    * over many columns stays far below the JVM's 64 KB method limit
    * inside one whole-stage codegen method. */
  def coerceComparable(c: Column): Column = jsNumber(trim(c.cast("string")))

  private val jsNumber =
    udf((t: String) => if (t == null) null else jsNumberString(t)).withName("js_number_string")

  private val Numeric = java.util.regex.Pattern.compile("^-?[0-9]*\\.?[0-9]+([eE][+-]?[0-9]+)?$")

  /** `String(Number(t))` for a numeric string `t`, else `t` unchanged.
    *
    * Rendering mirrors ECMAScript `Number::toString`: plain decimal
    * notation exactly for magnitudes in [1e-6, 1e21), exponential outside
    * it, formatted JS-style (`1e-7`, `2e+40` — lowercase `e`, explicit
    * `+`, no trailing `.0` mantissa); `-0` renders `0` and an overflowing
    * `'1e999'` renders `Infinity`. The plain range goes through a DECIMAL
    * plain string (trailing zeros trimmed; scale tiered by magnitude so
    * every shortest-repr digit fits: just above 1e-6 a double's ~17
    * significant digits sit up to 23 places after the point, past 1e15
    * they need integer digits instead, and by 1e18 doubles are integral),
    * the exponential range reformats Java's `E`-notation. Residual caveat:
    * the digits come from Java's `Double.toString`, whose
    * shortest-representation algorithm (pre-JDK-19) can very rarely emit
    * more digits than V8's — both round-trip to the same double. */
  private def jsNumberString(t: String): String = {
    if (!Numeric.matcher(t).find()) return t
    val d = try java.lang.Double.parseDouble(t) catch { case _: NumberFormatException => return t }
    val a = math.abs(d)
    def plain(scale: Int): String =
      new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(scale, java.math.RoundingMode.HALF_UP).toPlainString
    def trimPlain(p: String): String =
      p.replaceAll("0+$", "").replaceAll("\\.$", "").replaceAll("^-0$", "0")
    if (a == Double.PositiveInfinity) java.lang.Double.toString(d)
    else if (d == 0 || (a >= 1e-6 && a < 1e15)) trimPlain(plain(23))
    else if (a >= 1e15 && a < 1e18) trimPlain(plain(18))
    else if (a >= 1e18 && a < 1e21) plain(0)
    else {
      // |d| ≥ 1e21 or 0 < |d| < 1e-6: Java always prints E-notation here
      val s = java.lang.Double.toString(d)
      val e = s.indexOf('E')
      val ex = s.substring(e + 1)
      s.substring(0, e).stripSuffix(".0") + "e" + (if (ex.startsWith("-")) ex else "+" + ex)
    }
  }

  /** Deterministic JSON of selected columns — field order fixed by sorting
    * names (`stableStringify`'s sorted keys). */
  def stableJson(df: DataFrame, cols: Seq[String]): Column =
    to_json(struct(cols.sorted.map(n => coerceComparable(col(n)).as(n)): _*))

  /** Stable row hash over the canonical JSON (drives state-diff equality and
    * the golden-state oracle check). */
  def rowHash(df: DataFrame, cols: Seq[String]): Column =
    sha2(stableJson(df, cols), 256)

  /** `inferColumnType` (`storage.ts:35-43`): booleans → bool; numbers whose
    * key matches /_ts$|timestamp$/i → timestamp, else number; everything
    * else string. Operates on a (key, value-string) pair. */
  def inferColumnType(key: Column, value: Column): Column =
    when(lower(value).isin("true", "false"), "bool")
      .when(value.rlike("^-?[0-9]+(\\.[0-9]+)?$") &&
        lower(key).rlike("(_ts|timestamp)$"), "timestamp")
      .when(value.rlike("^-?[0-9]+(\\.[0-9]+)?$"), "number")
      .otherwise("string")

  /** `sanitizeRow` (`index.js:43-57`): null-valued fields dropped from the
    * canonical JSON. Spark's `to_json` already omits nulls — provided here
    * as the explicit projection for map payloads. */
  def sanitizeJson(mapCol: Column): Column =
    to_json(map_filter(mapCol, (_, v) => v.isNotNull))

  /** Search haystack (`web/App.tsx:1428-1444`): lowercase concat of the
    * searchable fields, built once as a column (Catalyst caches the
    * projection; whole-stage codegen fuses the filter). */
  def haystack(cols: Seq[Column]): Column =
    lower(concat_ws(" ", cols: _*))

  /** Token AND-match over the haystack (`scenarioFilters.ts:177-217`). */
  def matchesAllTerms(hay: Column, terms: Seq[String]): Column =
    terms.map(t => hay.contains(t.toLowerCase)).foldLeft(lit(true))(_ && _)

  /** Write-amplification display helpers (`src/ui/writeAmplification.ts`). */
  def formatWriteAmp(wa: Column): Column = format_string("%.1fx", wa)
  def describeWriteAmp(wa: Column): Column =
    when(wa < 1.05, lit("no meaningful amplification"))
      .otherwise(concat(lit("~"), format_string("%.1f", wa - 1), lit(" extra writes/change")))
}
