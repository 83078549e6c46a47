package graft.ops

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Normalization column-functions: the reference's type-coercion layer.
  *
  * The row rules with real logic — the multi-format date parse, its
  * label-path variant, the quarter label, safe-decimal coercion, the
  * millions validator and the truthy key's falsiness test — are kernels
  * ([[graft.functions.NormalizeExpressions]]): each evaluates its input
  * once inside whole-stage codegen and costs one static call of generated
  * code per use. Written as composed Catalyst trees they
  * re-referenced their input 3-8 times, so a plan applying them held each
  * rule dozens of times and compiled into 4,600-5,500-line classes on
  * every market batch. The rest stay plain built-in expressions.
  *
  * Semantics derive from the reference (read-only at /root/reference):
  *  - multi-format date parse        (transform.py:141-166)
  *  - quarter-label derivation       (transform.py:31-57)
  *  - safe decimal coercion + the millions-scaling heuristic
  *                                   (transform.py:168-186, config.py:89-97)
  *  - EPS estimation from net income (transform.py:188-201)
  *  - Python-truthiness key coalesce (transform.py:82)
  *
  * All functions are ANSI-mode safe (Spark 4 default): parse/cast failures
  * yield null, never a task failure — mirroring the reference's
  * row-level tolerance (transform.py:98-100).
  */
object Normalize {
  import graft.functions.NormalizeExpressions.{Falsy, MillionsValidator, ParseDate, QuarterLabel,
    SafeDecimal}

  private def stringOf(c: Column) = GraftShims.expression(c.cast(StringType))

  /** Multi-format lenient date parse (reference transform.py:141-166):
    * `yyyy-MM-dd`, `yyyy-MM-dd HH:mm:ss`, `MM/dd/yyyy`, then the bare-year
    * rule (int/float year -> Dec 31 of that year); anything else is null.
    * Each format is guarded by its shape, so exactly one parse runs per
    * row and the hot path is exception-free (a `coalesce(try_to_date x3)`
    * chain throws and swallows inside the parser per row, ~85 us/row).
    */
  def parseDateMulti(c: Column): Column =
    GraftShims.column(ParseDate(stringOf(c), labelPath = false))

  /** The LABEL path's 4-format variant (reference transform.py:36-49,
    * `standardize_quarter_date`): like [[parseDateMulti]] but with a
    * day-first `dd/MM/yyyy` fallback after month-first fails (so
    * `13/01/2020` parses as Jan 13), and NO bare-year rule (the label
    * path rejects non-strings). Only strings the month-first parse
    * rejects pay the second parse.
    */
  def parseDateLabelPath(c: Column): Column =
    GraftShims.column(ParseDate(stringOf(c), labelPath = true))

  /** `"YYYY-QN"` quarter label (reference transform.py:51-53; month->quarter
    * mapping is exactly Spark's `quarter()`). Null date -> null label; a
    * non-date input is cast to date first, as `year()` casts it.
    */
  def quarterLabel(d: Column): Column =
    GraftShims.column(QuarterLabel(GraftShims.expression(d.cast(DateType))))

  /** Safe decimal coercion (reference transform.py:168-186): strip
    * `[,$%\s]`, map the sentinel strings `""`, `N/A`, `n/a`, `-` to null,
    * parse (invalid -> null), then the millions heuristic:
    * `0 < v < 1e6  =>  v * 1e6`.
    *
    * The parse happens at `scale+6` fractional digits and quantizes to
    * `(precision, scale)` only AFTER the heuristic — the reference parses
    * into an unbounded Decimal and quantizes at the DB sink, so a
    * sub-cent `0.000001` must scale to `1.00`, not quantize to `0.00`
    * first (reference test_edge_cases.py:188-205). Values above
    * 10^(precision-scale) overflow to null under the default bound; pass
    * `precision = 38` for the unbounded-like range.
    */
  def safeDecimal(c: Column, precision: Int = 15, scale: Int = 2): Column =
    GraftShims.column(SafeDecimal(stringOf(c), precision, scale))

  /** The Pydantic validator's *second* millions heuristic
    * (reference config.py:89-97): scales ANY decimal value `< 1e6` —
    * including negatives — by 1e6. Applied after [[safeDecimal]] only to
    * revenue/gross_profit fields; the composition is the canonical
    * semantics (SURVEY.md §7.5.1).
    */
  def millionsValidator(v: Column, precision: Int = 15, scale: Int = 2): Column =
    GraftShims.column(MillionsValidator(GraftShims.expression(v), precision, scale))

  /** EPS estimation (reference transform.py:188-201):
    * `eps = (net_income/1e6)/shares if net_income >= 1e6 else net_income/shares`,
    * rounded to 4 places. `shares` comes from the share-count lookup
    * ([[sharesFor]]). Double math; final exact DECIMAL(10,4).
    */
  def estimateEps(netIncome: Column, shares: Column): Column = {
    val ni  = netIncome.cast(DoubleType)
    val adj = when(ni >= 1000000d, ni / 1000000d).otherwise(ni)
    round(adj / shares.cast(DoubleType), 4).try_cast(DecimalType(10, 4))
  }

  /** Share-count lookup with default (reference transform.py:193-194:
    * {TSLA:3160, RIVN:920, LCID:1600, else 1000}). Takes the literal map as
    * pairs so test-table analogs can rebind keys. Broadcast-free: a literal
    * map beats a join for a 3-entry dim.
    */
  def sharesFor(key: Column, shares: Map[String, Int], default: Int = 1000): Column = {
    val m = map(shares.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, key), lit(default))
  }

  /** Company-name lookup with a SYNTHESIZED default (reference
    * load.py:55-69: `company_names.get(ticker, f'{ticker} Inc')`) — the
    * default is derived from the key, not a constant.
    */
  def nameFor(ticker: Column, names: Map[String, String]): Column = {
    val m = map(names.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, ticker), concat(ticker, lit(" Inc")))
  }

  /** Python-truthiness key coalesce (reference transform.py:82:
    * `record.get('eps') or record.get('netIncomePerShare')` — `or` skips
    * null, empty string AND zero). Faithful form; see [[coalesceKey]] for
    * the null-only variant (decision documented in SURVEY.md §7.5.2).
    * The falsiness test is the `graft_falsy` kernel: the pushed-down
    * quarantine filter repeats the date key's coalesce three times, and
    * as a composed cast tree each copy cost ~100 lines of generated code.
    * A string a double cast cannot read is truthy (kept), never an error.
    */
  def coalesceKeyTruthy(a: Column, b: Column): Column =
    when(GraftShims.column(Falsy(GraftShims.expression(a))), b).otherwise(a)

  /** Null-only coalesce — the cleaner semantics the engine defaults to. */
  def coalesceKey(a: Column, b: Column): Column = coalesce(a, b)
}
