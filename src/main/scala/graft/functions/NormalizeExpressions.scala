package graft.functions

import java.time.{DateTimeException, LocalDate, ZoneId}
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernels for the reference's normalize rules ([[graft.ops.Normalize]]).
  *
  * The built-in forms of these rules are CASE/regex/cast trees that
  * reference their input 3-8 times: a plan applying them repeats every
  * rule dozens of times (the income flow's optimized plan held 72
  * `regexp_replace`, 17 `RLIKE` and 12 `gettimestamp`), and whole-stage
  * codegen turned each normalize stage into a 4,600-5,500-line class that
  * every market batch compiled again. Each kernel here evaluates its input
  * once, runs the rule in precompiled Scala and costs one static call of
  * generated code per use, while staying inside whole-stage codegen.
  *
  * Every kernel returns exactly what the built-in tree returned (pinned
  * row by row against that tree in `NormalizeKernelSpec`):
  *  - the shape tests are the tree's own patterns, matched with `find()`
  *    as `rlike` matches them (`$` also matches before one trailing line
  *    terminator), and the parse then sees the whole string;
  *  - date parses call Spark's own `TimestampFormatter` (session zone,
  *    session parser policy) and swallow the same exceptions as
  *    `try_to_date`;
  *  - decimal parses call Spark's own `Decimal.fromString` and
  *    `changePrecision` (HALF_UP, overflow -> null), as `try_cast` does.
  *
  * Where the built-in tree raised an ANSI cast error instead of returning
  * (a bare year ending in a non-ASCII terminator; a millions product
  * beyond 38 digits), the kernel returns the non-ANSI answer, null.
  */
object NormalizeExpressions {

  /** Multi-format lenient date parse (reference transform.py:141-166).
    * `labelPath = false`: `yyyy-MM-dd`, `yyyy-MM-dd HH:mm:ss`,
    * `MM/dd/yyyy`, then a bare year (`2020`, `2020.0`) -> Dec 31 of it.
    * `labelPath = true` (transform.py:36-49): the first three, with a
    * `dd/MM/yyyy` fallback when month-first fails, and no bare year.
    *
    * Each format is guarded by its shape: a string matches at most one,
    * so exactly one parse runs per row and the hot path never throws.
    */
  case class ParseDate(child: Expression, labelPath: Boolean,
                       timeZoneId: Option[String] = None)
      extends UnaryExpression with TimeZoneAwareExpression {

    override def dataType: DataType = DateType
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $other")
    }

    override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    /** The formatters `try_to_date(s, fmt)` builds, in [[DateFormats]] order. */
    @transient private lazy val formatters: Array[TimestampFormatter] =
      DateFormats.map(f => TimestampFormatter(f, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = true, forTimestampNTZ = false))

    override def nullSafeEval(input: Any): Any = {
      val d = parseDate(input.asInstanceOf[UTF8String], formatters, zoneId, labelPath)
      if (d == NoDate) null else d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fmts = ctx.addReferenceObj("formatters", formatters,
        "org.apache.spark.sql.catalyst.util.TimestampFormatter[]")
      val zone = ctx.addReferenceObj("zoneId", zoneId, "java.time.ZoneId")
      nullSafeCodeGen(ctx, ev, s =>
        s"""${ev.value} = graft.functions.NormalizeExpressions.parseDate($s, $fmts, $zone, $labelPath);
           |${ev.isNull} = ${ev.value} == $NoDate;""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override def prettyName: String =
      if (labelPath) "graft_parse_date_label" else "graft_parse_date_multi"
  }

  /** Safe decimal coercion with the millions heuristic (reference
    * transform.py:168-186): strip `[,$%\s]`, map the sentinels `""`,
    * `N/A`, `n/a`, `-` to null, parse at `(p+6, s+6)` (capped at
    * precision 38) with HALF_UP, scale `0 < v < 1e6` by 1e6, then quantize
    * to `(p, s)`; overflow -> null. Scales above 6 are refused: there the
    * built-in tree's product type rounded before the quantize.
    */
  case class SafeDecimal(child: Expression, precision: Int, scale: Int)
      extends UnaryExpression {
    require(scale >= 0 && scale <= 6 && scale <= precision && precision <= 38,
      s"safeDecimal needs 0 <= scale <= min(6, precision), precision <= 38: ($precision, $scale)")

    override def dataType: DataType = DecimalType(precision, scale)
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $other")
    }

    override def nullSafeEval(input: Any): Any =
      safeDecimal(input.asInstanceOf[UTF8String], precision, scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"""${ev.value} = graft.functions.NormalizeExpressions.safeDecimal($s, $precision, $scale);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override def prettyName: String = "graft_safe_decimal"
  }

  /** The Pydantic validator's millions heuristic (reference
    * config.py:89-97): ANY value `< 1e6`, negatives included, is scaled by
    * 1e6, then quantized to `(p, s)`; overflow -> null. The input must be
    * a decimal of scale at most 12, where the built-in product was exact.
    */
  case class MillionsValidator(child: Expression, precision: Int, scale: Int)
      extends UnaryExpression {

    override def dataType: DataType = DecimalType(precision, scale)
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case d: DecimalType if d.scale <= 12 => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires decimal(p, s<=12), got $other")
    }

    override def nullSafeEval(input: Any): Any =
      millions(input.asInstanceOf[Decimal], precision, scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v =>
        s"""${ev.value} = graft.functions.NormalizeExpressions.millions($v, $precision, $scale);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override def prettyName: String = "graft_millions"
  }

  /** Python falsiness of a key (reference transform.py:82, `a or b`):
    * null, the empty string, or anything a double cast reads as zero
    * (`"0"`, `"0.00"`, `0`, `false`); a non-numeric string is truthy. The
    * pushed-down quarantine filter repeats the date key's coalesce three
    * times: with the composed cast test the income normalize + quarantine
    * class is 777 lines, with this kernel 509.
    */
  case class Falsy(child: Expression) extends UnaryExpression {

    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType | _: NumericType | BooleanType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, number or boolean, got $other")
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      child.eval(input) match {
        case null => true
        case s: UTF8String => falsyString(s)
        case d: Decimal => d.toDouble == 0.0
        case b: Boolean => !b
        case n: Byte => n == 0
        case n: Short => n == 0
        case n: Int => n == 0
        case n: Long => n == 0L
        case n: Float => n == 0.0f
        case n: Double => n == 0.0
      }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val test = child.dataType match {
        case _: StringType => s"graft.functions.NormalizeExpressions.falsyString(${c.value})"
        case _: DecimalType => s"${c.value}.toDouble() == 0.0"
        case BooleanType => s"!${c.value}"
        case _ => s"(double) ${c.value} == 0.0"
      }
      ev.copy(code = code"""${c.code}
        |boolean ${ev.value} = ${c.isNull} || $test;""".stripMargin, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override def prettyName: String = "graft_falsy"
  }

  /** `"YYYY-QN"` quarter label (reference transform.py:51-53):
    * `concat(cast(year(d) as string), '-Q', cast(quarter(d) as string))`
    * as one call. The quarantine filter validates the label of the parsed
    * date, so the label's tree was inlined into the filter as well as the
    * projection: with the composed label the income normalize + quarantine
    * class is 622 lines, with this kernel 509.
    */
  case class QuarterLabel(child: Expression) extends UnaryExpression {

    override def dataType: DataType = StringType

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case DateType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires date, got $other")
    }

    override def nullSafeEval(input: Any): Any = quarterLabel(input.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, d => s"graft.functions.NormalizeExpressions.quarterLabel($d)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)

    override def prettyName: String = "graft_quarter_label"
  }

  /** Kernel shared by [[QuarterLabel]]'s eval and codegen paths. */
  def quarterLabel(days: Int): UTF8String = UTF8String.fromString(
    s"${DateTimeUtils.getYear(days)}-Q${DateTimeUtils.getQuarter(days)}")

  /** Parse formats: ISO date, ISO date-time, month-first, day-first. */
  private val DateFormats =
    Array("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy", "dd/MM/yyyy")

  /** "No date": never a day number of a 4-digit year. */
  private final val NoDate = Int.MinValue

  /** The rule's shape tests, matched as `rlike` matches them (`find()`). */
  private val IsoDate = Pattern.compile("^\\d{4}-\\d{2}-\\d{2}$")
  private val IsoDateTime = Pattern.compile("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$")
  private val MonthFirst = Pattern.compile("^\\d{2}/\\d{2}/\\d{4}$")
  private val BareYear = Pattern.compile("^\\d{4}(\\.0+)?$")

  /** One `try_to_date(s, fmt)`: NoDate where it returned null. */
  private def tryParse(s: String, fmt: TimestampFormatter, zone: ZoneId): Int =
    try DateTimeUtils.microsToDays(fmt.parse(s), zone)
    catch {
      case _: DateTimeException | _: java.text.ParseException => NoDate
    }

  /** Kernel shared by [[ParseDate]]'s eval and codegen paths: the day
    * number, or NoDate. `fmts` is in [[DateFormats]] order. */
  def parseDate(s: UTF8String, fmts: Array[TimestampFormatter], zone: ZoneId,
                labelPath: Boolean): Int = {
    val str = s.toString
    if (IsoDate.matcher(str).find()) tryParse(str, fmts(0), zone)
    else if (IsoDateTime.matcher(str).find()) tryParse(str, fmts(1), zone)
    else if (MonthFirst.matcher(str).find()) {
      val monthFirst = tryParse(str, fmts(2), zone)
      if (monthFirst != NoDate || !labelPath) monthFirst else tryParse(str, fmts(3), zone)
    } else if (!labelPath && BareYear.matcher(str).find()) {
      // The rule reads the year through a trimming double cast, and the
      // trim drops only ASCII terminators: a non-ASCII one leaves no year.
      if (str.charAt(str.length - 1) > 0x7f) NoDate
      else LocalDate.of(Integer.parseInt(str, 0, 4, 10), 12, 31).toEpochDay.toInt
    } else NoDate
  }

  /** Kernel shared by [[Falsy]]'s eval and codegen paths: empty, or a
    * string `try_cast(s as double)` reads as zero. */
  def falsyString(s: UTF8String): Boolean = s.numBytes() == 0 || {
    val str = s.toString
    val d: Any = try java.lang.Double.valueOf(str) catch {
      case _: NumberFormatException =>
        org.apache.spark.sql.catalyst.expressions.Cast.processFloatingPointSpecialLiterals(str, false)
    }
    d match {
      case x: java.lang.Double => x.doubleValue() == 0.0
      case _ => false
    }
  }

  private val Zero = Decimal(0)
  private val Million = Decimal(1000000)
  private val Sentinels = Seq("", "N/A", "n/a", "-").map(UTF8String.fromString)

  /** `[,$%\s]` as bytes (Java's `\s` is `[ \t\n\x0B\f\r]`). */
  private def stripped(b: Byte): Boolean =
    b == ',' || b == '$' || b == '%' || b == ' ' || b == '\t' || b == '\n' ||
      b == 0x0b || b == '\f' || b == '\r'

  /** Kernel shared by [[SafeDecimal]]'s eval and codegen paths. */
  def safeDecimal(s: UTF8String, precision: Int, scale: Int): Decimal = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var kept = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (!stripped(b)) { out(kept) = b; kept += 1 }
      i += 1
    }
    val cleaned = if (kept == n) s else UTF8String.fromBytes(out, 0, kept)
    if (cleaned.numBytes() <= 3 && Sentinels.contains(cleaned)) return null
    val v = Decimal.fromString(cleaned)
    // Extra fractional digits only as far as precision can grow: at
    // precision 38 the wide parse is the plain one, so the escape hatch
    // keeps its full magnitude.
    val wideP = math.min(precision + 6, 38)
    if (v == null || !v.changePrecision(wideP, scale + (wideP - precision))) return null
    val scaled = if (v > Zero && v < Million) v * Million else v
    if (scaled.changePrecision(precision, scale)) scaled else null
  }

  /** Kernel shared by [[MillionsValidator]]'s eval and codegen paths.
    * Never mutates `v`: the child's value may be shared. */
  def millions(v: Decimal, precision: Int, scale: Int): Decimal = {
    val scaled = if (v < Million) v * Million else v.clone()
    if (scaled.changePrecision(precision, scale)) scaled else null
  }
}
