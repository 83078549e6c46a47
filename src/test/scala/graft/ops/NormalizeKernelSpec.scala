package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpec

/** The normalize kernels ([[graft.functions.NormalizeExpressions]]) against
  * the composed Catalyst trees they replaced. The trees live here as the
  * reference: every kernel must return exactly what its tree returns, row
  * by row, on the codegen path (a projection) and on the interpreted path
  * (codegen switched off), over an edge table plus generated strings.
  */
class NormalizeKernelSpec extends SparkSpec {
  import spark.implicits._
  import NormalizeKernelSpec._

  /** (input, kernel, tree) per row, from one projection. */
  private def results(inputs: Seq[String], kernel: Column => Column,
                      tree: Column => Column): Seq[(String, Any, Any)] =
    inputs.map(Option(_)).toDF("raw")
      .select(col("raw"), kernel(col("raw")).as("k"), tree(col("raw")).as("t"))
      .collect().toSeq.map(r => (r.getString(0), r.get(1), r.get(2)))

  /** Asserts kernel == tree on every input, codegen and interpreted. */
  private def agree(what: String, inputs: Seq[String], kernel: Column => Column,
                    tree: Column => Column): Unit = {
    def check(path: String)(rows: Seq[(String, Any, Any)]): Unit = {
      assert(rows.size == inputs.size)
      val bad = rows.filter { case (_, k, t) => !java.util.Objects.equals(k, t) }
      assert(bad.isEmpty, s"$what ($path) differs on ${bad.size} inputs, e.g. " +
        bad.take(5).map { case (in, k, t) => s"${show(in)}: kernel=$k tree=$t" }.mkString("; "))
    }
    check("codegen")(results(inputs, kernel, tree))
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check("interpreted")(results(inputs, kernel, tree))
      // A filter evaluates the kernel as a predicate operand.
      val kept = inputs.map(Option(_)).toDF("raw")
        .where(kernel(col("raw")) <=> tree(col("raw"))).count()
      assert(kept == inputs.size, s"$what (interpreted filter)")
    }
  }

  private def show(s: String): String =
    if (s == null) "null" else s.flatMap {
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  test("date parse kernels equal their trees on the edge table and generated strings") {
    val inputs = DateEdges ++ generatedDates(600)
    agree("parseDateMulti", inputs, Normalize.parseDateMulti, Composed.parseDateMulti)
    agree("parseDateLabelPath", inputs, Normalize.parseDateLabelPath,
      Composed.parseDateLabelPath)
  }

  test("date parse kernels follow the session zone and parser policy") {
    val inputs = DateEdges ++ generatedDates(200)
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      agree("parseDateMulti in LA", inputs, Normalize.parseDateMulti, Composed.parseDateMulti)
    }
    withConf("spark.sql.legacy.timeParserPolicy" -> "LEGACY") {
      agree("parseDateMulti LEGACY", inputs, Normalize.parseDateMulti,
        Composed.parseDateMulti)
      agree("parseDateLabelPath LEGACY", inputs, Normalize.parseDateLabelPath,
        Composed.parseDateLabelPath)
    }
  }

  test("parity points: find() anchors, bare year, invalid dates, null") {
    def multi(s: String): Any = results(Seq(s), Normalize.parseDateMulti, _ => lit(null)).head._2
    // `$` matches before one trailing \n (rlike is find()); the parser then
    // sees the \n and rejects it, so the row is null either way...
    assert(multi("2024-01-01\n") == null)
    // ...but the bare-year rule reads the year through a trimming cast.
    assert(multi("2020\n") == sqlDate("2020-12-31"))
    assert(multi("2020\n\n") == null)
    assert(multi("2020") == sqlDate("2020-12-31"))
    assert(multi("2020.0") == sqlDate("2020-12-31"))
    assert(multi("2020.5") == null)
    assert(multi("0000") == java.sql.Date.valueOf(java.time.LocalDate.of(0, 12, 31)))
    assert(multi("2024-02-30") == null)
    assert(multi("2024-1-01") == null)
    assert(multi(" 2024-01-01") == null)
    assert(multi(null) == null)
  }

  test("non-ASCII line terminators: kernel gives the tree's non-ANSI answer") {
    // The tree's bare-year branch casts "2020\u0085" to double: null
    // without ANSI, a cast error with it. The kernel always answers null.
    val inputs = Seq("2020\u0085", "2020\u2028", "2020.0\u2029", "2024-01-01\u2028",
      "01/02/2020\u0085", "2020\r", "2020\r\n")
    withConf("spark.sql.ansi.enabled" -> "false") {
      agree("parseDateMulti non-ANSI", inputs, Normalize.parseDateMulti,
        Composed.parseDateMulti)
    }
    val ansi = results(inputs, Normalize.parseDateMulti, _ => lit(null))
    assert(ansi.take(3).forall(_._2 == null), ansi)
  }

  test("safeDecimal kernel equals its tree at every precision and scale it accepts") {
    val inputs = DecimalEdges ++ generatedDecimals(600)
    for ((p, s) <- Seq((15, 2), (38, 2), (10, 0), (20, 6), (34, 4), (38, 6), (6, 6)))
      agree(s"safeDecimal($p,$s)", inputs, Normalize.safeDecimal(_, p, s),
        Composed.safeDecimal(_, p, s))
  }

  test("millionsValidator kernel equals its tree, alone and after safeDecimal") {
    val inputs = DecimalEdges ++ generatedDecimals(600)
    agree("millions(safeDecimal)", inputs,
      c => Normalize.millionsValidator(Normalize.safeDecimal(c)),
      c => Composed.millionsValidator(Composed.safeDecimal(c)))
    def agreeFrom(in: DecimalType, p: Int, s: Int): Unit = {
      val asDecimal = (c: Column) => c.try_cast(in)
      agree(s"millions $in -> ($p,$s)", inputs,
        c => Normalize.millionsValidator(asDecimal(c), p, s),
        c => Composed.millionsValidator(asDecimal(c), p, s))
    }
    for ((in, (p, s)) <- Seq(((15, 2), (15, 2)), ((20, 6), (15, 2)), ((12, 12), (30, 4)),
        ((30, 0), (15, 2))))
      agreeFrom(DecimalType(in._1, in._2), p, s)
    // From decimal(38, 2) a product past 38 digits made the tree raise an
    // ANSI overflow; without ANSI it answered null, as the kernel does.
    withConf("spark.sql.ansi.enabled" -> "false")(agreeFrom(DecimalType(38, 2), 38, 2))
  }

  test("truthy coalesce kernel equals its tree on strings, numbers and booleans") {
    val inputs = DateEdges ++ DecimalEdges ++ generatedDecimals(300) ++
      Seq("0", "0.0", "-0", "+0", "0e5", "0x0", "NaN", "nan", "Infinity", "-inf", "0d", "0f",
        " 0 ", "\t0\n", "false", "true", "00", ".0", "0.", "-0.0E-3")
    val fallback = lit("fallback")
    agree("coalesceKeyTruthy(string)", inputs,
      Normalize.coalesceKeyTruthy(_, fallback), Composed.coalesceKeyTruthy(_, fallback))
    for (t <- Seq[DataType](DecimalType(10, 4), DecimalType(38, 0), DoubleType, FloatType,
        LongType, IntegerType, ShortType, ByteType, BooleanType)) {
      val typed = (c: Column) => c.try_cast(t)
      agree(s"coalesceKeyTruthy($t)", inputs,
        c => Normalize.coalesceKeyTruthy(typed(c), typed(lit("7"))),
        c => Composed.coalesceKeyTruthy(typed(c), typed(lit("7"))))
    }
  }

  test("quarter label kernel equals its tree on dates, timestamps and strings") {
    val days = (0 until 400).flatMap(_ => Gen.choose(-800000L, 3000000L).sample) ++
      Seq(-719528L, -719162L, 0L, 2932896L)
    val dates = days.map(d => java.time.LocalDate.ofEpochDay(d).toString) ++
      DateEdges.filter(_ != null) :+ null
    agree("quarterLabel(date)", dates, c => Normalize.quarterLabel(c.try_cast(DateType)),
      c => Composed.quarterLabel(c.try_cast(DateType)))
    agree("quarterLabel(timestamp)", dates,
      c => Normalize.quarterLabel(c.try_cast(TimestampType)),
      c => Composed.quarterLabel(c.try_cast(TimestampType)))
    withConf("spark.sql.ansi.enabled" -> "false") {
      agree("quarterLabel(string)", dates, Normalize.quarterLabel, Composed.quarterLabel)
    }
  }

  test("parity points: sentinels, stripping, HALF_UP twice, overflow, precision 38") {
    def sd(s: String, p: Int = 15): Any =
      results(Seq(s), Normalize.safeDecimal(_, p, 2), _ => lit(null)).head._2
    Seq("", "N/A", "n/a", "-", " N/A ", "$", "%,", " - ", null).foreach(s =>
      assert(sd(s) == null, show(s)))
    assert(sd("$1,234.5%") == new java.math.BigDecimal("1234500000.00"))
    // Parsed HALF_UP at 8 places, scaled, then HALF_UP at 2.
    assert(sd("0.0049999995") == new java.math.BigDecimal("5000.00"))
    assert(sd("9999999999999.99") == new java.math.BigDecimal("9999999999999.99"))
    assert(sd("9999999999999.995") == null)
    assert(sd("1" + "0" * 35, 38) == new java.math.BigDecimal("1" + "0" * 35 + ".00"))
    assert(sd("1" + "0" * 36, 38) == null)
  }
}

object NormalizeKernelSpec {

  /** The composed Catalyst trees the kernels replaced, verbatim (the
    * truthy coalesce's CASE stays in `src/main`; its falsiness test is
    * what became a kernel). */
  object Composed {
    def parseDateMulti(c: Column): Column = {
      val s = c.cast(StringType)
      when(s.rlike("^\\d{4}-\\d{2}-\\d{2}$"), try_to_date(s, "yyyy-MM-dd"))
        .when(s.rlike("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$"),
          try_to_date(s, "yyyy-MM-dd HH:mm:ss"))
        .when(s.rlike("^\\d{2}/\\d{2}/\\d{4}$"), try_to_date(s, "MM/dd/yyyy"))
        .when(s.rlike("^\\d{4}(\\.0+)?$"),
          make_date(s.cast(DoubleType).cast(IntegerType), lit(12), lit(31)))
    }

    def parseDateLabelPath(c: Column): Column = {
      val s = c.cast(StringType)
      when(s.rlike("^\\d{4}-\\d{2}-\\d{2}$"), try_to_date(s, "yyyy-MM-dd"))
        .when(s.rlike("^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$"),
          try_to_date(s, "yyyy-MM-dd HH:mm:ss"))
        .when(s.rlike("^\\d{2}/\\d{2}/\\d{4}$"),
          coalesce(try_to_date(s, "MM/dd/yyyy"), try_to_date(s, "dd/MM/yyyy")))
    }

    private val MissingTokens = Seq("", "N/A", "n/a", "-")

    def safeDecimal(c: Column, precision: Int = 15, scale: Int = 2): Column = {
      val cleaned = regexp_replace(c.cast(StringType), "[,$%\\s]", "")
      val nulled  = when(cleaned.isin(MissingTokens: _*), lit(null)).otherwise(cleaned)
      val wideP   = math.min(precision + 6, 38)
      val wide    = DecimalType(wideP, scale + (wideP - precision))
      val v       = nulled.try_cast(wide)
      val scaled  = when(v > 0 && v < 1000000L, v * 1000000L).otherwise(v)
      scaled.try_cast(DecimalType(precision, scale))
    }

    def quarterLabel(d: Column): Column =
      concat(year(d).cast(StringType), lit("-Q"), quarter(d).cast(StringType))

    def coalesceKeyTruthy(a: Column, b: Column): Column = {
      val falsy = a.isNull || a.cast(StringType) === "" ||
        coalesce(a.try_cast(DoubleType) === 0, lit(false))
      when(falsy, b).otherwise(a)
    }

    def millionsValidator(v: Column, precision: Int = 15, scale: Int = 2): Column =
      when(v.isNotNull && v < 1000000L, v * 1000000L)
        .otherwise(v)
        .try_cast(DecimalType(precision, scale))
  }

  val DateEdges: Seq[String] = Seq(
    "2025-06-30", "2025-06-30 14:30:00", "06/30/2025", "30/06/2025", "13/01/2020",
    "05/06/2020", "29/02/2020", "02/29/2021", "2024-02-30", "2023-02-29", "2024-13-01",
    "2024-00-10", "2024-01-00", "00/10/2020", "2024-1-01", "2024-01-1", "1/2/2020",
    "2024-01-01T00:00:00", "2024-01-01 24:00:00", "2024-01-01 23:59:60",
    "2024-01-01\n", "2024-01-01\r\n", "2024-01-01\r", "2024-01-01\n\n", "\n2024-01-01",
    "2024-01-01 10:00:00\n", "01/02/2020\n", " 2024-01-01", "2024-01-01 ", " 2024-01-01 ",
    "2020", "2020.0", "2020.00", "2020.5", "2020.", "2020.05", "0000", "0000.0", "9999",
    "2020\n", "2020.0\n", " 2020", "2020 ", "20200", "202", "-2020", "+2020", "2020e0",
    "", " ", "\n", "invalid-date", "NaN", "\u0662\u0660\u0662\u0660", "\uff12\uff10\uff12\uff10-01-01", "2024-01-01\u0000",
    null)

  val DecimalEdges: Seq[String] = Seq(
    "22500", "1500.5", "22500000000", "1000000", "999999.99", "999999.995",
    "$1,500,000,000", "$1,234.5%", " 42 ", "\t42\n", "4 2", "N/A", "n/a", "-", "",
    " N/A ", "n/A", "NA", "--", "-%", "$", "%", ",", "TBD", "-999.99", "0", "-0",
    "0.000001", "0.0000001", "0.00000001", "0.000000005", "0.0049999995",
    "0.123456789012", "1.000000005", "123.456", "+42", "-42", "1.5e3", "1.5E3", "2E-7",
    "-2e2", "1e6", "1e5", "1E+2", "1e400", "1e-400", ".5", "5.", "-.5", "1_000", "0x10",
    "Infinity", "NaN", "\u0661\u0662\u0663", "\u0001123", "123\u0001",
    "9999999999999.99", "9999999999999.995", "10000000000000", "-9999999999999.99",
    "99999999999999", "999999999999999", "1" + "0" * 30, "1" + "0" * 35,
    "9" * 36 + ".99", "1" + "0" * 36, "1" + "0" * 38, "1" + "0" * 40, "-" + "9" * 30,
    "0." + "0" * 40 + "1", null)

  /** Strings near the date shapes: valid and invalid renders with noise. */
  def generatedDates(n: Int): Seq[String] = {
    val digit = Gen.choose('0', '9').map(_.toString)
    val noise = Gen.frequency(8 -> digit, 1 -> Gen.oneOf("-", "/", ":", " ", ".", "0"),
      1 -> Gen.oneOf("\n", "\r\n", "T", "a"))
    val junk = Gen.chooseNum(0, 20).flatMap(k => Gen.listOfN(k, noise)).map(_.mkString)
    val two = (i: Int) => f"$i%02d"
    val render = for {
      y <- Gen.frequency(9 -> Gen.choose(1900, 2100), 1 -> Gen.choose(0, 9999))
      m <- Gen.choose(0, 13)
      d <- Gen.choose(0, 32)
      h <- Gen.choose(0, 24)
      fmt <- Gen.choose(0, 5)
    } yield fmt match {
      case 0 => f"$y%04d-${two(m)}-${two(d)}"
      case 1 => f"$y%04d-${two(m)}-${two(d)} ${two(h)}:${two(d % 60)}:${two(m)}"
      case 2 => s"${two(m)}/${two(d)}/" + f"$y%04d"
      case 3 => s"${two(d)}/${two(m)}/" + f"$y%04d"
      case 4 => f"$y%04d" + (if (d % 3 == 0) "" else "." + "0" * (d % 4) + (if (d % 5 == 0) "5" else ""))
      case _ => f"$y-$m-$d"
    }
    val dressed = for {
      s <- render
      pre <- Gen.frequency(12 -> "", 1 -> " ", 1 -> "\n")
      post <- Gen.frequency(10 -> "", 1 -> " ", 1 -> "\n", 1 -> "\r\n", 1 -> "\n\n")
    } yield pre + s + post
    val gen = Gen.frequency(4 -> dressed, 1 -> junk)
    val rng = org.scalacheck.rng.Seed(1701L)
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, rng.reseed(i.toLong)))
  }

  /** Numeric-looking strings with the noise the cleanup strips. */
  def generatedDecimals(n: Int): Seq[String] = {
    val digits = (k: Int) => Gen.listOfN(k, Gen.choose('0', '9')).map(_.mkString)
    val number = for {
      sign <- Gen.frequency(6 -> "", 2 -> "-", 1 -> "+")
      intLen <- Gen.frequency(3 -> Gen.choose(0, 7), 2 -> Gen.choose(8, 16), 1 -> Gen.choose(17, 40))
      fracLen <- Gen.frequency(2 -> Gen.const(-1), 4 -> Gen.choose(0, 4), 2 -> Gen.choose(5, 12))
      i <- digits(intLen)
      f <- digits(math.max(fracLen, 0))
      exp <- Gen.frequency(8 -> "", 1 -> Gen.choose(-12, 12).map(e => s"e$e"),
        1 -> Gen.choose(-3, 3).map(e => s"E+$e".replace("+-", "-")))
    } yield sign + (if (i.isEmpty && fracLen < 0) "0" else i) +
      (if (fracLen >= 0) "." + f else "") + exp
    val dressed = for {
      s <- number
      k <- Gen.choose(0, 3)
      marks <- Gen.listOfN(k, Gen.oneOf(",", "$", "%", " ", "\t", "\n"))
      at <- Gen.listOfN(k, Gen.choose(0, 40))
    } yield marks.zip(at).foldLeft(s) { case (acc, (mk, p)) =>
      val j = p % (acc.length + 1)
      acc.substring(0, j) + mk + acc.substring(j)
    }
    val junk = Gen.chooseNum(0, 6).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("1", "0", ".", "-", "N", "/", "A", "a", "n", "e", " ", "$")))
      .map(_.mkString)
    val gen = Gen.frequency(6 -> dressed, 1 -> junk)
    val rng = org.scalacheck.rng.Seed(4242L)
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, rng.reseed(i.toLong)))
  }
}
