package graft

import graft.operators.TimestampStyles
import graft.timefmt.CsvTimestamp
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The CSV-timestamp byte kernel against its `to_timestamp` oracle:
  * seeded valid instants over years 0000–9999 and every offset, and
  * near misses around each rule the kernel checks. The parse
  * `TimestampStyles.csvTimestamp` builds must give, string for string,
  * the micros, the null or the error class that plain `to_timestamp`
  * gives, under ANSI on and off; and the kernel must be left out of
  * the plan wherever it could not give the same answer. */
class CsvTimestampSpec extends SparkSpec {

  private val DefaultFmt = "%Y-%m-%d %H:%M:%S.%f%z"
  private val ZonelessFmt = "%Y-%m-%d %H:%M:%S.%f"

  /** A copy of the suite's session with `confs` set on it. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = GraftBridge.cloneSession(spark)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def pad(v: Int, w: Int): String = {
    val s = v.toString
    "0" * (w - s.length) + s
  }

  private def offsetText(sign: Char, minutes: Int): String =
    s"$sign${pad(minutes / 60, 2)}${pad(minutes % 60, 2)}"

  /** `fmt` rendered from the given field texts. */
  private def render(fmt: String, fields: Map[Char, String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        val d = fmt.charAt(i + 1)
        out.append(if (d == '%') "%" else fields(d))
        i += 2
      } else { out.append(fmt.charAt(i)); i += 1 }
    }
    out.toString
  }

  private def monthDays(y: Int, m: Int): Int = java.time.YearMonth.of(y, m).lengthOfMonth

  private def randomFields(r: java.util.Random): Map[Char, String] = {
    val y = r.nextInt(10000)
    val m = 1 + r.nextInt(12)
    val off = r.nextInt(18 * 60 + 1)
    Map('Y' -> pad(y, 4), 'm' -> pad(m, 2), 'd' -> pad(1 + r.nextInt(monthDays(y, m)), 2),
      'H' -> pad(r.nextInt(24), 2), 'M' -> pad(r.nextInt(60), 2), 'S' -> pad(r.nextInt(60), 2),
      'f' -> pad(r.nextInt(1000000), 6),
      'z' -> offsetText(if (r.nextBoolean()) '+' else '-', off))
  }

  /** Bytes a mutation splices in: digits, separators, signs, letters
    * java.time knows, a non-ASCII digit and a full-width one. */
  private val splices = Seq("0", "9", "5", " ", "-", ":", ".", "+", "T", "Z", "z", "a", "٣",
    "１", "\t", "/", "00", "")

  private def mutate(s: String, r: java.util.Random): String = {
    val at = r.nextInt(s.length + 1)
    r.nextInt(4) match {
      case 0 if s.nonEmpty => s.take(at) + s.drop(at + 1) // delete
      case 1 => s.take(at) + splices(r.nextInt(splices.length)) + s.drop(at) // insert
      case 2 if at < s.length => // replace
        s.take(at) + splices(r.nextInt(splices.length)) + s.drop(at + 1)
      case _ => s.take(at) // truncate
    }
  }

  /** Targeted near misses of one rendering of `fmt`. */
  private def nearMisses(fmt: String, f: Map[Char, String]): Seq[String] = {
    val one = Seq('m', 'd', 'H', 'M', 'S').map(d => render(fmt, f + (d -> "7")))
    val fractions = Seq("5", "00012", "12345", "0001250", "1234567").map(x => render(fmt, f + ('f' -> x)))
    val ranges = Seq('H' -> "24", 'M' -> "60", 'S' -> "60", 'm' -> "00", 'm' -> "13", 'd' -> "00",
      'd' -> "32", 'Y' -> "+2019", 'Y' -> "12019", 'Y' -> "019").map(p => render(fmt, f + p))
    val offsets = Seq("+1801", "-1801", "+1900", "+0060", "+05:30", "Z", "+05", "+0530 ", "UTC",
      "GMT+05:30", "+00000").map(z => render(fmt, f + ('z' -> z)))
    val s = render(fmt, f)
    val spacing = Seq(" " + s, s + " ", s.replaceFirst(" ", "T"), s.replace('-', '/'),
      s.replace("0", "٠"), s.replace("1", "１"))
    one ++ fractions ++ ranges ++ offsets ++ spacing
  }

  /** Seeded strings for `fmt`: random valid renderings, every offset
    * from −1800 to +1800 (with −0000), Feb 29 of 1900, 2000 and 2019,
    * targeted near misses, random mutations, the empty string and null. */
  private def strings(fmt: String, seed: Long, n: Int): Seq[String] = {
    val r = new java.util.Random(seed)
    val valid = Seq.fill(n / 2)(render(fmt, randomFields(r)))
    val offsets = for (sign <- Seq('+', '-'); m <- 0 to 18 * 60)
      yield render(fmt, randomFields(r) + ('z' -> offsetText(sign, m)))
    val feb29 = Seq(1900, 2000, 2019).map(y =>
      render(fmt, randomFields(r) ++ Map('Y' -> pad(y, 4), 'm' -> "02", 'd' -> "29")))
    val targeted = Seq.fill(n / 80)(nearMisses(fmt, randomFields(r))).flatten
    val mutated = Seq.fill(n / 2 - targeted.length)(mutate(render(fmt, randomFields(r)), r))
    Seq("", null) ++ valid ++ offsets ++ feb29 ++ targeted ++ mutated
  }

  private def condition(t: Throwable): String = t match {
    case null => "no condition"
    case s: SparkThrowable if s.getCondition != null => s.getCondition
    case _ => if (t.getCause == null || (t.getCause eq t)) t.getClass.getName else condition(t.getCause)
  }

  /** `build(s)` as epoch micros, compiled for row-at-a-time evaluation
    * on the driver under `s`'s conf, so each string keeps its own error. */
  private def rowEval(s: SparkSession, build: Column => Column): String => Either[String, Option[Long]] = {
    val input = s.createDataFrame(s.sparkContext.parallelize(Seq(Row("x")), 1),
      StructType(Seq(StructField("s", StringType))))
    val Project(Seq(e), child) =
      input.select(unix_micros(build(col("s"))).as("us")).queryExecution.optimizedPlan
    val proj = UnsafeProjection.create(Seq(e), child.output)
    v =>
      try {
        val row = proj(InternalRow(if (v == null) null else UTF8String.fromString(v)))
        Right(if (row.isNullAt(0)) None else Some(row.getLong(0)))
      } catch { case t: Throwable => Left(condition(t)) }
  }

  /** Whether the analyzed plan of `build` over a string column under
    * `s` holds the kernel. */
  private def hasKernel(s: SparkSession, build: Column => Column): Boolean =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(Seq(StructField("s", StringType))))
      .select(build(col("s"))).queryExecution.analyzed.expressions
      .exists(_.exists(_.isInstanceOf[CsvTimestamp.ParseCsvTimestamp]))

  /** What the helper must give for `fmt` under `s`: plain `to_timestamp`
    * with the format's pattern, except that a string the pattern's
    * `[XXX][XX]` reads but neither strict offset pattern (`XXX`, `XX`)
    * does — a missing or doubled `%z` offset — fails like an unparseable
    * string: null, or `CANNOT_PARSE_TIMESTAMP` under ANSI. */
  private def oracle(s: SparkSession, fmt: String): String => Either[String, Option[Long]] = {
    val java = graft.timefmt.Strftime.toJava(fmt)
    val wide = rowEval(s, c => to_timestamp(c, java))
    if (!java.contains("[XXX][XX]")) wide
    else {
      val strict = Seq("XXX", "XX").map(p => rowEval(s, c => to_timestamp(c, java.replace("[XXX][XX]", p))))
      val failure =
        if (s.conf.get("spark.sql.ansi.enabled").toBoolean) Left("CANNOT_PARSE_TIMESTAMP")
        else Right(None)
      v => {
        val w = wide(v)
        if (w.exists(_.isDefined) && !strict.exists(_(v).exists(_.isDefined))) failure else w
      }
    }
  }

  /** The helper's parse of `fmt` equals [[oracle]] on every string under
    * `s`; returns how many strings the kernel itself took. */
  private def assertExact(s: SparkSession, fmt: String, inputs: Seq[String]): Int = {
    val viaHelper = rowEval(s, c => TimestampStyles.csvTimestamp(s, c, fmt))
    val plain = oracle(s, fmt)
    val kernel = rowEval(s, c => CsvTimestamp.parse_csv_timestamp(c, fmt))
    var took = 0
    inputs.foreach { v =>
      val want = plain(v)
      assert(viaHelper(v) == want, s"'$v' under $fmt")
      kernel(v) match {
        case Right(Some(us)) => took += 1; assert(want == Right(Some(us)), s"kernel took '$v' under $fmt")
        case other => assert(other == Right(None), s"kernel on '$v': $other")
      }
    }
    took
  }

  test("the default format: kernel + fallback equals to_timestamp on 100k+ strings, ANSI on and off") {
    val inputs = strings(DefaultFmt, 20261019L, 100000)
    assert(inputs.length >= 100000)
    for (ansi <- Seq("true", "false")) {
      val s = session("spark.sql.ansi.enabled" -> ansi)
      assert(CsvTimestamp.applies(s, DefaultFmt))
      val took = assertExact(s, DefaultFmt, inputs)
      // every valid rendering and offset, and Feb 29 of 2000 only
      assert(took > 52000 && took < inputs.length - 20000, s"kernel took $took of ${inputs.length}")
    }
  }

  test("%z reads the offset forms Python's strptime %z takes, ANSI on and off; the kernel only +HHMM") {
    val instant = java.time.LocalDateTime.parse("2019-12-12T10:00:00.000125")
    def micros(offset: String): Long = {
      val i = instant.toInstant(java.time.ZoneOffset.of(offset))
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val forms = Seq("+0530" -> micros("+05:30"), "-0800" -> micros("-08:00"),
      "+05:30" -> micros("+05:30"), "-08:00" -> micros("-08:00"), "Z" -> micros("Z"))
    for (ansi <- Seq("true", "false")) {
      val s = session("spark.sql.ansi.enabled" -> ansi)
      val viaHelper = rowEval(s, c => TimestampStyles.csvTimestamp(s, c, DefaultFmt))
      val kernel = rowEval(s, c => CsvTimestamp.parse_csv_timestamp(c, DefaultFmt))
      forms.foreach { case (z, us) =>
        val v = s"2019-12-12 10:00:00.000125$z"
        assert(viaHelper(v) == Right(Some(us)), s"'$v' ansi=$ansi")
        assert(kernel(v) == Right(if (z.length == 5 && z(3) != ':') Some(us) else None), s"kernel on '$v'")
      }
    }
  }

  test("a missing or doubled %z offset fails like an unparseable string, ANSI on and off; the kernel is unchanged") {
    val base = "2019-12-12 10:00:00.000125"
    val bad = Seq("", "ZZ", "+05:30+0530")
      .map(base + _) :+ "at 10%00 on 12.12.2019"
    for (ansi <- Seq("true", "false")) {
      val s = session("spark.sql.ansi.enabled" -> ansi)
      val failure = if (ansi == "true") Left("CANNOT_PARSE_TIMESTAMP") else Right(None)
      val viaHelper = rowEval(s, c => TimestampStyles.csvTimestamp(s, c, DefaultFmt))
      val literalAfter = rowEval(s, c => TimestampStyles.csvTimestamp(s, c, "%Y-%m-%d %H:%M:%S.%f%z UTC"))
      val wide = rowEval(s, c => to_timestamp(c, graft.timefmt.Strftime.toJava(DefaultFmt)))
      bad.init.foreach { v =>
        assert(wide(v).exists(_.isDefined), s"'$v' was read by [XXX][XX]")
        assert(viaHelper(v) == failure, s"'$v' ansi=$ansi")
        assert(literalAfter(v + " UTC") == failure, s"'$v UTC' ansi=$ansi")
      }
      val middle = rowEval(s, c => TimestampStyles.csvTimestamp(s, c, "at %H%%%M on %d.%m.%Y%z"))
      assert(middle(bad.last) == failure, s"'${bad.last}' ansi=$ansi")
      assert(middle(bad.last + "+0530").exists(_.isDefined))
      assert(literalAfter(base + "+0530 UTC") == viaHelper(base + "+05:30"))
      assert(hasKernel(s, TimestampStyles.csvTimestamp(s, _, DefaultFmt)))
      val kernel = rowEval(s, c => CsvTimestamp.parse_csv_timestamp(c, DefaultFmt))
      assert(kernel(base + "+0000").exists(_.isDefined))
    }
  }

  test("the kernel runs inside whole-stage codegen and matches to_timestamp there") {
    val s = session("spark.sql.ansi.enabled" -> "false")
    val inputs = strings(DefaultFmt, 7L, 20000)
    // the oracle's rule under ANSI off: what a strict offset pattern reads
    val java = graft.timefmt.Strftime.toJava(DefaultFmt)
    def want(c: Column): Column =
      when(Seq("XXX", "XX").map(p => to_timestamp(c, java.replace("[XXX][XX]", p)).isNotNull)
        .reduce(_ || _), to_timestamp(c, java))
    val rows = s.sparkContext.parallelize(inputs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 4)
    val df = s.createDataFrame(rows, StructType(Seq(StructField("id", LongType),
        StructField("s", StringType))))
      .select(col("id"),
        unix_micros(TimestampStyles.csvTimestamp(s, col("s"), DefaultFmt)).as("got"),
        unix_micros(want(col("s"))).as("want"))
    val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    val kernelStages = stages.filter(_.child.exists(_.isInstanceOf[ProjectExec])).map(_.doCodeGen()._2)
      .filter(_.body.contains("graft.timefmt.CsvTimestamp.parse("))
    assert(kernelStages.nonEmpty, "the kernel must run in whole-stage codegen")
    kernelStages.foreach(CodeGenerator.compile)
    val out = df.collect()
    assert(out.length == inputs.length)
    out.foreach { r =>
      assert(r.get(1) == r.get(2), s"'${inputs(r.getLong(0).toInt)}'")
    }
  }

  test("a %z-less format reads a fixed session zone and leaves a region zone to to_timestamp") {
    val inputs = strings(ZonelessFmt, 11L, 20000)
    for (zone <- Seq("UTC", "+05:30", "Etc/GMT+7")) {
      val s = session("spark.sql.session.timeZone" -> zone)
      assert(CsvTimestamp.applies(s, ZonelessFmt), zone)
      assert(assertExact(s, ZonelessFmt, inputs) > 10000, zone)
    }
    val la = session("spark.sql.session.timeZone" -> "America/Los_Angeles")
    assert(!CsvTimestamp.applies(la, ZonelessFmt))
    assert(!hasKernel(la, TimestampStyles.csvTimestamp(la, _, ZonelessFmt)))
    val viaHelper = rowEval(la, c => TimestampStyles.csvTimestamp(la, c, ZonelessFmt))
    val plain = rowEval(la, c => to_timestamp(c, graft.timefmt.Strftime.toJava(ZonelessFmt)))
    inputs.take(2000).foreach(v => assert(viaHelper(v) == plain(v), s"'$v'"))
    // the format with an offset keeps the kernel under a region zone
    assert(CsvTimestamp.applies(la, DefaultFmt))
    assert(assertExact(la, DefaultFmt, strings(DefaultFmt, 12L, 4000)) > 2000)
  }

  test("other fixed-width layouts match to_timestamp, defaults and adjacent fields included") {
    val s = session("spark.sql.ansi.enabled" -> "false")
    for (fmt <- Seq("%Y%m%d%H%M%S%z", "%d/%m/%Y %H:%M", "%H:%M:%S.%f", "%Y-%m-%d",
        "at %H%%%M on %d.%m.%Y%z", "%m-%d %H:%M:%S")) {
      assert(CsvTimestamp.layout(fmt).isDefined, fmt)
      assert(assertExact(s, fmt, strings(fmt, fmt.hashCode.toLong, 6000)) > 1000, fmt)
    }
  }

  test("formats the kernel cannot read exactly build the plain to_timestamp plan") {
    val s = session()
    // directives with text, 12-hour clocks, day of year, 2-digit years, zone names
    val otherDirectives = Seq("%b", "%a", "%p", "%I", "%j", "%y", "%Z")
      .map(d => s"%Y-%m-%d %H:%M:%S $d")
    // a greedy %Y or %f followed by digits, repeated fields, pattern syntax
    val unsafe = Seq("%Y%f", "%Y0%m", "%Y%m%f", "%f%M", "%S.%f1", "%z%H", "%Y %Y", "[%Y]",
      "%Y'%m", "%Y#%m", "", "plain")
    (otherDirectives ++ unsafe).foreach { fmt =>
      assert(CsvTimestamp.layout(fmt).isEmpty, fmt)
      assert(!CsvTimestamp.applies(s, fmt), fmt)
    }
    otherDirectives.foreach(fmt => assert(!hasKernel(s, TimestampStyles.csvTimestamp(s, _, fmt)), fmt))
    assert(hasKernel(s, TimestampStyles.csvTimestamp(s, _, DefaultFmt)))
  }

  test("under the LEGACY parser policy the plan is plain and its error unchanged") {
    val s = session("spark.sql.legacy.timeParserPolicy" -> "LEGACY")
    assert(!CsvTimestamp.applies(s, DefaultFmt))
    assert(!hasKernel(s, TimestampStyles.csvTimestamp(s, _, DefaultFmt)))
    def run(c: Column => Column): String =
      try {
        s.createDataFrame(s.sparkContext.parallelize(Seq(Row("2019-12-12 10:00:00.000125+0000")), 1),
          StructType(Seq(StructField("s", StringType)))).select(c(col("s"))).collect()
        "no error"
      } catch { case t: Throwable => condition(t) }
    val plainError = run(c => to_timestamp(c, graft.timefmt.Strftime.toJava(DefaultFmt)))
    assert(plainError != "no error")
    assert(run(c => TimestampStyles.csvTimestamp(s, c, DefaultFmt)) == plainError)
  }
}
