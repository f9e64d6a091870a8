package graft.timefmt

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** Byte-level parse of a fixed-width CSV timestamp into epoch micros,
  * for strftime formats built only from `%Y %m %d %H %M %S %f %z`, `%%`
  * and literal characters (the reference's default
  * `%Y-%m-%d %H:%M:%S.%f%z` among them).
  *
  * The kernel reads the string's UTF-8 bytes in place and accepts only
  * the exact layout: every field at its fixed width in ASCII digits,
  * every literal byte equal, every field in range (a real calendar day,
  * hour 0–23, minute and second 0–59, an offset within ±18:00). It
  * yields null for anything else, and the caller falls back to
  * `to_timestamp`: under a conf [[applies]] accepts,
  * `coalesce(kernel, to_timestamp(s, javaFmt))` equals
  * `to_timestamp(s, javaFmt)` on every string, value, null or error,
  * while only the strings the kernel rejects pay for java.time.
  *
  * A layout is built only where java.time reads the same fields the
  * fixed widths do: `%Y` (4–19 digits) and `%f` (1–6) are greedy in
  * Spark's parser, so neither they nor `%z` may be followed by more
  * digits; literals that `DateTimeFormatter` reads as pattern syntax
  * (`[ ] { } # '`) and repeated fields build none.
  */
object CsvTimestamp {

  /** Fixed byte width of each directive the kernel reads. */
  private val widths = Map('Y' -> 4, 'm' -> 2, 'd' -> 2, 'H' -> 2, 'M' -> 2, 'S' -> 2,
    'f' -> 6, 'z' -> 5)

  /** Fixed-width numeric fields java.time reads adjacent to a `%Y`. */
  private val fixedNumeric = "mdHMS"

  /** Literal characters `DateTimeFormatter` does not read as literals. */
  private val patternSyntax = "[]{}#'"

  /** Returned by [[parse]] for a string the kernel does not take. */
  final val Rejected: Long = Long.MinValue

  /** [[parse]]'s zone argument when the session zone has no fixed offset. */
  final val NoFixedZone: Int = Int.MinValue

  /** Byte positions of each field in the layout (−1 when absent) and the
    * literal bytes with their positions. */
  final class Layout(val length: Int, val litAt: Array[Int], val litByte: Array[Byte],
      val year: Int, val month: Int, val day: Int, val hour: Int, val minute: Int,
      val second: Int, val micros: Int, val offset: Int) extends Serializable

  /** The layout of `strftime`, or None when the kernel cannot read it
    * exactly as `to_timestamp` does. */
  def layout(strftime: String): Option[Layout] = {
    // directives as Left, literal runs as Right
    val toks = Seq.newBuilder[Either[Char, String]]
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) { toks += Right(lit.toString); lit.clear() }
    var i = 0
    while (i < strftime.length) {
      val c = strftime.charAt(i)
      if (c == '%') {
        if (i + 1 >= strftime.length) return None
        val d = strftime.charAt(i + 1)
        if (d == '%') lit.append('%')
        else if (widths.contains(d)) { flush(); toks += Left(d) }
        else return None
        i += 2
      } else {
        if (patternSyntax.indexOf(c) >= 0) return None
        lit.append(c)
        i += 1
      }
    }
    flush()
    val t = toks.result().toIndexedSeq
    val fields = t.collect { case Left(d) => d }
    if (fields.isEmpty || fields.distinct.length != fields.length) return None
    // java.time reads %Y (4–19 digits, past any fixed-width numeric
    // neighbours) and %f (1–6) greedily, so what follows must not be a digit
    def stopsDigits(rest: Seq[Either[Char, String]]): Boolean = rest.headOption match {
      case None | Some(Left('z')) => true
      case Some(Left(_)) => false
      case Some(Right(s)) => !s.head.isDigit
    }
    val greedyOk = t.indices.forall { k =>
      t(k) match {
        case Left('Y') =>
          stopsDigits(t.drop(k + 1).dropWhile {
            case Left(d) => fixedNumeric.contains(d)
            case Right(_) => false
          })
        case Left('f') | Left('z') => stopsDigits(t.drop(k + 1))
        case _ => true
      }
    }
    if (!greedyOk) return None
    val at = scala.collection.mutable.Map[Char, Int]()
    val litAt = Array.newBuilder[Int]
    val litByte = Array.newBuilder[Byte]
    var pos = 0
    t.foreach {
      case Left(d) => at(d) = pos; pos += widths(d)
      case Right(s) =>
        s.getBytes(StandardCharsets.UTF_8).foreach { b => litAt += pos; litByte += b; pos += 1 }
    }
    def p(d: Char): Int = at.getOrElse(d, -1)
    Some(new Layout(pos, litAt.result(), litByte.result(), p('Y'), p('m'), p('d'), p('H'),
      p('M'), p('S'), p('f'), p('z')))
  }

  /** Epoch micros of `s` read by `l`, or [[Rejected]]. `zoneSec` is the
    * session zone's fixed offset in seconds east of UTC, used when the
    * layout has no `%z` ([[NoFixedZone]] rejects every such string).
    * Shared by the interpreted and the generated path. */
  def parse(s: UTF8String, l: Layout, zoneSec: Int): Long = {
    if (s.numBytes != l.length) return Rejected
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < l.litAt.length) {
      if (Platform.getByte(base, off + l.litAt(i)) != l.litByte(i)) return Rejected
      i += 1
    }
    // java.time's defaults for absent fields, as Spark fills them
    val y = if (l.year < 0) 1970 else digits(base, off + l.year, 4)
    val mo = if (l.month < 0) 1 else digits(base, off + l.month, 2)
    val d = if (l.day < 0) 1 else digits(base, off + l.day, 2)
    val h = if (l.hour < 0) 0 else digits(base, off + l.hour, 2)
    val mi = if (l.minute < 0) 0 else digits(base, off + l.minute, 2)
    val sec = if (l.second < 0) 0 else digits(base, off + l.second, 2)
    val us = if (l.micros < 0) 0 else digits(base, off + l.micros, 6)
    if (y < 0 || mo < 1 || mo > 12 || d < 1 || d > monthDays(y, mo) || h < 0 || h > 23 ||
        mi < 0 || mi > 59 || sec < 0 || sec > 59 || us < 0) return Rejected
    val east =
      if (l.offset >= 0) {
        val sign = Platform.getByte(base, off + l.offset)
        val oh = digits(base, off + l.offset + 1, 2)
        val om = digits(base, off + l.offset + 3, 2)
        if (oh < 0 || om < 0 || om > 59) return Rejected
        val e = oh * 3600 + om * 60
        if (e > 18 * 3600) return Rejected
        if (sign == '+') e else if (sign == '-') -e else return Rejected
      } else if (zoneSec == NoFixedZone) return Rejected
      else zoneSec
    (epochDay(y, mo, d) * 86400L + h * 3600 + mi * 60 + sec - east) * 1000000L + us
  }

  /** The `w` ASCII digits at `at` as a number, or −1. */
  private def digits(base: AnyRef, at: Long, w: Int): Int = {
    var v = 0
    var k = 0
    while (k < w) {
      val c = Platform.getByte(base, at + k) - '0'
      if (c < 0 || c > 9) return -1
      v = v * 10 + c
      k += 1
    }
    v
  }

  private def leap(y: Int): Boolean = (y & 3) == 0 && (y % 100 != 0 || y % 400 == 0)

  private def monthDays(y: Int, m: Int): Int =
    if (m == 2) { if (leap(y)) 29 else 28 }
    else if (m == 4 || m == 6 || m == 9 || m == 11) 30
    else 31

  /** `LocalDate.of(y, m, d).toEpochDay` for years 0–9999. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    var total = 365L * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400 +
      (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap(y)) 1 else 2)
    total - 719528L // days from 0000-01-01 to 1970-01-01
  }

  /** [[parse]] as a Catalyst expression with real codegen, so it stays
    * inside the whole-stage-codegen'd projection. `child` is a string;
    * null where the kernel rejects. The session zone (set by the
    * analyzer) supplies the offset of a `%z`-less layout when it is
    * fixed. */
  case class ParseCsvTimestamp(child: Expression, strftime: String,
      timeZoneId: Option[String] = None) extends UnaryExpression with TimeZoneAwareExpression {
    @transient private lazy val plan: Layout = layout(strftime).getOrElse(
      throw new IllegalArgumentException(s"no byte layout for '$strftime'"))
    @transient private lazy val zoneSec: Int = {
      val rules = zoneId.getRules
      if (rules.isFixedOffset) rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      else NoFixedZone
    }
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = true
    override def withTimeZone(timeZoneId: String): ParseCsvTimestamp =
      copy(timeZoneId = Option(timeZoneId))
    override def nullSafeEval(input: Any): Any = {
      val r = parse(input.asInstanceOf[UTF8String], plan, zoneSec)
      if (r == Rejected) null else r
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val l = ctx.addReferenceObj("csvTsLayout", plan, classOf[Layout].getName)
      nullSafeCodeGen(ctx, ev, s =>
        s"""
           |${ev.value} = graft.timefmt.CsvTimestamp.parse($s, $l, $zoneSec);
           |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
         """.stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): ParseCsvTimestamp =
      copy(child = c)
    override def prettyName: String = "parse_csv_timestamp"
  }

  /** Whether a plan over `spark`'s conf should carry the kernel for
    * `strftime`: a layout exists, the parser policy is not LEGACY (whose
    * `SimpleDateFormat` pattern fails where java.time's parses), the
    * session timestamp type is LTZ, and either the format holds `%z` or
    * the session zone has a fixed offset. Otherwise the plain
    * `to_timestamp` plan is built. */
  def applies(spark: SparkSession, strftime: String): Boolean =
    layout(strftime).exists { l =>
      !legacy(spark) &&
        spark.conf.get("spark.sql.timestampType").equalsIgnoreCase("TIMESTAMP_LTZ") &&
        (l.offset >= 0 ||
          DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone")).getRules
            .isFixedOffset)
    }

  /** Whether `spark` parses timestamps with the LEGACY
    * `SimpleDateFormat` policy rather than java.time. */
  def legacy(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.legacy.timeParserPolicy").equalsIgnoreCase("LEGACY")

  def parse_csv_timestamp(text: Column, strftime: String): Column =
    GraftBridge.column(ParseCsvTimestamp(GraftBridge.expression(text), strftime))
}
