package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass split of a quote-free CSV line into a struct: fields cut at
  * `,`, each read straight into its position's type (string, int, long
  * or double), an empty field null, missing trailing fields null and
  * extra fields dropped. Over an all-string schema it is the struct of
  * strings `from_csv(line, <all-string schema>)` returns for the line.
  *
  * The walk reads the line's bytes in place (`getBaseObject` /
  * `getBaseOffset`, no copy) and each string field is a `UTF8String` view
  * onto those bytes. A line that holds a `"` byte or is not well-formed
  * UTF-8 yields null instead: quoting is Univocity's business, and
  * `from_csv` decodes invalid bytes to U+FFFD, which a view cannot
  * reproduce. So `coalesce(split_quote_free(v, s), from_csv(v, s))`
  * equals `from_csv` on every line while only the lines that need it pay
  * for Univocity. A typed field not in the kernel's form also yields
  * null (see [[split]]).
  */
object CsvLine {

  /** The split of `line` into `n` string fields, or null when the line
    * holds a quote or invalid UTF-8. */
  def split(line: UTF8String, n: Int): InternalRow = split(line, Array.fill(n)(Str))

  /** Field kinds of [[split]], one per position of its schema. */
  final val Skip: Byte = 0
  final val Str: Byte = 1
  final val Int32: Byte = 2
  final val Int64: Byte = 3
  final val Float64: Byte = 4

  /** The kind that reads a field of type `dt`, if the kernel reads it:
    * `NullType` marks a position that is not read (always null). */
  def kind(dt: DataType): Option[Byte] = dt match {
    case NullType => Some(Skip)
    case StringType => Some(Str)
    case IntegerType => Some(Int32)
    case LongType => Some(Int64)
    case DoubleType => Some(Float64)
    case _ => None
  }

  /** Exact powers of ten for Clinger's fast path. */
  private val Pow10 = Array.tabulate(23)(i => s"1e$i".toDouble)

  /** The line cut at `,` with each field read straight into its kind, or
    * null when the line holds a quote or invalid UTF-8 or a typed field
    * is not in the kernel's form: an int or long is an in-range
    * `-?digits`, a double `-?digits[.digits]`. On every line it does not
    * reject it gives `cast(string field as type)`: a double of at most 15
    * digits is `digits / 10^fraction`, one correctly rounded division of
    * two exact doubles (Clinger's fast path), and a longer one is
    * `Double.parseDouble` of the same ASCII text, which is what Spark's
    * cast computes. Each field is read in one pass that also finds its
    * end. Shared by the interpreted and the generated path; codegen calls
    * it rather than inlining the loop, so the stage's generated method
    * stays small enough for the JIT. */
  def split(line: UTF8String, kinds: Array[Byte]): InternalRow = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val len = line.numBytes
    val n = kinds.length
    val fields = new Array[Any](n)
    var field = 0
    var at = 0
    while (true) {
      val kind = if (field < n) kinds(field) else Skip
      val end =
        if (kind == Int32 || kind == Int64) integer(base, off, at, len, kind, fields, field)
        else if (kind == Float64) float64(base, off, at, len, fields, field)
        else {
          val e = textEnd(base, off, at, len)
          if (kind == Str && e > at) fields(field) = UTF8String.fromAddress(base, off + at, e - at)
          e
        }
      if (end < 0) return null
      if (end == len) return new GenericInternalRow(fields)
      at = end + 1
      field += 1
    }
    null
  }

  /** The end (the next `,`, or `len`) of the text field at `at`, or −1
    * when it holds a quote or invalid UTF-8. */
  private def textEnd(base: AnyRef, off: Long, at: Int, len: Int): Int = {
    var i = at
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        if (b == ',') return i
        if (b == '"') return -1
        i += 1
      } else {
        val w = utf8Width(base, off + i, len - i)
        if (w == 0) return -1
        i += w
      }
    }
    len
  }

  /** Reads the field at `at` as an in-range `-?digits` of `kind` into
    * `fields(field)` (nothing when empty), accumulated negatively as
    * `Long.parseLong` does; returns its end, or −1 when not one. */
  private def integer(base: AnyRef, off: Long, at: Int, len: Int, kind: Byte,
      fields: Array[Any], field: Int): Int = {
    if (at == len || Platform.getByte(base, off + at) == ',') return at
    val neg = Platform.getByte(base, off + at) == '-'
    var k = if (neg) at + 1 else at
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var acc = 0L
    var b: Byte = 0
    while (k < len && { b = Platform.getByte(base, off + k); b != ',' }) {
      val d = b - '0'
      if (d < 0 || d > 9 || acc < Long.MinValue / 10) return -1
      acc *= 10
      if (acc < limit + d) return -1
      acc -= d
      k += 1
    }
    if (k == at + (if (neg) 1 else 0)) return -1
    val v = if (neg) acc else -acc
    if (kind == Int64) fields(field) = v
    else if (v >= Int.MinValue && v <= Int.MaxValue) fields(field) = v.toInt
    else return -1
    k
  }

  /** Reads the field at `at` as a `-?digits[.digits]` double into
    * `fields(field)` (nothing when empty); returns its end, or −1 when
    * not one. */
  private def float64(base: AnyRef, off: Long, at: Int, len: Int, fields: Array[Any],
      field: Int): Int = {
    if (at == len || Platform.getByte(base, off + at) == ',') return at
    val neg = Platform.getByte(base, off + at) == '-'
    var k = if (neg) at + 1 else at
    var w = 0L
    var digits = 0
    var fraction = -1 // digits after the point, −1 before it
    var b: Byte = 0
    while (k < len && { b = Platform.getByte(base, off + k); b != ',' }) {
      if (b == '.') {
        if (fraction >= 0 || digits == 0) return -1
        fraction = 0
      } else {
        val d = b - '0'
        if (d < 0 || d > 9) return -1
        if (digits < 15) w = w * 10 + d
        digits += 1
        if (fraction >= 0) fraction += 1
      }
      k += 1
    }
    if (digits == 0 || fraction == 0) return -1
    fields(field) =
      if (digits > 15)
        java.lang.Double.parseDouble(UTF8String.fromAddress(base, off + at, k - at).toString)
      else {
        val v = w.toDouble / Pow10(math.max(fraction, 0))
        if (neg) -v else v
      }
    k
  }

  /** Byte length of the well-formed multi-byte UTF-8 sequence at `at`
    * (Unicode Table 3-7, the set Java's decoder accepts unchanged), or 0
    * when it is not one: a stray continuation byte, an overlong or
    * surrogate encoding, a code point above U+10FFFF, or a truncation. */
  private def utf8Width(base: AnyRef, at: Long, left: Int): Int = {
    def cont(k: Int, lo: Int = 0x80, hi: Int = 0xBF): Boolean = k < left && {
      val c = Platform.getByte(base, at + k) & 0xFF
      c >= lo && c <= hi
    }
    val b0 = Platform.getByte(base, at) & 0xFF
    if (b0 >= 0xC2 && b0 <= 0xDF) { if (cont(1)) 2 else 0 }
    else if (b0 >= 0xE0 && b0 <= 0xEF) {
      val ok1 = if (b0 == 0xE0) cont(1, 0xA0) else if (b0 == 0xED) cont(1, hi = 0x9F) else cont(1)
      if (ok1 && cont(2)) 3 else 0
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      val ok1 = if (b0 == 0xF0) cont(1, 0x90) else if (b0 == 0xF4) cont(1, hi = 0x8F) else cont(1)
      if (ok1 && cont(2) && cont(3)) 4 else 0
    } else 0
  }

  /** [[split]] as a Catalyst expression with real codegen: it stays
    * inside whole-stage codegen, where a `CodegenFallback` would drop the
    * whole projection out of it. `schema` gives each position's type:
    * string, int, long or double, or `NullType` for a position that is
    * not read. */
  case class SplitQuoteFree(child: Expression, schema: StructType) extends UnaryExpression {
    @transient private lazy val kinds: Array[Byte] = schema.fields.map(f =>
      kind(f.dataType).getOrElse(
        throw new IllegalArgumentException(s"split_quote_free cannot read ${f.dataType}")))
    override def dataType: DataType = schema
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any = split(input.asInstanceOf[UTF8String], kinds)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("csvKinds", kinds, "byte[]")
      nullSafeCodeGen(ctx, ev, line =>
        s"""
           |${ev.value} = graft.functions.CsvLine.split($line, $k);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): SplitQuoteFree = copy(child = c)
    override def prettyName: String = "split_quote_free"
  }

  def split_quote_free(line: Column, schema: StructType): Column =
    GraftBridge.column(SplitQuoteFree(GraftBridge.expression(line), schema))
}
