package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass split of a quote-free CSV line into the struct of strings
  * that `from_csv(line, <all-string schema>)` returns for it: fields cut
  * at `,`, an empty field is null, missing trailing fields are null and
  * extra fields are dropped.
  *
  * The walk reads the line's bytes in place (`getBaseObject` /
  * `getBaseOffset`, no copy) and each field is a `UTF8String` view onto
  * those bytes. A line that holds a `"` byte or is not well-formed UTF-8
  * yields null instead: quoting is Univocity's business, and `from_csv`
  * decodes invalid bytes to U+FFFD, which a view cannot reproduce. So
  * `coalesce(split_quote_free(v, s), from_csv(v, s))` equals `from_csv`
  * on every line while only the lines that need it pay for Univocity.
  */
object CsvLine {

  /** The split of `line` into `n` fields, or null when the line holds a
    * quote or invalid UTF-8. Shared by the interpreted and the generated
    * path; codegen calls it rather than inlining the loop, so the stage's
    * generated method stays small enough for the JIT. */
  def split(line: UTF8String, n: Int): InternalRow = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val len = line.numBytes
    val fields = new Array[Any](n)
    var field = 0
    var start = 0
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) {
        if (b == ',') {
          if (field < n && i > start) fields(field) = UTF8String.fromAddress(base, off + start, i - start)
          field += 1
          start = i + 1
        } else if (b == '"') return null
        i += 1
      } else {
        val w = utf8Width(base, off + i, len - i)
        if (w == 0) return null
        i += w
      }
    }
    if (field < n && len > start) fields(field) = UTF8String.fromAddress(base, off + start, len - start)
    new GenericInternalRow(fields)
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
    * whole projection out of it. `schema` is the all-string struct the
    * `from_csv` fallback is given. */
  case class SplitQuoteFree(child: Expression, schema: StructType) extends UnaryExpression {
    require(schema.fields.forall(_.dataType == StringType), "split_quote_free yields strings only")
    override def dataType: DataType = schema
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      split(input.asInstanceOf[UTF8String], schema.length)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, line =>
        s"""
           |${ev.value} = graft.functions.CsvLine.split($line, ${schema.length});
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin)
    override protected def withNewChildInternal(c: Expression): SplitQuoteFree = copy(child = c)
    override def prettyName: String = "split_quote_free"
  }

  def split_quote_free(line: Column, schema: StructType): Column =
    GraftBridge.column(SplitQuoteFree(GraftBridge.expression(line), schema))
}
