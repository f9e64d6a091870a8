package graft

import graft.functions.CsvLine
import graft.streaming.PlaybackStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import java.nio.charset.{CodingErrorAction, StandardCharsets}

/** The playback parse's one-pass split against its `from_csv` oracle:
  * seeded random lines over the bytes CSV parsing is sensitive to
  * (delimiter, quote, backslash, comment and NUL bytes, CR, blanks,
  * multi-byte and invalid UTF-8), 0–12 tokens each, against a 4-field
  * schema. The parse `readings` uses must equal `from_csv` byte for
  * byte, and the split must step aside exactly on quoted or invalid
  * lines. */
class CsvLineSpec extends SparkSpec {

  private val schema = StructType((1 to 4).map(i => StructField(s"f$i", StringType)))

  private val tokens: IndexedSeq[java.util.Random => Array[Byte]] = {
    def const(bs: Int*): java.util.Random => Array[Byte] = _ => bs.map(_.toByte).toArray
    val letter: java.util.Random => Array[Byte] = r =>
      Array(((if (r.nextBoolean()) 'a' else 'A') + r.nextInt(26)).toByte)
    val digit: java.util.Random => Array[Byte] = r => Array(('0' + r.nextInt(10)).toByte)
    IndexedSeq(const(','), const(','), const('"'), const('\\'), const('#'), const(0),
      const('\r'), const('\t'), const(' '), letter, letter, digit, digit,
      const(0xC3, 0xA9), const(0xC3), const(0xFF))
  }

  private lazy val lines: Seq[Array[Byte]] = {
    val r = new java.util.Random(20261017L)
    val random = Seq.fill(120000) {
      Array.fill(r.nextInt(13))(tokens(r.nextInt(tokens.length))(r)).flatten
    }
    Seq("", ",", ",,").map(_.getBytes(StandardCharsets.UTF_8)) ++ random
  }

  private def validUtf8(b: Array[Byte]): Boolean =
    try {
      StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(b))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** The lines as a non-local relation, so projections over them run
    * through whole-stage codegen rather than being folded on the driver. */
  private def lineFrame = {
    val rows = spark.sparkContext.parallelize(
      lines.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }, 4)
    spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType), StructField("bytes", BinaryType))))
      .select(col("id"), col("bytes"), col("bytes").cast("string").as("line"))
  }

  private def binaryFields(struct: String) =
    (1 to 4).map(i => col(struct)(s"f$i").cast("binary").as(s"${struct}_f$i"))

  test("the playback parse equals from_csv byte for byte, and the split steps aside exactly on quotes and invalid UTF-8") {
    val df = lineFrame
      .withColumn("parsed", PlaybackStream.parseLine(col("line"), schema))
      .withColumn("oracle", from_csv(col("line"), schema, Map("escape" -> "\"")))
      .withColumn("split", CsvLine.split_quote_free(col("line"), schema))
    val out = df.select(Seq(col("id"), col("bytes"), col("line").cast("binary").as("line_bytes"),
        col("split").isNull.as("split_null")) ++
        binaryFields("parsed") ++ binaryFields("oracle") ++ binaryFields("split"): _*)
    val stages = out.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    val splitStages = stages.filter(_.child.exists(_.isInstanceOf[ProjectExec])).map(_.doCodeGen()._2)
      .filter(_.body.contains("graft.functions.CsvLine.split("))
    assert(splitStages.nonEmpty, "the split projection must run in whole-stage codegen")
    splitStages.foreach(CodeGenerator.compile) // throws if the generated code does not compile

    val rows = out.collect()
    assert(rows.length == lines.length)
    def field(r: Row, name: String): Option[Seq[Byte]] =
      Option(r.getAs[Array[Byte]](name)).map(_.toSeq)
    var split = 0
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val shown = bytes.map(b => f"${b & 0xFF}%02x").mkString(" ")
      assert(r.getAs[Array[Byte]]("line_bytes").sameElements(bytes), s"line bytes changed: $shown")
      (1 to 4).foreach { i =>
        assert(field(r, s"parsed_f$i") == field(r, s"oracle_f$i"), s"field $i of [$shown]")
      }
      val fallsBack = bytes.contains('"'.toByte) || !validUtf8(bytes)
      assert(r.getAs[Boolean]("split_null") == fallsBack, s"split null-ness of [$shown]")
      if (!fallsBack) {
        split += 1
        (1 to 4).foreach { i =>
          assert(field(r, s"split_f$i") == field(r, s"oracle_f$i"), s"split field $i of [$shown]")
        }
      }
    }
    // the draw must exercise both paths heavily
    assert(split > 20000 && rows.length - split > 20000, s"$split of ${rows.length} split")
  }

  test("split: empty fields are null, missing ones null, extra ones dropped") {
    def fields(s: String): Seq[String] = {
      val row = CsvLine.split(UTF8String.fromString(s), 3)
      if (row == null) null
      else (0 until 3).map(i => if (row.isNullAt(i)) null else row.getUTF8String(i).toString)
    }
    assert(fields("") == Seq(null, null, null))
    assert(fields("a,,c") == Seq("a", null, "c"))
    assert(fields("a") == Seq("a", null, null))
    assert(fields("a,b,c,d,e") == Seq("a", "b", "c"))
    assert(fields(" a ,é\t,\\") == Seq(" a ", "é\t", "\\"))
    assert(fields("a,\"b\",c") == null)
    // a lone continuation byte, an overlong '/', a surrogate, a truncation
    Seq(Array(0x61, 0x80), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80), Array(0xE2, 0x82))
      .foreach { bs =>
        assert(CsvLine.split(UTF8String.fromBytes(bs.map(_.toByte)), 3) == null,
          bs.mkString(" "))
      }
    // the widest valid sequences pass: U+10FFFF, U+FFFF, U+0800
    assert(fields("􏿿,￿,ࠀ") == Seq("􏿿", "￿", "ࠀ"))
  }
}
