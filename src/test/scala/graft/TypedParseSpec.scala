package graft

import graft.config.PlaybackConfig
import graft.functions.CsvLine
import graft.streaming.PlaybackStream
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The playback parse's typed line kernel against the plan it stands in
  * front of: seeded lines of a string, an int, a long and a double
  * column, with near misses in every typed field (exponents, 16–17-digit
  * doubles, `+`, spaces, `-0`, `.5`, `5.`, `NaN`, `1d`, hex, overflow,
  * empty fields, quotes, invalid UTF-8), go through
  * `PlaybackStream.parse` and through the split/`from_csv` parse plus
  * casts alone. The two must agree on every line under ANSI on and
  * off: double bits, ints, longs, string bytes, nulls and error class. */
class TypedParseSpec extends SparkSpec {

  private val names = Seq("s", "i", "l", "d")
  private val types: Seq[DataType] = Seq(StringType, IntegerType, LongType, DoubleType)

  /** A file whose head infers (s string, i int, l long, d double). */
  private lazy val file: String = {
    val dir = Files.createTempDirectory("typedparse")
    val f = dir.resolve("typed.csv")
    val head = (0 until 1000).map(k => s"n$k,$k,${k * 10000000000L},${k / 8.0}")
    Files.write(f, (names.mkString(",") +: head).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private lazy val cfg = PlaybackConfig(csvDirName = new java.io.File(file).getParent,
    csvFileName = "typed")

  private def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  private val integerMisses = Seq("+5", " 5", "5 ", "-0", "007", "-", "", "1e3", "0x1F", "1d",
    "5.", ".5", "1.0", "NaN", "abc", "２", "٣", "--1", "1-", "2147483647", "2147483648",
    "-2147483648", "-2147483649", "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809", "-09223372036854775808",
    "00000000000000000000001", "99999999999999999999")

  private val doubleMisses = Seq("1e5", "1E-5", "1.5e+3", "-0", "-0.0", "0.0", ".5", "5.", "-.5",
    "+1.5", " 1.5", "1.5 ", "NaN", "-NaN", "Infinity", "-Infinity", "inf", "1d", "1.5f", "0x1p3",
    "0x10", "1.2.3", "--1", "-", ".", "", "١.٥", "1,5", "123456789012345", "1234567890123456",
    "12345678901234567", "0.1234567890123456", "9007199254740993", "0.30000000000000004",
    "1797693134862315799999", "0.000000000000000000001", "4.9406564584124654E-324",
    "00000000000000001.5", "2.2250738585072011e-308")

  private def digits(r: java.util.Random, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def intField(r: java.util.Random): String = r.nextInt(6) match {
    case 0 => pick(r, integerMisses)
    case 1 => (r.nextInt(2001) - 1000).toString
    case _ => r.nextInt().toString
  }

  private def longField(r: java.util.Random): String = r.nextInt(6) match {
    case 0 => pick(r, integerMisses)
    case 1 => (if (r.nextBoolean()) "-" else "") + digits(r, 1 + r.nextInt(19))
    case _ => r.nextLong().toString
  }

  private def doubleField(r: java.util.Random): String = r.nextInt(8) match {
    case 0 => pick(r, doubleMisses)
    case 1 => java.lang.Double.toString(r.nextGaussian() * math.pow(10, r.nextInt(40) - 20))
    case 2 => java.lang.Double.toString(java.lang.Double.longBitsToDouble(r.nextLong()))
    case 3 => (if (r.nextBoolean()) "-" else "") + digits(r, 1 + r.nextInt(18))
    case _ => (if (r.nextBoolean()) "-" else "") + digits(r, 1 + r.nextInt(9)) + "." +
      digits(r, 1 + r.nextInt(12))
  }

  private def stringField(r: java.util.Random): String = r.nextInt(10) match {
    case 0 => ""
    case 1 => "é" + digits(r, 2)
    case 2 => " x y "
    case _ => "k" + digits(r, 1 + r.nextInt(5))
  }

  /** One line's bytes: four fields, sometimes one short or one long, a
    * field sometimes quoted, a byte sometimes not UTF-8. */
  private def line(r: java.util.Random): Array[Byte] = {
    val fields = Seq(stringField(r), intField(r), longField(r), doubleField(r))
    val shaped = r.nextInt(20) match {
      case 0 => fields.take(r.nextInt(4))
      case 1 => fields :+ intField(r)
      case 2 => val k = r.nextInt(4); fields.updated(k, "\"" + fields(k) + "\"")
      case _ => fields
    }
    val bytes = shaped.mkString(",").getBytes(StandardCharsets.UTF_8)
    if (r.nextInt(50) == 0 && bytes.nonEmpty) bytes.updated(r.nextInt(bytes.length), 0xFF.toByte)
    else bytes
  }

  private lazy val lines: IndexedSeq[Array[Byte]] = {
    val r = new java.util.Random(20261020L)
    val misses = for (i <- integerMisses; d <- doubleMisses)
      yield s"a,$i,$i,$d".getBytes(StandardCharsets.UTF_8)
    (misses ++ Seq.fill(100000)(line(r))).toIndexedSeq
  }

  /** The lines as the source's (value, row_idx) frame over an RDD, so
    * nothing is folded on the driver. */
  private def lineFrame(s: SparkSession, lines: Seq[Array[Byte]] = lines): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(
        lines.zipWithIndex.map { case (b, i) => Row(b, i.toLong) }, 4),
        StructType(Seq(StructField("bytes", BinaryType), StructField("row_idx", LongType))))
      .select(col("bytes").cast("string").as("value"), col("row_idx"))

  /** The kernel plan: the playback parse itself. */
  private def kernelPlan(s: SparkSession, in: DataFrame): DataFrame =
    PlaybackStream.parse(s, cfg, file, in)

  /** The plan without the kernel: the split/`from_csv` parse and a cast
    * per column. */
  private def castPlan(in: DataFrame): DataFrame = {
    val parsed = PlaybackStream.parseLine(col("value"),
      StructType(names.map(StructField(_, StringType))))
    in.withColumn("_parsed", parsed).select((names.zip(types).map { case (n, t) =>
      (if (t == StringType) col("_parsed")(n) else col("_parsed")(n).cast(t)).as(n)
    } :+ col("row_idx")): _*)
  }

  private def condition(t: Throwable): String = t match {
    case null => "no condition"
    case s: SparkThrowable if s.getCondition != null => s.getCondition
    case _ => if (t.getCause == null || (t.getCause eq t)) t.getClass.getName else condition(t.getCause)
  }

  /** A row-at-a-time evaluator of `df`'s optimized projections, so each
    * line keeps its own error. */
  private def rowEval(df: DataFrame): InternalRow => InternalRow = {
    def build(plan: LogicalPlan): (InternalRow => InternalRow, Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
      plan match {
        case Project(list, child) =>
          val (inner, attrs) = build(child)
          val p = UnsafeProjection.create(list, attrs)
          ((r: InternalRow) => p(inner(r)), list.map(_.toAttribute))
        case leaf => ((r: InternalRow) => r, leaf.output)
      }
    build(df.queryExecution.optimizedPlan)._1
  }

  /** One output row as comparable values: double bits, ints, longs,
    * booleans, string bytes, null. */
  private def values(row: InternalRow, types: Seq[DataType] = types): Seq[Any] =
    types.zipWithIndex.map { case (t, k) =>
      if (row.isNullAt(k)) null
      else t match {
        case StringType => row.getUTF8String(k).getBytes.toSeq
        case IntegerType => row.getInt(k)
        case LongType => row.getLong(k)
        case BooleanType => row.getBoolean(k)
        case DoubleType => java.lang.Double.doubleToRawLongBits(row.getDouble(k))
      }
    }

  test("the kernel plan equals the split/from_csv + cast plan on 100k+ lines, ANSI on and off") {
    assert(lines.length >= 100000)
    for (ansi <- Seq("true", "false")) {
      val s = GraftBridge.cloneSession(spark)
      s.conf.set("spark.sql.ansi.enabled", ansi)
      val in = lineFrame(s)
      val kernel = kernelPlan(s, in)
      assert(kernel.queryExecution.analyzed.exists(_.expressions.exists(_.exists {
        case k: CsvLine.SplitQuoteFree => k.schema.exists(_.dataType == DoubleType)
        case _ => false
      })), "the typed kernel must be in the plan")
      val (got, want) = (rowEval(kernel), rowEval(castPlan(in)))
      var typed = 0
      lines.foreach { b =>
        val row = InternalRow(b, 0L)
        def run(f: InternalRow => InternalRow) =
          try Right(values(f(row))) catch { case t: Throwable => Left(condition(t)) }
        val shown = new String(b, StandardCharsets.ISO_8859_1)
        assert(run(got) == run(want), s"[$shown] ansi=$ansi")
        if (CsvLine.split(UTF8String.fromBytes(b), Array(CsvLine.Str, CsvLine.Int32, CsvLine.Int64,
            CsvLine.Float64)) != null) typed += 1
      }
      // both paths carry a large share of the draw
      assert(typed > 30000 && lines.length - typed > 30000, s"kernel took $typed of ${lines.length}")
    }
  }

  test("the kernel runs inside whole-stage codegen and agrees with the cast plan there") {
    val s = GraftBridge.cloneSession(spark)
    s.conf.set("spark.sql.ansi.enabled", "false")
    val in = lineFrame(s)
    val kernel = kernelPlan(s, in)
    val stages = kernel.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    val kernelStages = stages.filter(_.child.exists(_.isInstanceOf[ProjectExec]))
      .map(_.doCodeGen()._2).filter(_.body.contains("graft.functions.CsvLine.split("))
    assert(kernelStages.nonEmpty, "the kernel must run in whole-stage codegen")
    kernelStages.foreach(CodeGenerator.compile)
    def bits(df: DataFrame): Map[Long, Seq[Any]] = df.select((names.zip(types).map {
        case (n, DoubleType) => when(col(n).isNotNull, udfBits(col(n))).as(n)
        case (n, StringType) => col(n).cast("binary").as(n)
        case (n, _) => col(n)
      } :+ col("row_idx")): _*).collect()
      .map(r => r.getLong(4) -> (0 until 4).map(k => r.get(k) match {
        case a: Array[Byte] => a.toSeq
        case v => v
      })).toMap
    val got = bits(kernel)
    assert(got.size == lines.length)
    assert(got == bits(castPlan(in)))
  }

  test("columns the kernel reads as text for their cast agree with the cast plan, ANSI on and off") {
    // t is an int column whose head infers double (pandas truncates it),
    // b a bool the kernel has no kind for, the fifth position is dropped
    // and n is untyped and infers int
    val dir = Files.createTempDirectory("typedparse")
    val head = (0 until 1000).map(k => s"${k / 8.0},${k % 2 == 0},${k / 4.0},n$k,$k,$k")
    Files.write(dir.resolve("text.csv"), ("t,b,x,s,d,n" +: head).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    val textCfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "text",
      columnMethod = graft.config.Enums.ColumnMethod.Explicit,
      useColumns = "t:int,b:bool,x:float,s:str,,n")
    val textTypes = Seq(LongType, BooleanType, DoubleType, StringType, IntegerType)
    val r = new java.util.Random(20261021L)
    val bools = Seq("true", "false", "TRUE", "yes", "1", "0", "", " true", "t")
    val textLines = Seq.fill(20000)(Seq(doubleField(r), pick(r, bools), doubleField(r),
      stringField(r), intField(r), intField(r)).mkString(",").getBytes(StandardCharsets.UTF_8))
    val stringSchema = StructType(Seq("t", "b", "x", "s", "_drop4", "n").map(StructField(_, StringType)))
    for (ansi <- Seq("true", "false")) {
      val s = GraftBridge.cloneSession(spark)
      s.conf.set("spark.sql.ansi.enabled", ansi)
      val in = lineFrame(s, textLines)
      val kernel = PlaybackStream.parse(s, textCfg, dir.resolve("text.csv").toString, in)
      val p = col("_parsed")
      val castPlan = in.withColumn("_parsed", PlaybackStream.parseLine(col("value"), stringSchema))
        .select(p("t").cast(DoubleType).cast(LongType), p("b").cast(BooleanType),
          p("x").cast(DoubleType), p("s"), p("n").cast(IntegerType), col("row_idx"))
      val (got, want) = (rowEval(kernel), rowEval(castPlan))
      textLines.foreach { b =>
        val row = InternalRow(b, 0L)
        def run(f: InternalRow => InternalRow) =
          try Right(values(f(row), textTypes)) catch { case t: Throwable => Left(condition(t)) }
        assert(run(got) == run(want), s"[${new String(b, StandardCharsets.UTF_8)}] ansi=$ansi")
      }
    }
  }

  /** A double's raw bits, so NaN payloads and −0.0 compare exactly. */
  private val udfBits = udf((d: Double) => java.lang.Double.doubleToRawLongBits(d))

  test("split: the typed kernel's own rules") {
    val kinds = Array(CsvLine.Str, CsvLine.Int32, CsvLine.Int64, CsvLine.Float64)
    def parse(s: String): Seq[Any] = {
      val row = CsvLine.split(UTF8String.fromString(s), kinds)
      if (row == null) null
      else (0 until 4).map(k => if (row.isNullAt(k)) null else row.get(k, types(k)) match {
        case u: UTF8String => u.toString
        case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
    }
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(parse("a,1,2,3.5") == Seq("a", 1, 2L, bits(3.5)))
    assert(parse(",,,") == Seq(null, null, null, null))
    assert(parse("a") == Seq("a", null, null, null))
    assert(parse("a,1,2,3,extra") == Seq("a", 1, 2L, bits(3.0)))
    assert(parse("a,-0,-0,-0") == Seq("a", 0, 0L, bits(-0.0)))
    assert(parse("a,-2147483648,-9223372036854775808,0.1") ==
      Seq("a", Int.MinValue, Long.MinValue, bits(0.1)))
    assert(parse("a,1,2,12345678901234567") == Seq("a", 1, 2L, bits(12345678901234567.0)))
    Seq("a,2147483648,1,1", "a,1,9223372036854775808,1", "a,+1,1,1", "a,1,1,1e3", "a,1,1,.5",
      "a,1,1,5.", "a,1,1,NaN", "a, 1,1,1", "\"a\",1,1,1", "a,1,1,1\"").foreach { s =>
      assert(parse(s) == null, s)
    }
    // a position of type NullType is not read at all
    val skip = CsvLine.split(UTF8String.fromString("x,not a number"), Array(CsvLine.Str, CsvLine.Skip))
    assert(skip != null && skip.isNullAt(1))
  }
}
