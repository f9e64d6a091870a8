package graft

import graft.config.{Enums, PlaybackConfig}
import Enums._
import graft.sources.{CsvPlayback, NaNReport}
import org.apache.spark.sql.functions._

class CsvPlaybackSpec extends SparkSpec {

  test("pick_from_file default: header row 0, schema inferred") {
    val df = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("vibration.csv"))
    assert(df.columns.toSeq == Seq("channel1", "channel2", "user_ts", "_row_idx"))
    assert(df.count() == 3)
    val first = df.orderBy("_row_idx").select("channel1").head().getDouble(0)
    assert(math.abs(first - 0.0083912037) < 1e-12)
  }

  test("compressed variants decompress by extension (csvplayback.py:510)") {
    for (ext <- Seq(".gz", ".bz2")) {
      val df = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("vibration.csv" + ext))
      assert(df.count() == 3, ext)
    }
  }

  test("explicit useColumns: rename + cast (docs/index.rst:82-114)") {
    val cfg = PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "id:int,temperature:float,status:str")
    val df = CsvPlayback.readFile(spark, cfg, fixture("typed.csv"))
    assert(df.columns.toSeq == Seq("id", "temperature", "status", "_row_idx"))
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("temperature").dataType.typeName == "double")
    val r = df.orderBy("_row_idx").head()
    assert(r.getLong(0) == 1L && math.abs(r.getDouble(1) - 2.5) < 1e-12 && r.getString(2) == "OK")
  }

  test("explicit useColumns: blank entry drops that position (csvplayback.py:619-620)") {
    val cfg = PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "id:int,,status:str")
    val df = CsvPlayback.readFile(spark, cfg, fixture("typed.csv"))
    assert(df.columns.toSeq == Seq("id", "status", "_row_idx"))
  }

  test("explicit useColumns: int cast of float column truncates like pandas") {
    val cfg = PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "id:int,temperature:int,status:str")
    val df = CsvPlayback.readFile(spark, cfg, fixture("typed.csv"))
    assert(df.orderBy("_row_idx").select("temperature").head().getLong(0) == 2L)
  }

  test("skip_rows drops noOfRows physical lines (csvplayback.py:579-584)") {
    val cfg = PlaybackConfig(headerMethod = HeaderMethod.SkipRows, noOfRows = 3)
    val df = CsvPlayback.readFile(spark, cfg, fixture("skip3.csv"))
    assert(df.columns.toSeq == Seq("channel1", "channel2", "_row_idx"))
    assert(df.count() == 1)
  }

  test("pass_in_datapoint attaches joined header lines (csvplayback.py:661-671)") {
    val cfg = PlaybackConfig(headerMethod = HeaderMethod.PassInDatapoint, noOfRows = 2)
    val df = CsvPlayback.readFile(spark, cfg, fixture("meta_header.csv"))
    assert(df.columns.contains("metadata"))
    val metas = df.select("metadata").distinct().collect().map(_.getString(0))
    assert(metas.toSeq == Seq("device=vib-007_firmware=1.4.2"))
    assert(df.count() == 2)
  }

  test("ragged pivot skips empty fields (csvplayback.py:703-711, docs:52-67)") {
    val cfg = PlaybackConfig(variableCols = true)
    val df = CsvPlayback.readFile(spark, cfg, fixture("ragged.csv"))
    val got = df.orderBy("_row_idx", "datapoint")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      (0L, "column_1", "a"), (0L, "column_2", "b"), (0L, "column_3", "c"),
      (1L, "column_1", "2"), (1L, "column_2", "3"), (1L, "column_4", "23"),
      (2L, "column_1", "4")))
  }

  test("NaN report: violations detected (csvplayback.py:681-691)") {
    val cfg = PlaybackConfig() // ignore: passes
    val df = CsvPlayback.readFile(spark, cfg, fixture("nan_blank.csv"))
    val v = NaNReport.violations(df)
    assert(v("channel1") == 1 && v("channel2") == 2 && v("deadcol") == 3)
    val reportCfg = PlaybackConfig(ignoreNaN = NaNPolicy.Report)
    intercept[IllegalStateException](
      CsvPlayback.readFile(spark, reportCfg, fixture("nan_blank.csv")).count())
  }

  test("zero-byte file raises EOF (csvplayback.py:566-568)") {
    val p = java.nio.file.Files.createTempFile("empty", ".csv")
    intercept[java.io.EOFException](
      CsvPlayback.readFile(spark, PlaybackConfig(), p.toString))
    java.nio.file.Files.delete(p)
  }

  test("a header-only file reads as zero rows with the header's columns") {
    val p = java.nio.file.Files.createTempFile("header_only", ".csv")
    java.nio.file.Files.writeString(p, "a,b\n")
    val df = CsvPlayback.readFile(spark, PlaybackConfig(), p.toString)
    assert(df.columns.toSeq == Seq("a", "b", "_row_idx"))
    assert(df.count() == 0)
    java.nio.file.Files.delete(p)
  }

  test("line endings: \\r\\n is stripped, a lone \\r stays inside its field") {
    val p = java.nio.file.Files.createTempFile("crlf", ".csv")
    java.nio.file.Files.writeString(p, "h1,h2\na\rb,1\n2,3\r\n")
    val rows = CsvPlayback.readFile(spark, PlaybackConfig(), p.toString)
      .orderBy("_row_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("a\rb", 1), ("2", 3)))
    java.nio.file.Files.delete(p)
  }

  test("the line index is built once per readFile, not per action") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.details.contains("buildLineIndex")) builds.incrementAndGet()
    }
    def settled(): Int = { Thread.sleep(500); builds.get }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("vibration.csv"))
      val deadline = System.currentTimeMillis() + 60000
      while (builds.get == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(settled() == 1, "readFile builds the index")
      assert(df.count() == 3 && df.collect().length == 3 && df.filter("channel1 > 0").count() == 3)
      assert(settled() == 1, "actions on the frame reuse it")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("file pattern matching (csvplayback.py:503-510)") {
    val dir = java.nio.file.Files.createTempDirectory("ff")
    for (n <- Seq("b_vib.csv", "a_vib.csv", "vib.txt", "other.csv", "c_vib.csv.gz"))
      java.nio.file.Files.writeString(dir.resolve(n), "x")
    val found = PlaybackConfig.matchingFiles(dir, "vib").map(_.getFileName.toString)
    assert(found == Seq("a_vib.csv", "b_vib.csv", "c_vib.csv.gz"))
  }

  test("a queued file whose header drifts from the first file's stops the stream") {
    val dir = java.nio.file.Files.createTempDirectory("drift")
    val a = dir.resolve("a_vib.csv")
    val b = dir.resolve("b_vib.csv")
    java.nio.file.Files.writeString(a, "c1,c2\n1,10\n2,20\n")
    java.nio.file.Files.writeString(b, "c1,c3\n3,30\n")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = PostProcess.Delete)
    val q = graft.streaming.PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName("drift")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10)).start()
    try {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(180000)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      val drift = messages(ex).find(_.contains("header drift"))
      assert(drift.exists(m => Seq(a.toString, b.toString, "'c1,c2'", "'c1,c3'").forall(m.contains)),
        s"the failure names both files and headers: ${messages(ex)}")
      assert(spark.sql("SELECT c1 FROM drift").count() == 2, "the first file played in full")
    } finally if (q.isActive) q.stop()
  }
}
