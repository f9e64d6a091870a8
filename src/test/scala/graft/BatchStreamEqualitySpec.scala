package graft

import graft.config.{Enums, PlaybackConfig}
import Enums._
import graft.operators.TimestampStyles
import graft.sources.CsvPlayback
import graft.streaming.{CsvPlaybackStream, PlaybackStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path, Paths}

/** Prefix consistency: a batch `readFile` of a file equals the first
  * pass of a `continue_playing` stream over the same file, row for row
  * and type for type. Both run the source's reader and the one
  * `PlaybackStream.parse`; this pins that they stay one code path,
  * including the cases where the two readers used to disagree. */
class BatchStreamEqualitySpec extends SparkSpec {

  /** Columns that only the stream carries (emission bookkeeping and the
    * current-time timestamp). */
  private val streamOnly = Seq("pos_in_batch", "emit_ts", "timestamp")

  private def staged(fixtureName: String): (Path, String) = {
    val dir = Files.createTempDirectory("equal")
    Files.copy(Paths.get(fixture(fixtureName)), dir.resolve(fixtureName))
    (dir, fixtureName)
  }

  private def written(name: String, content: String): (Path, String) = {
    val dir = Files.createTempDirectory("equal")
    Files.writeString(dir.resolve(name), content)
    (dir, name)
  }

  /** A config that plays `file` in its directory forever, 1000 lines a
    * second (one line a millisecond in ragged mode). */
  private def playing(cfg: PlaybackConfig, at: (Path, String)): PlaybackConfig =
    cfg.copy(csvDirName = at._1.toString, csvFileName = at._2.stripSuffix(".gz"),
      ingestMode = IngestMode.Continuous, sampleRate = 1000,
      postProcessMethod = PostProcess.ContinuePlaying)

  private def file(at: (Path, String)): String = at._1.resolve(at._2).toString

  /** Rows [0, fileRows) of the stream, collected once a later row shows
    * that the first pass is complete, without the `dropped` columns. */
  private def firstPass(cfg: PlaybackConfig, at: (Path, String), name: String,
      dropped: Seq[String] = streamOnly): DataFrame = {
    val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, file(at))
    val fileRows = idx.totalLines - CsvPlaybackStream.dataStartLine(cfg)
    val q = PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      def played = spark.sql(s"SELECT coalesce(max(row_idx), -1) FROM $name").head().getLong(0)
      val deadline = System.currentTimeMillis() + 180000
      while (played < fileRows && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(played >= fileRows, s"stream did not finish one pass of $fileRows rows")
    } finally q.stop()
    spark.table(name).filter(col("row_idx") < fileRows).drop(dropped: _*)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  private def assertEqual(cfg0: PlaybackConfig, at: (Path, String), name: String): DataFrame = {
    val cfg = playing(cfg0, at)
    val batch = CsvPlayback.readFile(spark, cfg, file(at))
      .withColumnRenamed(CsvPlayback.RowIdx, "row_idx")
    val stream = firstPass(cfg, at, name)
    val types = (df: DataFrame) => df.schema.fields.map(f => f.name -> f.dataType).toSet
    assert(types(batch) == types(stream), s"${batch.schema} vs ${stream.schema}")
    val cols = batch.columns.map(col).toIndexedSeq
    assert(sorted(batch) == sorted(stream.select(cols: _*)))
    assert(batch.count() > 0)
    batch
  }

  /** Both reads of `at` under `cfg` fail when built, with `message`. */
  private def assertBothReject(cfg: PlaybackConfig, at: (Path, String), message: String): Unit =
    for (read <- Seq[() => Any](() => CsvPlayback.readFile(spark, cfg, file(at)),
        () => PlaybackStream.readings(spark, cfg))) {
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains(message), e.getMessage)
    }

  private def messages(t: Throwable): String =
    if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"

  test("pick_from_file, plain and gz") {
    assertEqual(PlaybackConfig(), staged("vibration.csv"), "eq_vib")
    assertEqual(PlaybackConfig(), staged("vibration.csv.gz"), "eq_vib_gz")
  }

  test("explicit useColumns with a blank entry") {
    val b = assertEqual(PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "id:int,,status:str"), staged("typed.csv"), "eq_typed")
    assert(b.columns.toSeq == Seq("id", "status", "row_idx"))
  }

  test("skip_rows and pass_in_datapoint") {
    assertEqual(PlaybackConfig(headerMethod = HeaderMethod.SkipRows, noOfRows = 3),
      staged("skip3.csv"), "eq_skip")
    val b = assertEqual(PlaybackConfig(headerMethod = HeaderMethod.PassInDatapoint,
      noOfRows = 2), staged("meta_header.csv"), "eq_meta")
    assert(b.columns.contains("metadata"))
  }

  test("ragged pivot") {
    assertEqual(PlaybackConfig(variableCols = true), staged("ragged.csv"), "eq_ragged")
  }

  test("quoted fields take the same fallback parse") {
    val b = assertEqual(PlaybackConfig(), staged("raw_fledge_export.csv"), "eq_quoted")
    assert(b.orderBy("row_idx").head().getString(0).startsWith("{\"channel1\""))
  }

  test("a lone \\r stays inside its field on both paths") {
    val b = assertEqual(PlaybackConfig(), written("lonecr.csv", "h1,h2\na\rb,1\n2,3\r\n"),
      "eq_lonecr")
    assert(b.count() == 2)
  }

  test("a typed column past the inference sample reads as its useColumns type") {
    val n = PlaybackStream.InferSampleLines
    val at = written("late_typed.csv",
      (Seq("x,n") ++ (1 to n).map(i => s"$i,$i") :+ "2.5,3000000000").mkString("", "\n", "\n"))
    val b = assertEqual(PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "x:float,n:int"), at, "eq_late_typed")
    val last = b.filter(col("row_idx") === n).head()
    assert(last.getDouble(0) == 2.5 && last.getLong(1) == 3000000000L)
  }

  test("copy csv value: byte-kernel rows and to_timestamp fallback rows agree on both paths") {
    // a .5 fraction and Feb 30 take the fallback; Feb 30 is null with ANSI off
    val at = written("copied.csv", Seq("user_ts,v",
      "2019-12-12 10:00:00.000125+0000,1",
      "2019-12-12 10:00:00.5+0000,2",
      "2019-02-30 10:00:00.000000+0000,3",
      "2019-12-12 15:30:00.000250+0530,4").mkString("", "\n", "\n"))
    val cfg = playing(PlaybackConfig(timestampStyle = TimestampStyle.CopyCsvValue,
      timestampCol = "user_ts"), at)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val batch = TimestampStyles.copyCsvValue(CsvPlayback.readFile(spark, cfg, file(at)),
          cfg.timestampCol, cfg.timestampFormat)
        .withColumnRenamed(CsvPlayback.RowIdx, "row_idx")
      val stream = firstPass(cfg, at, "eq_copied", dropped = Seq("pos_in_batch", "emit_ts"))
      val cols = batch.columns.map(col).toIndexedSeq
      val inOrder = (df: DataFrame) => df.select(cols: _*).orderBy("row_idx").collect().toSeq
      val rows = inOrder(batch)
      assert(rows == inOrder(stream))
      assert(batch.schema.map(_.dataType) == stream.select(cols: _*).schema.map(_.dataType))
      assert(rows.map(r => Option(r.getTimestamp(r.fieldIndex("timestamp"))).map(_.toInstant.toString)) ==
        Seq(Some("2019-12-12T10:00:00.000125Z"), Some("2019-12-12T10:00:00.500Z"), None,
          Some("2019-12-12T10:00:00.000250Z")))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("explicit with an empty useColumns fails on both paths") {
    val at = staged("typed.csv")
    assertBothReject(playing(PlaybackConfig(columnMethod = ColumnMethod.Explicit), at), at,
      "columnMethod=explicit needs a non-empty useColumns")
  }

  test("a header or useColumns whose column count differs from the data fails on both paths") {
    val at = written("mismatch.csv", "a,b\n1,2,3\n4,5,6\n")
    assertBothReject(playing(PlaybackConfig(), at), at, "header declares 2 columns, data has 3")
    assertBothReject(playing(PlaybackConfig(columnMethod = ColumnMethod.Explicit,
      useColumns = "a,b"), at), at, "useColumns declares 2 positions, file has 3 columns")
  }

  test("a value past the inference sample that does not parse fails on both paths") {
    val at = written("late_text.csv",
      (Seq("n") ++ (1 to PlaybackStream.InferSampleLines).map(_.toString) :+ "oops")
        .mkString("", "\n", "\n"))
    val cfg = playing(PlaybackConfig(), at)
    val batchErr = intercept[Exception](CsvPlayback.readFile(spark, cfg, file(at)).collect())
    assert(messages(batchErr).contains("CAST_INVALID_INPUT"), messages(batchErr))
    val q = PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName("eq_late_text")
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      val streamErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(180000))
      assert(messages(streamErr).contains("CAST_INVALID_INPUT"), messages(streamErr))
    } finally if (q.isActive) q.stop()
  }
}
