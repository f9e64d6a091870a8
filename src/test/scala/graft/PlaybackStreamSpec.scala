package graft

import graft.config.{Enums, PlaybackConfig}
import Enums._
import graft.streaming.PlaybackStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

class PlaybackStreamSpec extends SparkSpec {

  /** Copies a fixture into a fresh temp dir (post-processing mutates files). */
  private def stage(fixtureName: String, as: String = null): Path = {
    val dir = Files.createTempDirectory("playback")
    val target = if (as == null) fixtureName else as
    Files.copy(Paths.get(fixture(fixtureName)), dir.resolve(target),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  // Wait ceilings are deliberately generous (3 min): these are
  // poll-until-condition loops, so a passing run exits in seconds — the
  // ceiling only matters when the CI host stalls (observed: co-tenant
  // pauses stretching a 10 ms micro-batch to 150+ s), where a tight
  // ceiling turns an environment hiccup into a spurious red suite.
  private def runStream(cfg: PlaybackConfig, queryName: String,
      stopWhen: () => Boolean, maxWaitMs: Long = 180000): Unit = {
    val q = PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime(10))
      .start()
    try {
      val deadline = System.currentTimeMillis() + maxWaitMs
      while (!stopWhen() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(stopWhen(), s"condition not reached within ${maxWaitMs}ms")
    } finally q.stop()
  }

  private def count(name: String): Long =
    spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)

  test("replay-forever loops the file with monotone row_idx (csvplayback.py:442-474)") {
    val dir = stage("vibration.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      ingestMode = IngestMode.Continuous, sampleRate = 2, // 2 rows per trigger
      timestampStyle = TimestampStyle.CopyCsvValue, timestampCol = "user_ts",
      postProcessMethod = PostProcess.ContinuePlaying)
    runStream(cfg, "replay", () => count("replay") >= 9) // 3 full passes of 3 rows
    val rows = spark.sql("SELECT row_idx, channel1 FROM replay ORDER BY row_idx").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until rows.length).toSeq,
      "row_idx is gapless and monotone across replays")
    // channel1 repeats with period 3 (same file looped); inference makes
    // it a double now — compare boxed values
    val c1 = rows.map(_.get(1))
    assert(c1(0) == c1(3) && c1(1) == c1(4))
  }

  test("checkpointed restart resumes at the committed offset: no dup, no loss") {
    val dir = stage("vibration.csv")
    val out = Files.createTempDirectory("pbout")
    val ckpt = Files.createTempDirectory("pbckpt")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      ingestMode = IngestMode.Continuous, sampleRate = 2,
      timestampStyle = TimestampStyle.CopyCsvValue, timestampCol = "user_ts",
      postProcessMethod = PostProcess.ContinuePlaying)
    def startQ() = PlaybackStream.readings(spark, cfg)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(10))
      .start()
    def written(): Long =
      try spark.read.parquet(out.toString).count() catch { case _: Throwable => 0L }
    def waitFor(target: Long): Unit = {
      val deadline = System.currentTimeMillis() + 180000
      while (written() < target && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    val q1 = startQ()
    try waitFor(6) finally q1.stop()
    val n1 = written()
    assert(n1 >= 6, s"first run only wrote $n1 rows")
    // cold restart from the same checkpoint: the WAL replays any
    // uncommitted batch, the parquet metadata log dedups it, and the
    // source resumes from the recovered PlaybackOffset
    val q2 = startQ()
    try waitFor(n1 + 6) finally q2.stop()
    val idx = spark.read.parquet(out.toString)
      .select("row_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx.length >= n1 + 6, s"second run added ${idx.length - n1} rows")
    assert(idx == (0L until idx.length).toSeq,
      "row_idx is gapless across the restart — exactly-once end to end")
  }

  test("restart after file rotation never post-processes an unplayed file") {
    val dir = stage("vibration.csv", as = "a_vib.csv")
    val out = Files.createTempDirectory("pbrot-out")
    val ckpt = Files.createTempDirectory("pbrot-ckpt")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = PostProcess.Delete)
    def startQ() = PlaybackStream.readings(spark, cfg)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(10))
      .start()
    def written(): Long =
      try spark.read.parquet(out.toString).count() catch { case _: Throwable => 0L }
    // run 1: play file a to EOF (3 rows, then deleted), stop
    val q1 = startQ()
    try {
      val deadline = System.currentTimeMillis() + 180000
      while ((written() < 3 || Files.exists(dir.resolve("a_vib.csv"))) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally q1.stop()
    assert(written() >= 3 && !Files.exists(dir.resolve("a_vib.csv")))
    // a new file arrives while the stream is down; the recovered offset
    // (3 rows, anchored to the now-deleted file a) must NOT trip the
    // rotate check against it
    Files.copy(Paths.get(fixture("vibration.csv")), dir.resolve("b_vib.csv"))
    val q2 = startQ()
    try {
      val deadline = System.currentTimeMillis() + 180000
      while (written() < 6 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally q2.stop()
    val idx = spark.read.parquet(out.toString)
      .select("row_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until idx.length).toSeq && idx.length >= 6,
      s"file b played with continuing row_idx, got $idx")
  }

  /** Kill/restart fuzz for EOF post-processing: stop the query mid-file
    * (checkpoint preserved), restart cold, and require exactly-once
    * playback through to the post-process action. ContinuePlaying's
    * restart contract is pinned by "checkpointed restart resumes at the
    * committed offset" above (it has no EOF action to race with). */
  private def restartMidFile(mode: PostProcess, tag: String): Unit = {
    val dir = Files.createTempDirectory(s"pbmid$tag")
    val rows = (0 until 200).map(i => s"$i.5")
    Files.writeString(dir.resolve("big.csv"), ("channel1" +: rows).mkString("\n") + "\n")
    val out = Files.createTempDirectory(s"pbmid$tag-out")
    val ckpt = Files.createTempDirectory(s"pbmid$tag-ckpt")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "big",
      ingestMode = IngestMode.Burst, sampleRate = 20, burstInterval = 500,
      postProcessMethod = mode, suffixName = ".done")
    def startQ() = PlaybackStream.readings(spark, cfg)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(10))
      .start()
    def written(): Long =
      try spark.read.parquet(out.toString).count() catch { case _: Throwable => 0L }
    def waitFor(what: String)(cond: () => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 180000
      while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(cond(), s"$what not reached within 180s")
    }
    // run 1: kill mid-file. The source paces 10 rows per 500 ms, so the
    // 200-row file needs ~10 s of live playback — stopping at ≥10
    // written rows lands well before EOF even if the host hiccups.
    val q1 = startQ()
    try waitFor("first rows written")(() => written() >= 10) finally q1.stop()
    assert(Files.exists(dir.resolve("big.csv")),
      "stopped mid-file: EOF post-processing must not have run")
    // run 2 from the same checkpoint: the WAL replays any uncommitted
    // batch, the parquet metadata log dedups it, playback resumes at the
    // recovered offset, reaches EOF, and post-processes exactly once
    val q2 = startQ()
    try waitFor("EOF + post-process")(
      () => written() >= 200 && !Files.exists(dir.resolve("big.csv")))
    finally q2.stop()
    val idx = spark.read.parquet(out.toString)
      .select("row_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until 200L).toSeq,
      s"row_idx gapless and duplicate-free across the restart (got ${idx.length} rows)")
    if (mode == PostProcess.Rename)
      assert(Files.exists(dir.resolve("big.csv.done")), "renamed at EOF")
    else
      assert(!Files.exists(dir.resolve("big.csv.done")), "deleted, not renamed")
  }

  test("mid-file restart with postProcess=delete: exactly-once, then delete") {
    restartMidFile(PostProcess.Delete, "del")
  }

  test("mid-file restart with postProcess=rename: exactly-once, then rename") {
    restartMidFile(PostProcess.Rename, "ren")
  }

  test("burst budget: each micro-batch emits at most a burst's worth") {
    val dir = stage("vibration.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      ingestMode = IngestMode.Burst, sampleRate = 2000, burstInterval = 1000,
      postProcessMethod = PostProcess.ContinuePlaying) // chunk = 2000
    val q = PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName("burst")
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      val deadline = System.currentTimeMillis() + 180000
      while (q.recentProgress.length < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.nonEmpty && sizes.forall(_ <= 2000),
        s"per-trigger rows respect the burst budget: ${sizes.toSeq}")
    } finally q.stop()
  }

  test("source pacing enforces sampleRate under a trigger faster than the pace") {
    val dir = stage("vibration.csv")
    // chunk = 1000 rows per 500 ms tick; the 10 ms trigger polls 50×
    // faster than the pace — before source-side admission this emitted
    // a full chunk per trigger (100k rows/sec from a 2k-configured
    // stream). Now the third chunk cannot exist before the third tick.
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      ingestMode = IngestMode.Burst, sampleRate = 2000, burstInterval = 500,
      postProcessMethod = PostProcess.ContinuePlaying)
    val t0 = System.nanoTime()
    runStream(cfg, "paced", () => count("paced") >= 3000)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    // chunk k is released no earlier than tick k: 3 chunks ⇒ ≥ 2 full
    // pace intervals elapsed (0.1 s slack for clock granularity). The
    // bound is stall-proof — a slow host only makes elapsed larger.
    assert(elapsedSec >= 0.9,
      f"3 chunks of 1000 rows took $elapsedSec%.2f s; a paced source needs ≥ ~1 s")
  }

  test("postProcess=delete removes the file at EOF (csvplayback.py:448-450)") {
    val dir = stage("vibration.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.Delete)
    runStream(cfg, "del",
      () => count("del") >= 3 && !Files.exists(dir.resolve("vibration.csv")))
    assert(!Files.exists(dir.resolve("vibration.csv")))
    assert(count("del") == 3, "file played exactly once")
  }

  test("postProcess=rename appends the suffix at EOF (csvplayback.py:451-454)") {
    val dir = stage("vibration.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.Rename, suffixName = ".done")
    runStream(cfg, "ren", () => Files.exists(dir.resolve("vibration.csv.done")))
    assert(!Files.exists(dir.resolve("vibration.csv")))
  }

  test("next matching file plays after post-processing (csvplayback.py:462-465)") {
    val dir = stage("vibration.csv", as = "a_vib.csv")
    Files.copy(Paths.get(fixture("vibration.csv")), dir.resolve("b_vib.csv"))
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = PostProcess.Delete)
    runStream(cfg, "multi", () => count("multi") >= 6)
    assert(!Files.exists(dir.resolve("a_vib.csv")) && !Files.exists(dir.resolve("b_vib.csv")))
    // global row_idx continues across files
    val idx = spark.sql("SELECT max(row_idx) FROM multi").head().getLong(0)
    assert(idx == 5L)
  }

  test("explicit useColumns parse + cast on the stream") {
    val dir = stage("typed.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "typed",
      columnMethod = ColumnMethod.Explicit,
      useColumns = "id:int,temperature:float,status:str",
      postProcessMethod = PostProcess.Rename)
    runStream(cfg, "typedq", () => count("typedq") >= 3)
    val r = spark.sql("SELECT id, temperature, status FROM typedq ORDER BY id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(r(0).getDouble(1) - 2.5) < 1e-12)
  }

  test("quoted fields take the from_csv path on the stream, quote-free ones the split") {
    val dir = Files.createTempDirectory("playback")
    Files.write(dir.resolve("quoted.csv"), Seq(
      "id,name,value",
      "1,\"a,b\",10",
      "2,\"say \"\"hi\"\"\",20",
      "3,plain,30",
      "4,,40").mkString("", "\n", "\n").getBytes("UTF-8"))
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "quoted",
      postProcessMethod = PostProcess.Rename)
    runStream(cfg, "quotedq", () => count("quotedq") >= 4)
    val r = spark.sql("SELECT id, name, value FROM quotedq ORDER BY id").collect()
      .map(r => (r.get(0).toString, r.getString(1), r.get(2).toString)).toSeq
    assert(r == Seq(("1", "a,b", "10"), ("2", "say \"hi\"", "20"), ("3", "plain", "30"),
      ("4", null, "40")))
  }

  test("ragged mode streams the pivoted long form") {
    val dir = stage("ragged.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "ragged",
      variableCols = true, postProcessMethod = PostProcess.Rename)
    runStream(cfg, "raggedq", () => count("raggedq") >= 7)
    val got = spark.sql("SELECT row_idx, datapoint, value FROM raggedq ORDER BY row_idx, datapoint")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got.take(3) == Seq((0L, "column_1", "a"), (0L, "column_2", "b"), (0L, "column_3", "c")))
    assert(got.contains((1L, "column_4", "23")))
  }

  test("compressed file plays through the stream (codec line-skip path)") {
    val dir = Files.createTempDirectory("playback")
    Files.copy(Paths.get(fixture("vibration.csv.gz")), dir.resolve("vibration.csv.gz"))
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.ContinuePlaying)
    runStream(cfg, "gz", () => count("gz") >= 6)
    assert(spark.sql("SELECT DISTINCT channel1 FROM gz").count() == 3)
  }

  test("pass_in_datapoint attaches metadata on the stream") {
    val dir = stage("meta_header.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "meta",
      headerMethod = HeaderMethod.PassInDatapoint, noOfRows = 2,
      postProcessMethod = PostProcess.ContinuePlaying)
    runStream(cfg, "metaq", () => count("metaq") >= 2)
    val metas = spark.sql("SELECT DISTINCT metadata FROM metaq").collect().map(_.getString(0))
    assert(metas.toSeq == Seq("device=vib-007_firmware=1.4.2"))
  }

  test("head reads split lines like the reader: a lone \\r does not end a line") {
    val dir = Files.createTempDirectory("lonecr")
    val f = dir.resolve("lonecr.csv")
    Files.writeString(f, "meta\rmore\nc1,c2\n1,2\n3,4\n")
    val skip = PlaybackConfig(csvDirName = dir.toString, csvFileName = "lonecr",
      headerMethod = HeaderMethod.SkipRows, noOfRows = 1)
    assert(PlaybackStream.resolveColumns(spark, skip, f.toString) == Seq("c1", "c2"))
    // meta line, header, inference sample and played rows agree
    val cfg = skip.copy(headerMethod = HeaderMethod.PassInDatapoint,
      postProcessMethod = PostProcess.ContinuePlaying)
    runStream(cfg, "lonecr", () => count("lonecr") >= 2)
    val rows = spark.sql(
      "SELECT c1, c2, metadata FROM lonecr ORDER BY row_idx LIMIT 2").collect()
    assert(rows.map(r => (r.get(0), r.get(1), r.getString(2))).toSeq ==
      Seq((1, 2, "meta\rmore"), (3, 4, "meta\rmore")))
  }

  test("empty directory: stream starts, idles without error, picks up a late file") {
    val dir = Files.createTempDirectory("late")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = PostProcess.ContinuePlaying)
    // schema resolution needs a file: readings() fails fast with a clear error
    intercept[java.io.FileNotFoundException] { PlaybackStream.readings(spark, cfg) }
    // the raw source itself waits politely
    val raw = graft.streaming.PlaybackStream.raw(spark, cfg)
      .writeStream.format("memory").queryName("late")
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      Thread.sleep(500)
      assert(raw.isActive && count("late") == 0)
      Files.copy(Paths.get(fixture("vibration.csv")), dir.resolve("a_vib.csv"))
      val deadline = System.currentTimeMillis() + 180000
      while (count("late") < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(count("late") >= 3, "late-arriving file played")
    } finally raw.stop()
  }

  test("an idle postProcess=delete stream waiting for its next file holds its open-fd count") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case u: com.sun.management.UnixOperatingSystemMXBean => u
      case other => cancel(s"no open-fd count on ${other.getClass.getName}")
    }
    val dir = Files.createTempDirectory("idle")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = PostProcess.Delete)
    // a 10 ms trigger is the default trigger's idle polling delay: every
    // empty poll lists the directory looking for a file
    val raw = PlaybackStream.raw(spark, cfg)
      .writeStream.format("memory").queryName("idle_fd")
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      Thread.sleep(1000)
      val before = os.getOpenFileDescriptorCount
      Thread.sleep(3000)
      val grown = os.getOpenFileDescriptorCount - before
      assert(raw.isActive && count("idle_fd") == 0)
      // a listing that leaks one fd per poll would add ~300 here
      assert(grown < 60, s"open fds grew by $grown over 3 s of idle polling")
    } finally raw.stop()
  }

  test("streaming ignoreNaN=report stops the query with the reference's message (csvplayback.py:681-691)") {
    val dir = stage("nan_blank.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "nan_blank",
      ignoreNaN = NaNPolicy.Report, postProcessMethod = PostProcess.ContinuePlaying)
    val q = PlaybackStream.readings(spark, cfg)
      .writeStream.format("memory").queryName("nanrep")
      .trigger(Trigger.ProcessingTime(10)).start()
    try {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(180000)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("There are NaN / missing values in the CSV file")),
        s"query failed with the reference's error: ${messages(ex)}")
      assert(!q.isActive, "report mode shut the stream down")
    } finally if (q.isActive) q.stop()
  }

  test("streaming dtype inference matches the batch reader (csvplayback.py:638-641)") {
    val dir = stage("vibration.csv")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.ContinuePlaying)
    val batch = graft.sources.CsvPlayback.readFile(spark, cfg,
      dir.resolve("vibration.csv").toString)
    val streamed = PlaybackStream.readings(spark, cfg)
    val batchTypes = batch.schema.fields
      .filter(f => f.name != graft.sources.CsvPlayback.RowIdx)
      .map(f => f.name -> f.dataType).toMap
    val streamTypes = streamed.schema.fields
      .filter(f => batchTypes.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    assert(streamTypes == batchTypes,
      s"streamed dtypes $streamTypes == batch-inferred $batchTypes")
    assert(streamTypes("channel1") == org.apache.spark.sql.types.DoubleType,
      "numeric playback columns are numeric, not strings")
    // and the streamed VALUES parse as the typed batch values
    runStream(cfg, "dtyped", () => count("dtyped") >= 3)
    val got = spark.sql("SELECT channel1 FROM dtyped ORDER BY row_idx LIMIT 3")
      .collect().map(_.getDouble(0)).toSeq
    val want = batch.orderBy(graft.sources.CsvPlayback.RowIdx)
      .select("channel1").collect().map(_.getDouble(0)).toSeq
    assert(got == want)
  }

  test("T5 sample-delta timestamps are monotone on the stream") {
    // the delta comes from the file's first two data rows as the stream
    // parses them: an offset-free format and a quoted first field whose
    // JSON holds commas read the same 125µs as the plain fixture
    val zoneless = Files.createTempDirectory("playback")
    Files.write(zoneless.resolve("zoneless.csv"), ("channel1,user_ts\n" +
      (0 until 3).map(i => f"0.5,2019-12-12 10:00:00.${i * 125}%06d\n").mkString)
      .getBytes("UTF-8"))
    Seq(
      ("delta", stage("vibration.csv"), "vibration", "%Y-%m-%d %H:%M:%S.%f%z"),
      ("delta_zoneless", zoneless, "zoneless", "%Y-%m-%d %H:%M:%S.%f"),
      ("delta_quoted", stage("raw_fledge_export.csv"), "raw_fledge_export",
        "%Y-%m-%d %H:%M:%S.%f%z")).foreach { case (name, dir, file, fmt) =>
      val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = file,
        ingestMode = IngestMode.Continuous, sampleRate = 2,
        timestampStyle = TimestampStyle.UseCsvSampleDelta,
        timestampCol = "user_ts", timestampFormat = fmt,
        postProcessMethod = PostProcess.ContinuePlaying)
      runStream(cfg, name, () => count(name) >= 6)
      // consecutive stamps differ by exactly the file's 125µs, across replays
      val tsMicros = spark.sql(s"SELECT unix_micros(timestamp) FROM $name ORDER BY row_idx")
        .collect().map(_.getLong(0))
      assert(tsMicros.sliding(2).forall(p => p(1) - p(0) == 125L),
        s"$file: uniform 125µs spacing across replays: ${tsMicros.take(8).toSeq}")
    }
  }

  test("recovered anchor rejects a same-named file with different bytes") {
    import graft.streaming.{CsvPlaybackMicroBatchStream, PlaybackOffset}
    val dir = stage("vibration.csv")
    val f = dir.resolve("vibration.csv").toString
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.Delete)
    val realBytes = Files.size(Paths.get(f))
    // WAL-replayed batch [0, 3) anchored to a file whose recorded size
    // does not match what's on disk now: a same-named successor arrived
    // after the anchored file was rotated. Policy: emit nothing (the
    // range is unrecoverable), never the new file's bytes.
    val wrong = new CsvPlaybackMicroBatchStream(cfg)
    val partsWrong = wrong.planInputPartitions(
      PlaybackOffset(0L, Some(f), 0L, realBytes + 7),
      PlaybackOffset(3L, Some(f), 0L, realBytes + 7))
    assert(partsWrong.isEmpty, "mismatched identity must not replay")
    // matching identity (and the legacy no-identity offset) recovers
    val right = new CsvPlaybackMicroBatchStream(cfg)
    assert(right.planInputPartitions(
      PlaybackOffset(0L, Some(f), 0L, realBytes),
      PlaybackOffset(3L, Some(f), 0L, realBytes)).nonEmpty)
    val legacy = new CsvPlaybackMicroBatchStream(cfg)
    assert(legacy.planInputPartitions(
      PlaybackOffset(0L, Some(f), 0L),
      PlaybackOffset(3L, Some(f), 0L)).nonEmpty)
    // offset JSON roundtrips the identity
    val o = PlaybackOffset(5L, Some(f), 2L, realBytes)
    assert(PlaybackOffset.parse(o.json()) == o)
  }

  test("offset JSON: plain paths keep their bytes, any path round-trips") {
    import graft.streaming.PlaybackOffset
    assert(PlaybackOffset(5L, Some("/data/play/vibration.csv"), 2L, 123L).json() ==
      """{"totalRows":5,"file":"/data/play/vibration.csv","fileStart":2,"fileBytes":123}""")
    assert(PlaybackOffset(7L, None, 3L).json() == """{"totalRows":7,"fileStart":3}""")
    // the offset log is one line per source: no raw control char may land in it
    val odd = PlaybackOffset(1L, Some("/d/a\"b\\c\td\ne.csv"), 0L, 9L)
    assert(!odd.json().exists(_ < ' '), odd.json())
    assert(PlaybackOffset.parse(odd.json()) == odd)
    assert(PlaybackOffset.parse("""{"totalRows":4}""") == PlaybackOffset(4L))
    // written once per offset: equals/hashCode/toString reuse the same string
    assert(odd.json() eq odd.json())
    assert(odd.hashCode == odd.json().hashCode && odd.toString == odd.json())
  }

  test("non-replay recovery clamps a range that overruns the file (no wrap re-emit)") {
    import graft.streaming.{CsvPlaybackMicroBatchStream, PlaybackOffset}
    val dir = stage("vibration.csv")
    val f = dir.resolve("vibration.csv").toString
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.Delete)
    // a legacy offset (no identity) recovered against a file that now
    // has only 3 data rows, with a WAL range [0, 10): plan exactly the
    // 3 real rows — the modulo wrap must not re-emit rows 0.. again
    val st = new CsvPlaybackMicroBatchStream(cfg)
    val parts = st.planInputPartitions(
      PlaybackOffset(0L, Some(f), 0L),
      PlaybackOffset(10L, Some(f), 0L))
    val planned = parts.map {
      case graft.streaming.PlaybackInputPartition(_, _, rs, re, _, _, _, _, _) => re - rs
    }.sum
    assert(planned == 3L, s"clamped to the file's 3 rows, planned $planned")
  }
}
