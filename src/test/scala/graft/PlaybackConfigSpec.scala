package graft

import graft.config.{Enums, PlaybackConfig}
import Enums._

class PlaybackConfigSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("defaults mirror the reference (csvplayback.py:53-236)") {
    val c = PlaybackConfig()
    assert(c.assetName == "vibration" && c.sampleRate == 8000 &&
      c.burstInterval == 1000 && c.ingestMode == IngestMode.Burst &&
      c.timestampFormat == "%Y-%m-%d %H:%M:%S.%f%z")
  }

  test("fromOptions takes the case-class defaults and inverts toOptions") {
    assert(PlaybackConfig.fromOptions(Map.empty) == PlaybackConfig())
    val c = PlaybackConfig(assetName = "pump", csvDirName = "/data/in",
      csvFileName = "pump", headerMethod = HeaderMethod.SkipRows,
      dataPointForCombine = "meta", noOfRows = 3, variableCols = true,
      columnMethod = ColumnMethod.Explicit, autoGeneratePrefix = "col",
      useColumns = "a:float,b:int", rowIndexForColumnNames = 2,
      ingestMode = IngestMode.Continuous, sampleRate = 100, burstInterval = 500,
      timestampStyle = TimestampStyle.MoveCsvValue, timestampCol = "ts",
      timestampFormat = "%Y-%m-%d %H:%M:%S", ignoreNaN = NaNPolicy.Report,
      postProcessMethod = PostProcess.Rename, suffixName = ".done")
    val differs = c.productIterator.zip(PlaybackConfig().productIterator)
      .map { case (a, b) => a != b }.toSeq
    assert(differs.length == 20 && differs.forall(identity),
      "every field of the round-tripped config is non-default")
    assert(PlaybackConfig.fromOptions(PlaybackConfig.toOptions(c)) == c)
    // keys are case-insensitive, as DataSourceV2 options are
    assert(PlaybackConfig.fromOptions(Map("SAMPLERATE" -> "7")).sampleRate == 7)
  }

  test("chunk derivation: burst = sampleRate*interval/1000 (csvplayback.py:296-301)") {
    val c = PlaybackConfig()
    assert(c.chunkSize == 8000 && c.periodSec == 1.0)
    assert(PlaybackConfig(sampleRate = 4000, burstInterval = 500).chunkSize == 2000)
  }

  test("chunk derivation: continuous = sampleRate, period = 1/rate (csvplayback.py:305-311)") {
    val c = PlaybackConfig(ingestMode = IngestMode.Continuous, sampleRate = 8000)
    assert(c.chunkSize == 8000 && math.abs(c.periodSec - 1.25e-4) < 1e-12)
  }

  test("ragged forces chunkSize 1 (csvplayback.py:300-309)") {
    assert(PlaybackConfig(variableCols = true).chunkSize == 1)
    assert(PlaybackConfig(variableCols = true,
      ingestMode = IngestMode.Continuous).chunkSize == 1)
  }

  test("validation rules (csvplayback.py:272-292)") {
    assert(PlaybackConfig(sampleRate = 0).validationErrors.nonEmpty)
    assert(PlaybackConfig(sampleRate = 1000001).validationErrors.nonEmpty)
    assert(PlaybackConfig(burstInterval = 0).validationErrors.nonEmpty)
    // historic styles need ts col+format and continuous mode
    val historicBurst = PlaybackConfig(
      timestampStyle = TimestampStyle.CopyCsvValue, timestampCol = "ts")
    assert(historicBurst.validationErrors.exists(_.contains("continuous")))
    val ok = PlaybackConfig(timestampStyle = TimestampStyle.CopyCsvValue,
      timestampCol = "ts", ingestMode = IngestMode.Continuous)
    assert(ok.validationErrors.isEmpty)
    val noCol = PlaybackConfig(timestampStyle = TimestampStyle.UseCsvSampleDelta,
      ingestMode = IngestMode.Continuous)
    assert(noCol.validationErrors.exists(_.contains("must be specified")))
  }

  test("FLEDGE_DATA expansion (csvplayback.py:488-494)") {
    assert(PlaybackConfig.resolveDataDir("FLEDGE_DATA", "/fr") == "/fr/data")
    assert(PlaybackConfig.resolveDataDir("FLEDGE_DATA/sub", "/fr") == "/fr/data/sub")
    assert(PlaybackConfig.resolveDataDir("/abs/dir", "/fr") == "/abs/dir")
  }

  test("matchingFiles closes its directory listing (an idle stream lists at 100 Hz)") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case u: com.sun.management.UnixOperatingSystemMXBean => u
      case other => cancel(s"no open-fd count on ${other.getClass.getName}")
    }
    val dir = java.nio.file.Files.createTempDirectory("listing")
    java.nio.file.Files.createFile(dir.resolve("a_vib.csv"))
    java.nio.file.Files.createFile(dir.resolve("other.txt"))
    val before = os.getOpenFileDescriptorCount
    // an unclosed Files.list keeps one fd per call: 2000 calls would
    // leave ≥ 2000 open, far past the slack for unrelated JVM activity
    for (_ <- 1 to 2000)
      assert(PlaybackConfig.matchingFiles(dir, "vib").map(_.getFileName.toString) == Seq("a_vib.csv"))
    val grown = os.getOpenFileDescriptorCount - before
    assert(grown < 100, s"open fds grew by $grown over 2000 listings")
  }
}
