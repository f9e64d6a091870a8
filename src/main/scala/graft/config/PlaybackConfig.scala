package graft.config

/** Enumerations mirroring the reference's config options
  * (csvplayback.py:53-236). */
object Enums {
  sealed abstract class HeaderMethod(val key: String)
  object HeaderMethod {
    case object DoNotSkip extends HeaderMethod("do_not_skip")
    case object SkipRows extends HeaderMethod("skip_rows")
    case object PassInDatapoint extends HeaderMethod("pass_in_datapoint")
    val all = Seq(DoNotSkip, SkipRows, PassInDatapoint)
    def from(s: String): HeaderMethod = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"unknown headerMethod '$s'"))
  }

  sealed abstract class ColumnMethod(val key: String)
  object ColumnMethod {
    case object PickFromFile extends ColumnMethod("pick_from_file")
    case object Explicit extends ColumnMethod("explicit")
    val all = Seq(PickFromFile, Explicit)
    def from(s: String): ColumnMethod = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"unknown columnMethod '$s'"))
  }

  sealed abstract class IngestMode(val key: String)
  object IngestMode {
    case object Burst extends IngestMode("burst")
    case object Continuous extends IngestMode("continuous")
    val all = Seq(Burst, Continuous)
    def from(s: String): IngestMode = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"ingestMode should be one of ('burst', 'continuous')"))
  }

  sealed abstract class TimestampStyle(val key: String)
  object TimestampStyle {
    case object CurrentTime extends TimestampStyle("current time")
    case object CopyCsvValue extends TimestampStyle("copy csv value")
    case object MoveCsvValue extends TimestampStyle("move csv value")
    case object UseCsvSampleDelta extends TimestampStyle("use csv sample delta")
    val all = Seq(CurrentTime, CopyCsvValue, MoveCsvValue, UseCsvSampleDelta)
    def from(s: String): TimestampStyle = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"unknown timestampStyle '$s'"))
  }

  sealed abstract class NaNPolicy(val key: String)
  object NaNPolicy {
    case object Ignore extends NaNPolicy("ignore")
    case object Report extends NaNPolicy("report")
    val all = Seq(Ignore, Report)
    def from(s: String): NaNPolicy = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"unknown ignoreNaN '$s'"))
  }

  sealed abstract class PostProcess(val key: String)
  object PostProcess {
    case object ContinuePlaying extends PostProcess("continue_playing")
    case object Delete extends PostProcess("delete")
    case object Rename extends PostProcess("rename")
    val all = Seq(ContinuePlaying, Delete, Rename)
    def from(s: String): PostProcess = all.find(_.key == s).getOrElse(
      throw new IllegalArgumentException(s"unknown postProcessMethod '$s'"))
  }
}

import Enums._

/** The playback engine configuration — the reference's 20 config keys
  * with their defaults (csvplayback.py:53-236) as a typed case class.
  *
  * `validate()` mirrors plugin_init's rules (csvplayback.py:272-292);
  * `chunkSize` / `periodSec` mirror the derivation at
  * csvplayback.py:294-318.
  */
final case class PlaybackConfig(
    assetName: String = "vibration",
    csvDirName: String = "FLEDGE_DATA",
    csvFileName: String = "",
    headerMethod: HeaderMethod = HeaderMethod.DoNotSkip,
    dataPointForCombine: String = "metadata",
    noOfRows: Int = 1,
    variableCols: Boolean = false,
    columnMethod: ColumnMethod = ColumnMethod.PickFromFile,
    autoGeneratePrefix: String = "column",
    useColumns: String = "",
    rowIndexForColumnNames: Int = 0,
    ingestMode: IngestMode = IngestMode.Burst,
    sampleRate: Int = 8000,
    burstInterval: Int = 1000,
    timestampStyle: TimestampStyle = TimestampStyle.CurrentTime,
    timestampCol: String = "",
    timestampFormat: String = "%Y-%m-%d %H:%M:%S.%f%z",
    ignoreNaN: NaNPolicy = NaNPolicy.Ignore,
    postProcessMethod: PostProcess = PostProcess.ContinuePlaying,
    suffixName: String = ".tmp") {

  /** Validation failures, reference-identical rules
    * (csvplayback.py:272-292). Empty = valid. */
  def validationErrors: List[String] = {
    var errs = List.newBuilder[String]
    if (sampleRate < 1 || sampleRate > 1000000)
      errs += "sampleRate should be in range 1-1000000"
    if (burstInterval < 1)
      errs += "burstInterval should not be less than 1"
    val historic = timestampStyle != TimestampStyle.CurrentTime
    if (historic && (timestampCol.isEmpty || timestampFormat.isEmpty))
      errs += "timestamp Column (of csv File) and timestamp Format must be specified"
    if (historic && ingestMode == IngestMode.Burst)
      errs += "Historic and delta timestamps are only used in continuous mode"
    errs.result()
  }

  def validated: PlaybackConfig = {
    val errs = validationErrors
    if (errs.nonEmpty)
      throw new IllegalArgumentException(s"plugin_init failed: ${errs.mkString("; ")}")
    this
  }

  /** Rows per emission unit: a burst's worth in burst mode, a second's
    * worth in continuous mode, always 1 for ragged files
    * (csvplayback.py:294-318). */
  def chunkSize: Int = ingestMode match {
    case IngestMode.Burst =>
      if (variableCols) 1 else ((burstInterval / 1000.0) * sampleRate).toInt
    case IngestMode.Continuous =>
      if (variableCols) 1 else sampleRate
  }

  /** Seconds between emissions (csvplayback.py:298, 311). */
  def periodSec: Double = ingestMode match {
    case IngestMode.Burst => burstInterval / 1000.0
    case IngestMode.Continuous => 1.0 / chunkSize
  }

  /** Seconds between emission units under SOURCE pacing: the wall-clock
    * spacing at which the stream source releases successive chunks, so
    * the configured `sampleRate` is enforced by the source itself
    * (like Spark's own `rate` source) rather than by whatever trigger
    * cadence the writer happens to use. Burst mode releases a burst
    * per `burstInterval`; continuous mode releases a second's worth of
    * rows per second (= `chunkSize / sampleRate`, which also covers
    * the ragged 1-row chunks at 1/rate). */
  def paceSec: Double = ingestMode match {
    case IngestMode.Burst => burstInterval / 1000.0
    case IngestMode.Continuous => chunkSize.toDouble / sampleRate
  }

  def parsedUseColumns: graft.schema.UseColumns.Spec =
    graft.schema.UseColumns.parse(useColumns)
}

object PlaybackConfig {

  /** Round-trips the config through DataSourceV2 string options (the
    * reference's JSON config keys, csvplayback.py:53-236). */
  def toOptions(cfg: PlaybackConfig): Map[String, String] = Map(
    "assetName" -> cfg.assetName,
    "csvDirName" -> cfg.csvDirName,
    "csvFileName" -> cfg.csvFileName,
    "headerMethod" -> cfg.headerMethod.key,
    "dataPointForCombine" -> cfg.dataPointForCombine,
    "noOfRows" -> cfg.noOfRows.toString,
    "variableCols" -> cfg.variableCols.toString,
    "columnMethod" -> cfg.columnMethod.key,
    "autoGeneratePrefix" -> cfg.autoGeneratePrefix,
    "useColumns" -> cfg.useColumns,
    "rowIndexForColumnNames" -> cfg.rowIndexForColumnNames.toString,
    "ingestMode" -> cfg.ingestMode.key,
    "sampleRate" -> cfg.sampleRate.toString,
    "burstInterval" -> cfg.burstInterval.toString,
    "timestampStyle" -> cfg.timestampStyle.key,
    "timestampCol" -> cfg.timestampCol,
    "timestampFormat" -> cfg.timestampFormat,
    "ignoreNaN" -> cfg.ignoreNaN.key,
    "postProcessMethod" -> cfg.postProcessMethod.key,
    "suffixName" -> cfg.suffixName)

  /** Validated inverse of [[toOptions]]; an absent key takes the default. */
  def fromOptions(opts: Map[String, String]): PlaybackConfig = {
    val ci = opts.map { case (k, v) => k.toLowerCase -> v }
    val dflt = toOptions(PlaybackConfig())
    def s(k: String) = ci.getOrElse(k.toLowerCase, dflt(k))
    PlaybackConfig(
      assetName = s("assetName"),
      csvDirName = s("csvDirName"),
      csvFileName = s("csvFileName"),
      headerMethod = Enums.HeaderMethod.from(s("headerMethod")),
      dataPointForCombine = s("dataPointForCombine"),
      noOfRows = s("noOfRows").toInt,
      variableCols = s("variableCols").toBoolean,
      columnMethod = Enums.ColumnMethod.from(s("columnMethod")),
      autoGeneratePrefix = s("autoGeneratePrefix"),
      useColumns = s("useColumns"),
      rowIndexForColumnNames = s("rowIndexForColumnNames").toInt,
      ingestMode = Enums.IngestMode.from(s("ingestMode")),
      sampleRate = s("sampleRate").toInt,
      burstInterval = s("burstInterval").toInt,
      timestampStyle = Enums.TimestampStyle.from(s("timestampStyle")),
      timestampCol = s("timestampCol"),
      timestampFormat = s("timestampFormat"),
      ignoreNaN = Enums.NaNPolicy.from(s("ignoreNaN")),
      postProcessMethod = Enums.PostProcess.from(s("postProcessMethod")),
      suffixName = s("suffixName")).validated
  }

  /** `FLEDGE_DATA`-prefixed directory expansion (csvplayback.py:35-37,
    * 488-494): `FLEDGE_DATA` → `$FLEDGE_ROOT/data`, `FLEDGE_DATA/x` →
    * `$FLEDGE_ROOT/data/x`. */
  def resolveDataDir(csvDirName: String,
      fledgeRoot: String = sys.env.getOrElse("FLEDGE_ROOT", "/usr/local/fledge")): String = {
    val prefix = "FLEDGE_DATA"
    val data = s"$fledgeRoot/data"
    if (csvDirName.startsWith(prefix)) {
      if (csvDirName.split("/").length > 1) csvDirName.replace(prefix, data)
      else data
    } else csvDirName
  }

  /** Directory-listing filter (FileFinder, csvplayback.py:503-510):
    * basename contains the pattern and ends with .csv/csv.bz2/csv.gz;
    * alphabetically first match wins. An idle stream lists at the
    * trigger's polling rate, so the listing stream is closed here: an
    * unclosed `Files.list` holds a directory fd until the JVM exits. */
  def matchingFiles(dir: java.nio.file.Path, pattern: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val suffixes = Seq(".csv", "csv.bz2", "csv.gz")
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(java.nio.file.Files.list(dir)) { s =>
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.contains(pattern) && suffixes.exists(n.endsWith)
      }.toList
    }.sortBy(_.toString)
  }
}
