package graft.streaming

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.functions.CsvLine
import graft.operators.TimestampStyles
import graft.sources.{CsvPlayback, NaNReport}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** User-facing playback stream: the raw rate-limited source
  * ([[CsvPlaybackStream]]) parsed into typed datapoint columns with the
  * configured timestamp style applied — the full reference pipeline
  * (scan → project/rename/cast → ts rewrite → emit,
  * csvplayback.py:675-784) as one declarative streaming DataFrame.
  *
  * Parsing runs against a schema resolved once, driver-side, from the
  * file head — mirroring the reference's single schema resolution at
  * `read_csv_file` (csvplayback.py:556-673). A line with no `"` byte
  * that is well-formed UTF-8 and whose typed fields are plain decimals is
  * cut at `,` and each field read into its type in one byte pass
  * ([[graft.functions.CsvLine]]); any other line goes through
  * [[parseLine]] and a cast per column, which give the same values on
  * the lines the kernel takes.
  */
object PlaybackStream {

  /** The raw line stream (value, row_idx, pos_in_batch, emit_ts). */
  def raw(spark: SparkSession, cfg: PlaybackConfig): DataFrame =
    spark.readStream
      .format(CsvPlaybackStream.SHORT_NAME)
      .options(PlaybackConfig.toOptions(cfg))
      .load()

  /** Driver-side schema resolution from the file head: column names per
    * the config's schema mode; untyped columns get their types inferred
    * from a head sample (see [[inferDtypes]]), explicit `useColumns`
    * types win. */
  def resolveColumns(spark: SparkSession, cfg: PlaybackConfig, path: String): Seq[String] = {
    if (cfg.variableCols)
      return Seq.empty // ragged mode pivots, no fixed columns
    cfg.columnMethod match {
      case ColumnMethod.Explicit =>
        cfg.parsedUseColumns.names
      case ColumnMethod.PickFromFile => columnNamesLine(cfg, path).split(",", -1).toSeq
    }
  }

  /** The line of `path` that names the columns in PickFromFile mode. */
  def columnNamesLine(cfg: PlaybackConfig, path: String): String =
    PlaybackIO.headLines(path, CsvPlaybackStream.headerSkip(cfg) + cfg.rowIndexForColumnNames + 1).last

  /** The parsed playback stream. For fixed-column modes: one column per
    * datapoint (+ row_idx/emit_ts carried through); ragged mode: the
    * (row_idx, datapoint, value) long form. */
  def readings(spark: SparkSession, cfg0: PlaybackConfig): DataFrame = {
    val cfg = cfg0.validated
    val dir = PlaybackConfig.resolveDataDir(cfg.csvDirName)
    val file = FileQueue.first(dir, cfg.csvFileName).getOrElse(
      throw new java.io.FileNotFoundException(s"no csv matching '${cfg.csvFileName}' in $dir"))
    applyTimestampStyle(spark, cfg, withReportNaN(parse(spark, cfg, file, raw(spark, cfg)), cfg),
      file)
  }

  /** The one parse of playback lines, for the stream and the batch read
    * ([[graft.sources.CsvPlayback.readFile]]) alike: `lines` is the
    * source's (value, row_idx, pos_in_batch, emit_ts) frame of `file`.
    * Ragged mode pivots every line (csvplayback.py:703-711); the fixed
    * modes split each line into the resolved columns and cast each from
    * its text to its explicit `useColumns` type (`str` keeps the text; an
    * `int` column whose sample infers as double goes through double, so
    * it truncates), or else to its inferred type. The sample decides no
    * typed column's type, so a value past the sample is read as the
    * spec says. The one-pass kernel (`CsvLine.split_quote_free`) reads
    * each string, int, long or double column of a line it takes straight
    * into its type and any other column as text for its cast; only the
    * lines it rejects pay for the split/`from_csv` parse ([[parseLine]])
    * and a cast per column. The PassInDatapoint meta is attached last
    * (csvplayback.py:661-671). */
  def parse(spark: SparkSession, cfg: PlaybackConfig, file: String,
      lines: DataFrame): DataFrame = {
    val carried = lines.columns.filter(_ != "value").map(col).toSeq
    val parsed =
      if (cfg.variableCols) {
        lines.select(carried :+ posexplode(split(col("value"), ",", -1)).as(Seq("pos", "v")): _*)
          .filter(col("v") =!= "")
          .select(carried ++ Seq(
            concat(lit(cfg.autoGeneratePrefix + "_"), (col("pos") + 1).cast("string"))
              .as("datapoint"),
            col("v").as("value")): _*)
      } else {
        val names = resolveColumns(spark, cfg, file)
        require(names.nonEmpty, "columnMethod=explicit needs a non-empty useColumns")
        val spec = cfg.parsedUseColumns
        val parseNames = names.zipWithIndex.map { case (n, i) => if (n.isEmpty) s"_drop$i" else n }
        val parseSchema = StructType(parseNames.map(StructField(_, StringType)))
        val inferred = inferDtypes(spark, cfg, file, parseNames)
        // each kept column's type: its `useColumns` type, else the inferred one
        val typeOf = names.filter(_.nonEmpty).map { n =>
          n -> spec.dtypes.get(n).orElse(inferred.get(n)).getOrElse(StringType)
        }.toMap
        // pandas truncates a float column cast to int
        def truncates(n: String) = spec.dtypes.get(n).contains(LongType) &&
          inferred.get(n).contains(DoubleType)
        def cast(n: String, text: Column): Column =
          if (truncates(n)) text.cast(DoubleType).cast(LongType)
          else if (typeOf(n) == StringType) text
          else text.cast(typeOf(n))
        // the kernel reads a column straight into its type where it reads
        // that type exactly, else as text that `cast` finishes
        def kernelType(n: String): DataType =
          if (n.isEmpty) NullType
          else if (truncates(n) || CsvLine.kind(typeOf(n)).isEmpty) StringType
          else typeOf(n)
        val kernelSchema = StructType(parseNames.zip(names).map { case (p, n) =>
          StructField(p, kernelType(n))
        })
        // a line the kernel rejects goes through the split/from_csv parse
        // and the casts
        lines.withColumn("_typed", CsvLine.split_quote_free(col("value"), kernelSchema))
          .withColumn("_parsed", when(col("_typed").isNull, parseLine(col("value"), parseSchema)))
          .select(names.filter(_.nonEmpty).map { n =>
            val read = if (kernelType(n) == StringType) cast(n, col("_typed")(n)) else col("_typed")(n)
            when(col("_typed").isNotNull, read).otherwise(cast(n, col("_parsed")(n))).as(n)
          } ++ carried: _*)
      }
    cfg.headerMethod match {
      case HeaderMethod.PassInDatapoint =>
        parsed.withColumn(cfg.dataPointForCombine,
          lit(PlaybackIO.headLines(file, cfg.noOfRows).mkString("_")))
      case _ => parsed
    }
  }

  /** A raw line as the struct of strings `parseSchema` names. Quote-free,
    * well-formed UTF-8 lines take the one-pass split over that all-string
    * schema; the rest (quoted fields, invalid bytes, which `from_csv`
    * decodes to U+FFFD) take Univocity. The line's own bytes pick the path. */
  private[graft] def parseLine(value: Column, parseSchema: StructType): Column =
    coalesce(CsvLine.split_quote_free(value, parseSchema),
      from_csv(value, parseSchema, Map("escape" -> "\"")))

  /** Streaming form of the batch `ignoreNaN=report` check
    * (csvplayback.py:681-691, validated per chunk before the timestamp
    * rewrite, fixed-column modes only — same call order here): each
    * datapoint column is wrapped in a codegen'd null/blank guard that
    * `raise_error`s with the reference's message on the first offending
    * value. The failure surfaces through ANY sink (foreachBatch or
    * `startTo`) and terminates the query — the reference's
    * plugin_shutdown — with no extra per-batch aggregation job; the
    * check rides the existing parse projection. */
  private def withReportNaN(df: DataFrame, cfg: PlaybackConfig): DataFrame = {
    if (cfg.ignoreNaN != NaNPolicy.Report || cfg.variableCols) return df
    val internal = Set("row_idx", "pos_in_batch", "emit_ts")
    val checked = df.columns.map { c =>
      if (internal(c)) col(c)
      else
        when(NaNReport.missing(c),
          raise_error(lit(s"There are NaN / missing values in the CSV file: $c")))
          .otherwise(col(c)).as(c)
    }
    df.select(checked.toIndexedSeq: _*)
  }

  /** Rows of the head sample used for schema inference. */
  val InferSampleLines = 1000

  /** Driver-side dtype inference: Spark's own CSV inference (the code
    * `spark.read.csv(inferSchema=true)` runs) over the first
    * [[InferSampleLines]] data lines, as read by [[PlaybackIO.headLines]]
    * — the stand-in for pandas' chunked inference
    * (csvplayback.py:638-641). One tiny local job when a read is built,
    * never per batch and never a second pass over the file; a later value
    * that does not parse as its column's type fails the cast that
    * [[parse]] applies. A header or `useColumns` whose column count
    * differs from the data's fails here; a file with no data lines has
    * nothing to compare against and passes. */
  def inferDtypes(spark: SparkSession, cfg: PlaybackConfig, path: String,
      parseNames: Seq[String]): Map[String, DataType] = {
    import spark.implicits._
    val dataStart = CsvPlaybackStream.dataStartLine(cfg)
    val sample = PlaybackIO.headLines(path, dataStart + InferSampleLines).drop(dataStart)
    val inferred = spark.read
      .option("header", "false")
      .option("inferSchema", "true")
      // pandas does not parse dates unless told to (parse_dates); keep
      // date-looking fields as strings by making the inference formats
      // unmatchable
      .option("timestampFormat", "'graft-never'")
      .option("dateFormat", "'graft-never'")
      // RFC4180 "" quote escaping, like pandas (Spark defaults to \)
      .option("escape", "\"")
      .csv(spark.createDataset(sample))
      .schema
    require(inferred.isEmpty || inferred.length == parseNames.length, cfg.columnMethod match {
      case ColumnMethod.Explicit =>
        s"useColumns declares ${parseNames.length} positions, file has ${inferred.length} columns"
      case ColumnMethod.PickFromFile =>
        s"header declares ${parseNames.length} columns, data has ${inferred.length}"
    })
    parseNames.zip(inferred.fields.map(_.dataType)).toMap
  }

  /** The four timestamp styles on the stream (SURVEY.md §2.4). */
  private def applyTimestampStyle(spark: SparkSession, cfg: PlaybackConfig,
      df: DataFrame, file: String): DataFrame = cfg.timestampStyle match {
    case TimestampStyle.CurrentTime =>
      cfg.ingestMode match {
        case IngestMode.Burst =>
          // T1: uniform batch emission timestamp (csvplayback.py:747-749)
          df.withColumn("timestamp", col("emit_ts"))
        case IngestMode.Continuous =>
          // T2: batch base second + pos*(1e6/chunk) µs (csvplayback.py:739-743)
          val interval = (1000000.0 / math.max(1, cfg.chunkSize)).toLong
          df.withColumn("timestamp", timestamp_micros(
            (unix_micros(col("emit_ts")) / 1000000L).cast("long") * 1000000L +
              col("pos_in_batch") * interval))
      }
    case TimestampStyle.CopyCsvValue =>
      TimestampStyles.copyCsvValue(df, cfg.timestampCol, cfg.timestampFormat)
    case TimestampStyle.MoveCsvValue =>
      TimestampStyles.moveCsvValue(df, cfg.timestampCol, cfg.timestampFormat)
    case TimestampStyle.UseCsvSampleDelta =>
      // T5: delta from the file's first two rows, once, driver-side
      // (csvplayback.py:726-736), through the stream's own parse and the
      // batch delta; start = stream build wall-clock; row_idx is
      // monotone across replays so timestamps never repeat
      import spark.implicits._
      val dataStart = CsvPlaybackStream.dataStartLine(cfg)
      val head = PlaybackIO.headLines(file, dataStart + 2).drop(dataStart)
        .zip(Seq(0L, 1L)).toDF("value", CsvPlayback.RowIdx)
      val delta = TimestampStyles.sampleDeltaMicros(parse(spark, cfg, file, head),
        cfg.timestampCol, cfg.timestampFormat)
      val start = System.currentTimeMillis() * 1000L
      df.withColumn("timestamp", timestamp_micros(lit(start) + col("row_idx") * lit(delta)))
  }
}
