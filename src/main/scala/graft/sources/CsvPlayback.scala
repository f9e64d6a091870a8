package graft.sources

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.schema.UseColumns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch core of the playback engine: parses one CSV file into the
  * post-transform DataFrame (SURVEY.md §7.1 step 4) implementing the
  * reference's three schema modes (csvplayback.py:556-673):
  *
  *   - ragged (`variableCols=true`): every line pivoted into
  *     `{prefix}_{i+1}` datapoints, empty fields skipped
  *     (csvplayback.py:703-711)
  *   - explicit (`columnMethod=explicit`): useColumns spec performs
  *     positional rename + select + cast (csvplayback.py:601-649)
  *   - pick_from_file: header names taken from a configurable row index
  *     (csvplayback.py:651-659)
  *
  * plus header skipping, metadata datapoint attach
  * (csvplayback.py:661-671) and the `ignoreNaN=report` validation stage
  * (csvplayback.py:681-691).
  *
  * Every returned frame carries a `_row_idx` long column — the 0-based
  * data-row index in file order — used by the order-sensitive timestamp
  * styles (T2/T5) and interpolation fills. Downstream drops it.
  *
  * Scale note: one distributed text scan with `zipWithIndex` (plus its
  * cheap per-partition line-count pre-job — no parse, no shuffle), one
  * codegen'd `from_csv` projection; schema inference reads only a
  * driver-side head sample, never a second full pass. gz/bz2 files are
  * inherently single-split.
  */
object CsvPlayback {

  val RowIdx = "_row_idx"

  /** First `n` physical lines of the (possibly compressed) file,
    * driver-side — the metadata-combine read (csvplayback.py:664-665).
    * `readLine` also ends a line at a lone `\r`, as the batch path's
    * `textFile` scan does; the stream reads its head by its own reader's
    * rule instead (`PlaybackIO.headLines`). */
  def headLines(spark: SparkSession, path: String, n: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
    val raw = fs.open(p)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Iterator.continually(br.readLine()).takeWhile(_ != null).take(n).toList
    } finally in.close()
  }

  /** Zero-byte file guard (csvplayback.py:566-568). */
  private def assertNonEmpty(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).getLen == 0)
      throw new java.io.EOFException(s"CSV file $path has zero length")
  }

  /** Lines of the file with their 0-based physical line number, in file
    * order. zipWithIndex is order-preserving over the text scan. */
  def indexedLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.textFile(path)
      .zipWithIndex()
      .toDF("value", RowIdx)
  }

  /** Rows of the head sample used for schema inference. */
  val InferSampleLines = 1000

  /** Schema inference from a driver-side head sample: Spark's own CSV
    * inference (the exact code `spark.read.csv(inferSchema=true)` runs)
    * over the first [[InferSampleLines]] data lines. One tiny local job
    * at read build — never a second distributed pass over the file,
    * which is what `inferSchema=true` on the full scan would cost at
    * 100 GB. Pandas' chunked reader infers per-chunk anyway
    * (csvplayback.py:638-641), so a head sample is no less faithful. */
  def inferFromHead(spark: SparkSession, path: String, dataStart: Int,
      sampleLines: Int = InferSampleLines): org.apache.spark.sql.types.StructType =
    inferFromLines(spark, headLines(spark, path, dataStart + sampleLines).drop(dataStart))

  /** [[inferFromHead]] over an already-read sample of data lines. */
  def inferFromLines(spark: SparkSession,
      sample: Seq[String]): org.apache.spark.sql.types.StructType = {
    import spark.implicits._
    spark.read
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
  }

  /** Parses pre-indexed data lines with one codegen'd `from_csv` against
    * the head-inferred schema, `_row_idx` carried straight through — the
    * single-pass shape the streaming path uses. (The old form re-parsed
    * through `spark.read.csv` and re-indexed with `rdd.zipWithIndex`:
    * three passes and an RDD boundary that broke whole-stage codegen.) */
  private def parseCsv(lines: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val opts = Map("escape" -> "\"")
    lines
      .select(from_csv(col("value"), schema, opts).as("_p"), col(RowIdx))
      .select(schema.fieldNames.map(f => col("_p").getField(f).as(f)).toIndexedSeq
        :+ col(RowIdx): _*)
  }

  /** The full batch read: schema mode + header method + metadata +
    * NaN policy. */
  def readFile(spark: SparkSession, cfg: PlaybackConfig, path: String): DataFrame = {
    import spark.implicits._
    assertNonEmpty(spark, path)

    val skip = cfg.headerMethod match {
      case HeaderMethod.SkipRows | HeaderMethod.PassInDatapoint => cfg.noOfRows
      case HeaderMethod.DoNotSkip => 0
    }

    val base: DataFrame =
      if (cfg.variableCols) {
        // ragged mode: one reading per line, auto-named datapoints
        val lines = indexedLines(spark, path)
          .filter(col(RowIdx) >= skip)
          .withColumn(RowIdx, col(RowIdx) - skip)
        raggedPivot(lines, cfg.autoGeneratePrefix)
      } else cfg.columnMethod match {
        case ColumnMethod.Explicit =>
          val spec = cfg.parsedUseColumns
          // pandas header=0: first post-skip line is consumed as the
          // (discarded) header, names relabel positionally
          val dataStart = skip + 1
          val lines = indexedLines(spark, path)
            .filter(col(RowIdx) >= dataStart)
            .withColumn(RowIdx, col(RowIdx) - dataStart)
          val parsed = parseCsv(lines, inferFromHead(spark, path, dataStart))
          applySpec(parsed, spec)
        case ColumnMethod.PickFromFile =>
          val headerIdx = skip + cfg.rowIndexForColumnNames
          val headerLine = headLines(spark, path, headerIdx + 1).last
          val names = headerLine.split(",", -1).toSeq
          val lines = indexedLines(spark, path)
            .filter(col(RowIdx) > headerIdx)
            .withColumn(RowIdx, col(RowIdx) - (headerIdx + 1))
          val schema = inferFromHead(spark, path, headerIdx + 1)
          require(schema.length == names.length,
            s"header declares ${names.length} columns, data has ${schema.length}")
          val parsed = parseCsv(lines, schema)
          val dataCols = parsed.columns.filter(_ != RowIdx)
          parsed.select(
            dataCols.zip(names).map { case (c, n) => col(c).as(n) } :+ col(RowIdx): _*)
      }

    val withMeta = cfg.headerMethod match {
      case HeaderMethod.PassInDatapoint =>
        // first noOfRows physical lines joined with "_" attached to every
        // reading under dataPointForCombine (csvplayback.py:661-671)
        val meta = headLines(spark, path, cfg.noOfRows).mkString("_")
        base.withColumn(cfg.dataPointForCombine, lit(meta))
      case _ => base
    }

    cfg.ignoreNaN match {
      case NaNPolicy.Report if !cfg.variableCols =>
        val bad = NaNReport.violations(withMeta)
        val offending = bad.filter(_._2 > 0)
        if (offending.nonEmpty)
          throw new IllegalStateException(
            s"There are NaN / missing values in the CSV file: ${offending.keys.mkString(", ")}")
        withMeta
      case _ => withMeta
    }
  }

  /** Ragged-row pivot (csvplayback.py:703-711): line k of fields
    * v1..vn → rows (k, "{prefix}_{i+1}", vi) with empty fields skipped
    * (pandas parses them as NaN, which the reference drops). */
  def raggedPivot(lines: DataFrame, prefix: String): DataFrame = {
    lines
      .select(col(RowIdx), posexplode(split(col("value"), ",", -1)).as(Seq("pos", "v")))
      .filter(col("v") =!= "")
      .select(
        col(RowIdx),
        concat(lit(prefix + "_"), (col("pos") + 1).cast("string")).as("datapoint"),
        col("v").as("value"))
  }

  /** Ragged readings in the reference's per-row dict shape:
    * one row per line with a `readings` map. */
  def raggedReadingsMap(lines: DataFrame, prefix: String): DataFrame =
    raggedPivot(lines, prefix)
      .groupBy(col(RowIdx))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("datapoint"), col("value"))))).as("readings"))

  /** Positional rename + select + cast from a useColumns spec
    * (csvplayback.py:640-649). */
  private def applySpec(parsed: DataFrame, spec: UseColumns.Spec): DataFrame = {
    val dataCols = parsed.columns.filter(_ != RowIdx)
    if (spec.isEmpty) return parsed
    require(dataCols.length == spec.names.length,
      s"useColumns declares ${spec.names.length} positions, file has ${dataCols.length} columns")
    val kept = dataCols.zip(spec.names).collect {
      case (c, n) if n.nonEmpty =>
        spec.dtypes.get(n) match {
          case Some(dt) => col(c).cast(dt).as(n)
          case None => col(c).as(n)
        }
    }
    parsed.select(kept :+ col(RowIdx): _*)
  }
}

/** `ignoreNaN=report` semantics (csvplayback.py:681-691): a value is a
  * violation if it is null (missing field) or a whitespace-only
  * non-empty string. */
object NaNReport {
  def violations(df: DataFrame): Map[String, Long] = {
    val cols = df.columns.filter(_ != CsvPlayback.RowIdx)
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map { c =>
      val s = col(c).cast("string")
      sum(when(col(c).isNull || (length(s) > 0 && trim(s) === ""), 1L)
        .otherwise(0L)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }
}
