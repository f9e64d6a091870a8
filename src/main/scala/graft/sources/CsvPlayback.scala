package graft.sources

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.streaming.{CsvPlaybackStream, PlaybackStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch read of one CSV file into the post-transform DataFrame
  * (SURVEY.md §7.1 step 4): the reference's three schema modes
  * (csvplayback.py:556-673), header skipping, the metadata datapoint
  * (csvplayback.py:661-671) and the `ignoreNaN=report` validation
  * (csvplayback.py:681-691).
  *
  * It is the playback stream's reader and parse, run once over the
  * whole file: the `csvplayback` source's batch scan cuts the same
  * partitions and reads them with the same byte reader, and
  * [[PlaybackStream.parse]] resolves, splits and casts the columns. The
  * batch answer is therefore the stream's first pass over the file, row
  * for row.
  *
  * Every returned frame carries a `_row_idx` long column — the 0-based
  * data-row index in file order — used by the order-sensitive timestamp
  * styles (T2/T5) and interpolation fills. Downstream drops it.
  *
  * Scale note: the line index is one distributed job, built once per
  * call; the scan then reads plain files in parallel, seeking each
  * partition to its first row, and a gz/bz2 file in one sequential
  * partition. Schema inference reads only a driver-side head sample,
  * never a second full pass.
  */
object CsvPlayback {

  val RowIdx = "_row_idx"

  /** The full batch read. A zero-byte file raises `EOFException`
    * (csvplayback.py:566-568). */
  def readFile(spark: SparkSession, cfg: PlaybackConfig, path: String): DataFrame = {
    val lines = spark.read.format(CsvPlaybackStream.SHORT_NAME)
      .options(PlaybackConfig.toOptions(cfg))
      .load(path)
    val df = PlaybackStream.parse(spark, cfg, path, lines)
      .withColumnRenamed("row_idx", RowIdx)
      .drop("pos_in_batch", "emit_ts")
    // eager, unlike the stream's in-projection guard: a check inside the
    // projection would be pruned away under `.count()`
    if (cfg.ignoreNaN == NaNPolicy.Report && !cfg.variableCols) {
      val offending = NaNReport.violations(df).filter(_._2 > 0)
      if (offending.nonEmpty)
        throw new IllegalStateException(
          s"There are NaN / missing values in the CSV file: ${offending.keys.mkString(", ")}")
    }
    df
  }
}

/** `ignoreNaN=report` semantics (csvplayback.py:681-691): a value is a
  * violation if it is null (missing field) or a whitespace-only
  * non-empty string. */
object NaNReport {

  /** True where column `c` holds a violation. */
  def missing(c: String): Column = {
    val s = col(c).cast("string")
    col(c).isNull || (length(s) > 0 && trim(s) === "")
  }

  def violations(df: DataFrame): Map[String, Long] = {
    val cols = df.columns.filter(_ != CsvPlayback.RowIdx)
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map(c => sum(when(missing(c), 1L).otherwise(0L)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }
}
