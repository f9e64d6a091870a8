package graft.operators

import graft.sources.CsvPlayback.RowIdx
import graft.timefmt.{CsvTimestamp, Strftime}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.Instant
import java.util.regex.Pattern

/** The reference's four `timestampStyle` rewrites (SURVEY.md §2.4;
  * csvplayback.py:713-756). Each is a `DataFrame => DataFrame` stage
  * that adds a `timestamp` column; order-sensitive styles use the
  * `_row_idx` file-order index produced by the reader.
  *
  * Determinism: the wall-clock-based styles (T1/T2/T5 start point) take
  * the clock as an explicit parameter so tests and the batch API are
  * reproducible; the streaming source passes real time.
  */
object TimestampStyles {

  val TsCol = "timestamp"

  /** T1 — `current time` + burst: every reading in a burst gets the
    * emission wall-clock (csvplayback.py:747-749). */
  def currentTimeBurst(df: DataFrame, emissionTime: Instant): DataFrame =
    df.withColumn(TsCol, lit(java.sql.Timestamp.from(emissionTime)))

  /** T2 — `current time` + continuous (csvplayback.py:739-743, 753-756):
    * one wall-clock base per chunk; reading i of an n-row chunk keeps the
    * base's whole seconds and gets microsecond field `i * (1e6 / n)`
    * (the reference's `replace(microsecond=useconds)`).
    *
    * Batch form: chunks are consecutive `chunkSize`-row groups in file
    * order and chunk k's base is `start + k * periodSec` (idealized
    * pacing; the reference samples the real clock per chunk).
    */
  def currentTimeContinuous(df: DataFrame, start: Instant, chunkSize: Int,
      periodSec: Double): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    val chunkId = (col(RowIdx) / chunkSize).cast("long")
    val posInChunk = col(RowIdx) % chunkSize
    // chunk length = chunkSize except for the trailing partial chunk
    val total = count(lit(1)).over(org.apache.spark.sql.expressions.Window
      .partitionBy(chunkId))
    val startMicros = start.getEpochSecond * 1000000L + start.getNano / 1000L
    val baseMicros = lit(startMicros) + (chunkId * lit((periodSec * 1e6).toLong))
    val baseSecondMicros = (baseMicros / 1000000L).cast("long") * 1000000L
    val interval = (lit(1000000.0) / greatest(lit(1.0), total.cast("double"))).cast("long")
    df.withColumn(TsCol,
      timestamp_micros(baseSecondMicros + posInChunk * interval))
  }

  /** The one parse of a CSV timestamp column (T3/T4 and the T5 delta,
    * on the stream and the batch read alike): `to_timestamp` with the
    * strftime format's Java pattern, behind the byte kernel
    * ([[graft.timefmt.CsvTimestamp]]) where `spark`'s conf lets it give
    * the same answer, so a kernel-read string skips java.time and any
    * other string still gets Spark's own value, null or error.
    *
    * Python's `%z` reads exactly one offset (`Z`, `+HHMM` or `+HH:MM`);
    * the pattern `[XXX][XX]` also reads none or two. So where `%z` ends
    * the format (literals may follow) and java.time parses, the fallback
    * rewrites a `+HHMM` there to `+HH:MM` and reads it with the strict
    * `XXX`: a missing or doubled offset then fails like any other
    * unparseable string, null or `CANNOT_PARSE_TIMESTAMP` as ANSI says.
    * (A coalesce of strict `XXX` and `XX` reads would need a second,
    * non-raising read under ANSI; the rewrite keeps the one read.) The
    * kernel already rejects both. */
  def csvTimestamp(spark: SparkSession, c: Column, strftimeFmt: String): Column = {
    val text = c.cast("string")
    val offset = Strftime.endingOffset(strftimeFmt).filter(_ => !CsvTimestamp.legacy(spark))
    val (input, javaFmt) = offset match {
      case Some((head, tail)) =>
        val after = Pattern.quote(tail.replace("%%", "%"))
        (regexp_replace(text, s"([+-]\\d\\d)(\\d\\d)($after)$$", "$1:$2$3"),
          Strftime.toJava(head) + "XXX" + Strftime.toJava(tail))
      case None => (text, Strftime.toJava(strftimeFmt))
    }
    val plain = to_timestamp(input, javaFmt)
    if (CsvTimestamp.applies(spark, strftimeFmt))
      coalesce(CsvTimestamp.parse_csv_timestamp(text, strftimeFmt), plain)
    else plain
  }

  /** T3 — `copy csv value` (csvplayback.py:717-721): parse the CSV's
    * timestamp column with the configured strftime format; the column
    * stays in the readings. */
  def copyCsvValue(df: DataFrame, tsCol: String, strftimeFmt: String): DataFrame =
    df.withColumn(TsCol, csvTimestamp(df.sparkSession, col(tsCol), strftimeFmt))

  /** T4 — `move csv value` (csvplayback.py:723-725): T3 + drop the
    * source column from the readings. */
  def moveCsvValue(df: DataFrame, tsCol: String, strftimeFmt: String): DataFrame =
    copyCsvValue(df, tsCol, strftimeFmt).drop(tsCol)

  /** T5 — `use csv sample delta` (csvplayback.py:726-736): the delta of
    * the file's first two timestamps (assumed constant,
    * docs/index.rst:137) spaces synthetic timestamps from a wall-clock
    * start, monotone across the whole playback:
    * `ts(row n) = start + n * delta`. */
  def sampleDelta(df: DataFrame, tsCol: String, strftimeFmt: String,
      start: Instant): DataFrame = {
    val deltaMicros = sampleDeltaMicros(df, tsCol, strftimeFmt)
    val startMicros = start.getEpochSecond * 1000000L + start.getNano / 1000L
    df.withColumn(TsCol,
      timestamp_micros(lit(startMicros) + col(RowIdx) * lit(deltaMicros)))
  }

  /** Delta computed once per playback from the first two rows
    * (csvplayback.py:728-732) — a 2-row driver-side action, cached as a
    * literal in the plan (constant-folded by Catalyst). */
  def sampleDeltaMicros(df: DataFrame, tsCol: String, strftimeFmt: String): Long = {
    val two = df.orderBy(col(RowIdx))
      .select(unix_micros(csvTimestamp(df.sparkSession, col(tsCol), strftimeFmt)))
      .limit(2).collect()
    require(two.length == 2, "use csv sample delta needs at least 2 rows")
    two(1).getLong(0) - two(0).getLong(0)
  }

  /** Bias added to epoch micros inside [[eventOrderKey]] so the padded
    * decimal rendering of ANY representable instant is positive —
    * lexicographic order on negative zero-padded decimals is the
    * REVERSE of numeric order ("-…1" < "-…2" but −1 > −2), so an
    * unbiased key would misorder pre-1970 events. 5e18 keeps the sum
    * inside Long for any timestamp parquet can carry. */
  val OrderKeyBiasUs: Long = 5000000000000000000L

  /** Zero-padded "biased_epoch_us:id" composite ordering string — the
    * deterministic (event time, id) tie-broken key min_by/max_by
    * endpoint picks share with their SQL-oracle arg_min/arg_max twins
    * (which accept no struct keys; fixed-width digit strings compare
    * like the numbers). `id` must be non-negative. */
  def eventOrderKey(ts: Column, id: Column): Column =
    format_string("%020d:%020d", unix_micros(ts) + lit(OrderKeyBiasUs), id)

  /** Wraps a post-transform frame into the reference's reading shape
    * `{asset, timestamp, readings: {datapoint → value}}`
    * (csvplayback.py:760-771), timestamp stringified with microseconds +
    * offset like the reference's `str(datetime)`. */
  def asReadings(df: DataFrame, assetName: String): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == RowIdx || c == TsCol)
    val entries: Seq[Column] = dataCols.map(c => struct(lit(c), col(c).cast("string")))
    df.select(
      lit(assetName).as("asset"),
      date_format(col(TsCol), "yyyy-MM-dd HH:mm:ss.SSSSSSxxx").as(TsCol),
      map_from_entries(array(entries: _*)).as("readings"))
  }
}
