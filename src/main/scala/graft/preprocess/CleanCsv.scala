package graft.preprocess

import graft.sources.CsvPlayback.RowIdx
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark build of the offline preprocessing CLI
  * (process_csv_data.py — "PD"): JSON-ish channel extraction
  * (PD:55-84) and NaN repair (PD:87-148).
  *
  * Frames are expected to carry the reader's `_row_idx` file-order
  * column; all window fills are ordered by it. The reference repairs
  * per 10k-row chunk; we repair over the whole frame (a strict
  * superset: interpolation endpoints see the true neighbors instead of
  * chunk-boundary gaps).
  *
  * Each fill takes an optional `seriesKeys` partition list: empty
  * reproduces the reference's single-file global order (fine for one
  * file, a single-partition window at scale); non-empty partitions the
  * window by series key (e.g. device id) so a 100 TB repair runs one
  * bounded window per series, fully parallel. The fill expressions are
  * identical in both modes.
  */
object CleanCsv {

  /** PD:74-81 — pull `channel1`/`channel2` out of a stringified-dict
    * `reading` column like `{"channel1":0.0083,"channel2":0.0071}`,
    * keeping `user_ts`. The reference splits by hand
    * (`x.split(",")[0].split(":")[1]`); `regexp_extract` expresses the
    * same thing natively (SURVEY.md §2.3 R7). */
  def extractChannels(df: DataFrame): DataFrame = {
    def field(c: Column, idx: Int): Column =
      // idx-th comma-separated field, value after the ':', '}' stripped
      regexp_replace(
        element_at(split(element_at(split(c, ","), idx), ":"), 2), "\\}", "")
    val keep = Seq(
      field(col("reading"), 1).as("channel1"),
      field(col("reading"), 2).as("channel2"),
      col("user_ts"))
    val cols = if (df.columns.contains(RowIdx)) keep :+ col(RowIdx) else keep
    df.select(cols: _*)
  }

  /** PD:117-119 — whitespace-only strings become null. */
  def blanksToNull(c: Column): Column =
    when(trim(c.cast("string")) === "", lit(null)).otherwise(c)

  private def orderedW(seriesKeys: Seq[Column], order: Column = col(RowIdx)) =
    if (seriesKeys.isEmpty) Window.orderBy(order)
    else Window.partitionBy(seriesKeys: _*).orderBy(order)

  /** The nearest known value at or before each row (`prevVal`/`prevIdx`)
    * and at or after it (`nextVal`/`nextIdx`). Both are running `last`
    * frames: the next-value fill runs over the row order reversed, since
    * Spark re-aggregates an unbounded-FOLLOWING frame for every row
    * (quadratic in rows) but grows an unbounded-PRECEDING one. */
  private def neighbours(c: Column, idx: Column, seriesKeys: Seq[Column]) = {
    val known = when(c.isNotNull, idx)
    val before = orderedW(seriesKeys).rowsBetween(Window.unboundedPreceding, 0)
    val after = orderedW(seriesKeys, col(RowIdx).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    (last(c, ignoreNulls = true).over(before), last(known, ignoreNulls = true).over(before),
      last(c, ignoreNulls = true).over(after), last(known, ignoreNulls = true).over(after))
  }

  /** PD:124-126 — `interpolate(method='linear', limit_direction='both')`:
    * nulls between two known values are linearly interpolated by row
    * distance; leading/trailing nulls take the nearest known value. */
  def interpolateLinear(df: DataFrame, colName: String,
      seriesKeys: Seq[Column] = Nil): DataFrame = {
    val c = blanksToNull(col(colName)).cast("double")
    val idx = col(RowIdx).cast("double")
    val (prevVal, prevIdx, nextVal, nextIdx) = neighbours(c, idx, seriesKeys)
    val filled = when(c.isNotNull, c)
      .when(prevVal.isNull, nextVal) // leading nulls ← limit_direction='both'
      .when(nextVal.isNull, prevVal) // trailing nulls
      .otherwise(prevVal + (nextVal - prevVal) * (idx - prevIdx) / (nextIdx - prevIdx))
    df.withColumn(colName, filled)
  }

  /** PD's `method='nearest'`: a null takes whichever known neighbor is
    * closer by row distance (ties → the previous one, matching scipy's
    * 'nearest' rounding-down at midpoints). */
  def interpolateNearest(df: DataFrame, colName: String,
      seriesKeys: Seq[Column] = Nil): DataFrame = {
    val c = blanksToNull(col(colName)).cast("double")
    val idx = col(RowIdx).cast("double")
    val (prevVal, prevIdx, nextVal, nextIdx) = neighbours(c, idx, seriesKeys)
    val filled = when(c.isNotNull, c)
      .when(prevVal.isNull, nextVal)
      .when(nextVal.isNull, prevVal)
      .otherwise(when(idx - prevIdx <= nextIdx - idx, prevVal).otherwise(nextVal))
    df.withColumn(colName, filled)
  }

  /** PD:124-126 — `interpolate(method='cubic', limit_direction='both')`:
    * a true not-a-knot cubic spline through each series' known points
    * ([[Spline]]), evaluated at the null row indices; edge nulls clamp
    * to the nearest known value.
    *
    * Unlike the window fills, a spline is a GLOBAL solve per series, so
    * this runs as one `flatMapGroups` over the narrow
    * (series, _row_idx, value) projection — a single shuffle of three
    * scalar columns — and the filled values equi-join back onto the
    * frame. A series' points must fit one executor (the reference holds
    * a whole pandas chunk in memory the same way); partition 100 TB by
    * `seriesKeys` so each group is one device/sensor series, never the
    * whole corpus. */
  def interpolateCubic(df: DataFrame, colName: String,
      seriesKeys: Seq[Column] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyExpr =
      if (seriesKeys.isEmpty) lit("")
      else concat_ws("", seriesKeys.map(_.cast("string")): _*)
    val c = blanksToNull(col(colName)).cast("double")
    val filled = df.select(keyExpr.as("_sk"), col(RowIdx).cast("long").as("_x"), c.as("_y"))
      .as[(String, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (k: String, it: Iterator[(String, Long, Option[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        val known = rows.collect { case (_, x, Some(y)) => (x.toDouble, y) }
        if (known.isEmpty) rows.map { case (_, x, _) => (k, x, Option.empty[Double]) }.iterator
        else {
          val eval = Spline.notAKnot(known.map(_._1), known.map(_._2))
          rows.map { case (_, x, yo) => (k, x, Some(yo.getOrElse(eval(x.toDouble)))) }.iterator
        }
      }
      .toDF("_sk2", "_x", "_filled")
    df.withColumn("_sk", keyExpr)
      .join(filled, col("_sk") === col("_sk2") && col(RowIdx) === col("_x"))
      .withColumn(colName, col("_filled"))
      .drop("_sk", "_sk2", "_x", "_filled")
  }

  /** PD:128-130 — `fillna(col.rolling(2, min_periods=1).mean())`:
    * a null takes the mean of the 2-row trailing window ignoring nulls,
    * i.e. the previous value (or stays null if that is null too). */
  def rollingMeanFill(df: DataFrame, colName: String,
      seriesKeys: Seq[Column] = Nil): DataFrame = {
    val c = blanksToNull(col(colName)).cast("double")
    val w = orderedW(seriesKeys).rowsBetween(-1, 0)
    df.withColumn(colName, coalesce(c, avg(c).over(w)))
  }

  /** PD:132-134 — rolling median variant. Spark's `median` cannot run
    * over a sliding frame, but over the reference's 2-row window the
    * median of the ≤2 non-null values is exactly their mean, so the
    * mean form is semantics-preserving (and codegen-friendly). */
  def rollingMedianFill(df: DataFrame, colName: String,
      seriesKeys: Seq[Column] = Nil): DataFrame =
    rollingMeanFill(df, colName, seriesKeys)

  /** K5 (PD:76,81,141-144): the preprocessing CLI's CSV output — one
    * header, data appended. Spark writes a directory of parts; headers
    * are per-file, so a single-header contract means one part
    * (`coalesce(1)`) for small outputs or header-less parts merged by
    * the consumer for large ones. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.drop(RowIdx).write.mode("overwrite").option("header", "true").csv(path)
  }

  /** The full preprocessing CLI (PD:150-153): channel extraction then
    * optional NaN repair, written as CSV. */
  def process(df: DataFrame, outPath: String, choice: String = "ignore",
      method: String = "linear"): Unit = {
    val clean = extractChannels(df)
    val repaired = if (method != "ignore" && choice != "ignore")
      repair(clean, choice, method) else clean
    writeCsv(repaired, outPath)
  }

  /** PD:113-116, 137-139 — drop columns whose values are all
    * null/blank; PD's `choice != 'fill'` drops any column containing a
    * null/blank. Returns the repaired frame. */
  def repair(df: DataFrame, choice: String, method: String): DataFrame = {
    val dataCols = df.columns.filter(_ != RowIdx)
    val nullityAggs = dataCols.flatMap { name =>
      val c = blanksToNull(col(name))
      Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"${name}__nulls"),
        count(lit(1)).as(s"${name}__total"))
    }
    val row = df.agg(nullityAggs.head, nullityAggs.tail: _*).head()
    var out = df
    var kept = df.columns.toSeq
    dataCols.zipWithIndex.foreach { case (name, i) =>
      val nulls = row.getLong(2 * i)
      val total = row.getLong(2 * i + 1)
      if (nulls > 0) {
        if (nulls == total) kept = kept.filterNot(_ == name) // all-null column
        else if (choice == "fill") {
          out = method match {
            case "linear" => interpolateLinear(out, name)
            case "cubic" => interpolateCubic(out, name)
            case "nearest" => interpolateNearest(out, name)
            case "rolling_mean" => rollingMeanFill(out, name)
            case "rolling_median" => rollingMedianFill(out, name)
            case other => throw new IllegalArgumentException(s"unknown fill method '$other'")
          }
        } else kept = kept.filterNot(_ == name) // choice=drop: drop the column
      }
    }
    out.select(kept.map(col): _*)
  }
}
