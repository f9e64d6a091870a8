package graft

import graft.config.PlaybackConfig
import graft.preprocess.CleanCsv
import graft.sources.CsvPlayback
import org.apache.spark.sql.functions._

class CleanCsvSpec extends SparkSpec {

  private def interp = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("interp.csv"))

  private def vals(df: org.apache.spark.sql.DataFrame, c: String): Seq[Any] =
    df.orderBy("_row_idx").select(c).collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq

  test("channel extraction from JSON-ish strings (PD:74-81)") {
    val raw = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("raw_fledge_export.csv"))
    val df = CleanCsv.extractChannels(raw)
    assert(df.columns.toSeq == Seq("channel1", "channel2", "user_ts", "_row_idx"))
    val r = df.orderBy("_row_idx").head()
    // reference keeps values as strings sliced out of the dict text
    assert(r.getString(0).contains("0.0083912037"))
    assert(r.getString(1).contains("0.0071383551"))
  }

  test("process writes the extracted channels as one headed CSV (PD:150-153)") {
    val raw = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("raw_fledge_export.csv"))
    val out = java.nio.file.Files.createTempDirectory("clean-out").resolve("csv").toString
    CleanCsv.process(raw, out, choice = "fill", method = "linear")
    val written = spark.read.option("header", "true").csv(out)
    assert(written.columns.toSeq == Seq("channel1", "channel2", "user_ts"))
    assert(written.count() == 2)
    val first = written.filter(col("user_ts").endsWith(".000000+0000")).head()
    assert(first.getString(0).contains("0.0083912037"))
    assert(first.getString(1).contains("0.0071383551"))
  }

  test("linear interpolation, limit_direction=both (PD:124-126)") {
    // v1: 1.0, null, 3.0, 4.0 → null between 1 and 3 at distance 1/2 → 2.0
    val df = CleanCsv.interpolateLinear(interp, "v1")
    assert(vals(df, "v1") == Seq(1.0, 2.0, 3.0, 4.0))
    // v2: 10.0, null, null, 40.0 → 20, 30
    val df2 = CleanCsv.interpolateLinear(interp, "v2")
    assert(vals(df2, "v2") == Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("nearest interpolation: closer neighbor, ties to previous") {
    val df = CleanCsv.interpolateNearest(interp, "v2")
    // nulls at idx 1,2 between 10.0@0 and 40.0@3: idx1→prev (tie? d=1 vs 2 → prev), idx2→next
    assert(vals(df, "v2") == Seq(10.0, 10.0, 40.0, 40.0))
  }

  test("cubic interpolation reproduces an exact cubic (not-a-knot property)") {
    // a not-a-knot spline through samples of a cubic polynomial IS that
    // polynomial — a natural spline would fail this, so it pins the
    // boundary condition scipy's interp1d(kind='cubic') uses
    // (PD:124-126). y = x³ − 2x² + 3 sampled at x ∈ {0,1,2,4,5,7},
    // nulls at x ∈ {3,6}.
    import spark.implicits._
    def poly(x: Double) = x * x * x - 2 * x * x + 3
    val rows = (0 to 7).map { x =>
      (x.toLong, if (x == 3 || x == 6) None else Some(poly(x.toDouble)))
    }
    val df = rows.toDF("_row_idx", "v")
    val got = vals(CleanCsv.interpolateCubic(df, "v"), "v")
    (0 to 7).foreach { x =>
      assert(math.abs(got(x).asInstanceOf[Double] - poly(x.toDouble)) < 1e-9,
        s"at x=$x: ${got(x)} vs ${poly(x.toDouble)}")
    }
  }

  test("cubic interpolation matches the independently-solved golden fixture") {
    // golden values from a dense numpy solve of the not-a-knot system
    // (tools/gen_spline_golden note): knots x ∈ {0,1,2,4,5,7,8,9},
    // y = {1.0,2.5,1.8,3.2,4.1,2.0,0.5,1.2}, nulls at x ∈ {3,6}
    import spark.implicits._
    val ys = Map(0 -> 1.0, 1 -> 2.5, 2 -> 1.8, 4 -> 3.2, 5 -> 4.1,
      7 -> 2.0, 8 -> 0.5, 9 -> 1.2)
    val rows = (0 to 9).map(x => (x.toLong, ys.get(x)))
    val df = rows.toDF("_row_idx", "v")
    val got = vals(CleanCsv.interpolateCubic(df, "v"), "v")
    assert(math.abs(got(3).asInstanceOf[Double] - 2.0727732793522273) < 1e-12)
    assert(math.abs(got(6).asInstanceOf[Double] - 3.5660425101214575) < 1e-12)
    ys.foreach { case (x, y) => assert(got(x) == y, s"known point $x preserved") }
  }

  test("cubic interpolation: edge nulls clamp, short series fall back linear") {
    import spark.implicits._
    // leading/trailing nulls around 4+ knots clamp to nearest known
    val edge = Seq((0L, None), (1L, Some(1.0)), (2L, Some(2.0)), (3L, Some(3.0)),
      (4L, Some(4.0)), (5L, None)).toDF("_row_idx", "v")
    assert(vals(CleanCsv.interpolateCubic(edge, "v"), "v") ==
      Seq(1.0, 1.0, 2.0, 3.0, 4.0, 4.0))
    // 2 known points: linear fallback (scipy would refuse kind='cubic')
    val two = Seq((0L, Some(1.0)), (1L, None), (2L, Some(3.0))).toDF("_row_idx", "v")
    assert(vals(CleanCsv.interpolateCubic(two, "v"), "v") == Seq(1.0, 2.0, 3.0))
  }

  test("repair(method=cubic) fills through the spline path") {
    val repaired = CleanCsv.repair(interp, choice = "fill", method = "cubic")
    // v1: 1.0, null@1, 3.0, 4.0 — 3 known points → linear fallback → 2.0
    assert(vals(repaired, "v1") == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("rolling mean fill: previous value (PD:128-130)") {
    val df = CleanCsv.rollingMeanFill(interp, "v1")
    assert(vals(df, "v1") == Seq(1.0, 1.0, 3.0, 4.0))
    // consecutive nulls: second null has null predecessor → stays null
    val df2 = CleanCsv.rollingMeanFill(interp, "v2")
    assert(vals(df2, "v2") == Seq(10.0, 10.0, null, 40.0))
  }

  test("rolling median fill (PD:132-134)") {
    val df = CleanCsv.rollingMedianFill(interp, "v1")
    assert(vals(df, "v1") == Seq(1.0, 1.0, 3.0, 4.0))
  }

  test("all-null column dropped (PD:113-116,137-139)") {
    val nan = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("nan_blank.csv"))
    val repaired = CleanCsv.repair(nan, choice = "fill", method = "linear")
    assert(!repaired.columns.contains("deadcol"))
    assert(repaired.columns.contains("channel1"))
  }

  test("choice=drop removes any column with nulls (PD:141-146)") {
    val nan = CsvPlayback.readFile(spark, PlaybackConfig(), fixture("nan_blank.csv"))
    val repaired = CleanCsv.repair(nan, choice = "drop", method = "linear")
    assert(repaired.columns.toSeq == Seq("_row_idx"))
  }

  test("seriesKeys partition: interpolation stays within each series") {
    import spark.implicits._
    // two interleaved series; s2's null must NOT see s1's neighbors
    val df = Seq(
      ("s1", 0L, Some(0.0)), ("s2", 1L, Some(100.0)),
      ("s1", 2L, None), ("s2", 3L, None),
      ("s1", 4L, Some(4.0)), ("s2", 5L, Some(104.0)))
      .toDF("dev", "_row_idx", "v")
    val got = CleanCsv.interpolateLinear(df, "v", seriesKeys = Seq(col("dev")))
      .select("dev", "_row_idx", "v")
      .as[(String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got(("s1", 2L)) == 2.0)   // between 0 @0 and 4 @4
    assert(got(("s2", 3L)) == 102.0) // between 100 @1 and 104 @5
  }
}
