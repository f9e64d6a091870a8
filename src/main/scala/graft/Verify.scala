package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: only run queries whose name starts with one of
    // the comma-separated prefixes (dev loop — the driver always runs
    // the full surface)
    val nameFilter = args.lift(2)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // the trained-ANN oracles interpolate models captured DURING the
    // query pass below; clear any capture from a previous run in this
    // JVM so a stale model (possibly from another dataset) can never
    // leak into this run's oracle SQL
    queries.VectorQueries.resetTrainedModelCaptures()
    SparkEntry.queries
      .filter { case (name, _) =>
        nameFilter.forall(_.split(",").exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.mapper.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
