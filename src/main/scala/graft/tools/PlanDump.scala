package graft.tools

import graft.QueryRegistry

/** Dumps `.explain("formatted")` for named registry queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/r<N>/`. Usage:
  *
  *   runMain graft.tools.PlanDump <outDir> <suffix> q67,c01,...
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. The plan printed
  * is the FINALIZED adaptive plan: the query is executed first (noop
  * action over the executed plan, the ExplainAudit discipline), so AQE
  * join conversions and coalesced reads are visible, then the
  * formatted explain is captured from the same QueryExecution. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = QueryRegistry.queryMap(name)(spark, sfDir)
      // finalize the adaptive plan (df.count would wrap the frame in
      // its own plan; execute the frame's own executed plan instead)
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        formatted.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      graft.operators.OpCaches.release(spark)
    }
    spark.stop()
  }
}
