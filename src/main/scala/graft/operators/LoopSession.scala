package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Scoped-conf planning for bounded iterative loops.
  *
  * Some loop bodies are provably bounded (BPE's pair aggregate is
  * vocab-sized, a graph loop's rank frame is node-sized) and want loop
  * -specific SQL confs — non-adaptive execution, a derived shuffle
  * -partition count — WITHOUT mutating the caller's session: r15 set
  * and restored `spark.conf` around the loop, which is correct for the
  * engine's sequential mains but a foot-gun for any concurrent caller
  * (a query planned in the same session mid-loop would silently plan
  * under the loop's confs). The fix is structural: plan the loop in a
  * CLONED session (`cloneSession` — same SparkContext, shared cache
  * and checkpoint blocks, extensions inherited, and a COPY of the
  * caller's runtime SQL conf, so ANSI mode, session time zone and
  * case sensitivity set by the caller hold inside the loop too), so
  * the caller's session is never touched and no restore can be missed.
  *
  * Frames cross sessions as their analyzed logical plan, re-wrapped in
  * the target session — no catalog entry is written. Values are
  * unchanged by construction — the plan is identical, only the
  * planning conf differs, and the loop confs used here (AQE off,
  * partition counts) never change arithmetic.
  */
private[graft] object LoopSession {

  /** A clone of the caller's session (its runtime SQL confs included)
    * carrying loop-scoped SQL confs on top. The caller's session is
    * never mutated. */
  def cloned(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val s = GraftBridge.cloneSession(spark)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** A cloned session for a NON-ADAPTIVE bounded loop over ~`n` keyed
    * rows: AQE off (nothing to re-optimize in a bounded round, and its
    * stage materialization schedules one job per exchange per round)
    * plus a shuffle-partition count DERIVED from `n` — ~500k
    * fixed-width rows per reduce partition (tens of MB, the low end of
    * the guide's advisory band, leaving headroom for the wider join
    * stages that share the setting), floored at 1 and capped at the
    * caller's session value. Scale-adaptive by construction: the same
    * code picks 1 partition on a 300-node fixture and the cluster's
    * own parallelism on a 10⁹-row input. */
  def nonAdaptive(spark: SparkSession, n: Long): SparkSession =
    cloned(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> derivedPartitions(spark, n).toString)

  /** See [[nonAdaptive]]. */
  def derivedPartitions(spark: SparkSession, n: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(cap.toLong, n / 500000L + 1L)).toInt
  }

  /** Re-bind `df` to `target` (same SparkContext): the same analyzed
    * plan, planned and executed under `target`'s conf. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame =
    if (df.sparkSession eq target) df
    else GraftBridge.ofRows(target, df.queryExecution.analyzed)
}
