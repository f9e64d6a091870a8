package graft.tools

import graft.Json
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Skewed-graph bench (dev tool, verdict r12 §5): the registry's graph
  * queries derive their edges from `doc_id % 293` closed forms, which
  * stay near-uniform under every fixture reshape — so the hot-key
  * paths of the graph family never ran under BENCH. This tool builds a
  * hub-skewed link graph at sf0.1 scale and measures the two shapes
  * the verdict named:
  *
  *   - q68's shape: PageRank where the contribution `groupBy(dst)`
  *     sees a Zipf-hot destination (one node receiving a large
  *     fraction of all edges) — the skew lands in an AGGREGATE, which
  *     Spark absorbs with map-side partial aggregation (each task
  *     pre-sums its contributions to the hot key, so the shuffle
  *     carries one row per task per key, not one row per edge);
  *   - q74's shape: co-citation over a graph containing a real
  *     directory page (one source with a five-digit out-degree, whose
  *     quadratic Σ out-deg² contribution would dominate) — the
  *     `maxOutDeg` cap must drop it BEFORE the self-join fans out.
  *
  * Emits one JSON line (host sentinel + phase contention included) for
  * `evidence/bench_graph_skew.json`, plus plan-inspection notes: the
  * per-iteration body's join strategies and whether AQE's skew-join
  * handling (`skew=true`) fired.
  */
object GraphSkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.Tables(spark, sfDir, "documents").select("doc_id")
    val id = col("doc_id")
    // Zipf-hot destinations: u^4 over 5000 targets piles ~24% of all
    // edges on dst 0 (u<0.24^0.25); two edges per doc for density
    def zipfDst(seed: Column): Column =
      least(floor(pow(graft.operators.Sampling.md5Unit(seed), 4.0) * 5000),
        lit(4999L)).cast("long")
    val skewEdges = docs.select(id.as("src"),
        explode(array(zipfDst(id), zipfDst(id + 1000000))).as("dst"))
      .localCheckpoint()
    val total = skewEdges.count()
    val hot = skewEdges.filter(col("dst") === 0L).count()

    // directory-page graph for the co-citation cap: normal sources
    // cite 2 of 1500 pages; source -1 is a directory citing 1500
    val dirEdges = docs.select(id.as("src"),
        explode(array(id % 1500, (id * 7 + 3) % 1500)).as("dst"))
      .unionByName(
        spark.range(1500).select(lit(-1L).as("src"), col("id").as("dst")))
      .localCheckpoint()

    val sent0 = graft.PlaybackBench.hostSentinel()
    graft.operators.IterTrace.enable()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // q68 shape on the hot-dst graph (distinct() matches the query's
    // edge contract)
    val ((prRows, prTop), prSec) = time {
      val pr = graft.operators.GraphOps.pageRank(spark,
        skewEdges.distinct(), "src", "dst", 10, 0.85)
      val top = pr.orderBy(desc("r")).limit(1).collect()(0)
      (pr.count(), (top.getLong(0), top.getDouble(1)))
    }
    // per-iteration body of the skewed run: join strategies + AQE skew
    val iterPlan = graft.operators.IterTrace.captured.get("pagerank")
      .map(ExplainAudit.finalPlan).getOrElse("")
    def n(plan: String, pat: String) = pat.r.findAllIn(plan).length
    graft.operators.IterTrace.disable()

    // q74 shape: cap ON — directory page dropped before the self-join
    val (capRows, capSec) = time {
      graft.operators.GraphOps.coCitationPairs(spark, dirEdges,
        "src", "dst", minShared = 2, topN = 100,
        maxOutDeg = Some(64)).count()
    }
    // cap OFF on the same graph: the directory page's 1500² pairs all
    // materialize — the honest cost of not capping
    val (uncapRows, uncapSec) = time {
      graft.operators.GraphOps.coCitationPairs(spark, dirEdges,
        "src", "dst", minShared = 2, topN = 100,
        maxOutDeg = None).count()
    }
    val sent1 = graft.PlaybackBench.hostSentinel()

    println(Json.mapper.writeValueAsString(ListMap("metric" -> "graph_skew",
      "sf" -> sfDir, "edges" -> total, "hot_dst0_share_ppm" -> hot * 1000000 / total,
      "q68_skew_sec" -> Json.fixed(prSec, 3), "pagerank_rows" -> prRows, "top_node" -> prTop._1,
      "q74_cap_sec" -> Json.fixed(capSec, 3), "q74_cap_rows" -> capRows,
      "q74_uncapped_sec" -> Json.fixed(uncapSec, 3), "q74_uncapped_rows" -> uncapRows,
      "iter_bhj" -> n(iterPlan, "BroadcastHashJoin"), "iter_smj" -> n(iterPlan, "SortMergeJoin"),
      "iter_skewjoin" -> n(iterPlan, "skew=true"), "iter_partial_agg" -> n(iterPlan, "partial_"),
      "host_sentinel" -> Seq(sent0.tree, sent1.tree))))
    spark.stop()
  }
}
