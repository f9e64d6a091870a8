package graft.tools

import graft.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Deterministic heavy-tailed (Zipfian-df) corpus fixture: the
  * boilerplate-soaked web-text shape the d28 prefix filter exists for,
  * as opposed to the driver's synthetic documents whose shingles are
  * nearly all unique (df ≈ 1 — the regime where the exhaustive
  * self-join is already linear and the prefix pass is pure overhead).
  *
  * Construction: document `i` contains boilerplate phrase `r`
  * (r = 2..maxRank) iff `i % r == 0`, so phrase r's document frequency
  * is exactly ⌊n/r⌋ — a textbook 1/r Zipf tail — plus six unique
  * preamble words per document (the novel-content part). The INTERIOR
  * shingles of each 5-word phrase are identical across its documents,
  * giving the shingle-df distribution the same 1/r mass; boundary
  * shingles mix with neighbors and stay near-unique.
  *
  * Everything derives from `id` arithmetic (no randomness), so the
  * fixture is reproducible across sessions and its df histogram is
  * analytically known — ZipfCorpusSpec pins both the tail mass and
  * the two candidate paths' output equality on this shape.
  */
object ZipfCorpus {

  def phrase(r: Int): String =
    s"boiler$r common phrase alpha$r beta$r"

  def docs(spark: SparkSession, n: Long, maxRank: Int = 200): DataFrame = {
    require(n > 0 && maxRank >= 2, s"n=$n maxRank=$maxRank")
    val boiler = (2 to maxRank).map(r =>
      when(col("id") % r === 0, lit(phrase(r))).otherwise(lit(null)))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (format_string("ux%da uy%db uz%dc vw%dd vx%de vy%df",
          col("id"), col("id"), col("id"), col("id"), col("id"), col("id")) +:
          boiler): _*).as("text"))
  }

  /** Bench main: times d28's two candidate paths on this fixture.
    * Args: [nDocs] [dfCap] — defaults 20000 / 500. Prints one line per
    * (path, wall seconds, pair count) plus the df-mass stats that
    * justify the flip guidance pinned in Dedup.containmentPairs'
    * scaladoc; README records the measured numbers. */
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000L)
    val cap = args.drop(1).headOption.map(_.toLong).getOrElse(500L)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = docs(spark, n).cache()
    corpus.count()

    // df-mass diagnostic: Σdf² over capped fps — the self-join's pair
    // count — vs Σdf (the corpus's shingle volume)
    val fps = corpus.select(col("doc_id"),
        explode(graft.operators.TextAnalysis.wordShingles(col("text"), 3)).as("_s"))
      .select(md5(col("_s")).as("_fp"))
    val dfs = fps.groupBy(col("_fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
    val stats = dfs.agg(sum(col("df")).as("sum_df"),
      sum(col("df") * col("df")).as("sum_df2")).head()
    println(Json.mapper.writeValueAsString(ListMap("fixture" -> "zipf", "n" -> n,
      "df_cap" -> cap, "sum_df" -> stats.getLong(0), "sum_df2" -> stats.getLong(1))))

    for (prefix <- Seq(false, true); round <- 1 to 2) {
      graft.operators.OpCaches.release(spark)
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.containmentPairs(
        corpus, "doc_id", "text", shingleK = 3, threshold = 0.9,
        maxShingleDocFreq = cap, prefixFilter = prefix).count()
      val sec = (System.nanoTime() - t0) / 1e9
      graft.operators.OpCaches.release(spark)
      val path = if (prefix) "prefix" else "selfjoin"
      println(Json.mapper.writeValueAsString(
        ListMap("path" -> path, "round" -> round, "sec" -> Json.fixed(sec, 2), "pairs" -> pairs)))
    }
    spark.stop()
  }
}
