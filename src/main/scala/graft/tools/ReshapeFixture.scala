package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Second-shape fixture generator (dev tool): rewrites a driver
  * testdata directory into a RESHAPED twin — same schemas, same key
  * vocabularies (queries pin literals like `src18`, `lang='en'`,
  * `o_orderstatus='F'`), same referential integrity, but a very
  * different DISTRIBUTION: Zipf-skewed fact keys and category mixes
  * where the driver's generator is near-uniform, plus a planted
  * duplicate-text tail on documents. Running the full Verify +
  * selfcheck gate over this twin catches any oracle that silently
  * passes only because of the generator's shape (uniformity, balanced
  * group sizes, df≈1 shingles) rather than because the semantics
  * match.
  *
  * Everything is `xxhash64` arithmetic on the row's own keys — no
  * randomness, so the twin is bit-reproducible. Timestamp columns
  * pass through UNTOUCHED (they keep the driver's NTZ-micros physical
  * type; rewriting them through a cast would silently flip the
  * parquet logical type and test a different read path than the
  * driver's own files do).
  */
object ReshapeFixture {

  /** Per-run shape salt (CLI arg 3, default 0): every hash draw mixes
    * it in, so each salt value is a genuinely different — but still
    * bit-reproducible — shape. Shape-fuzzing found two real latent
    * defects (q08 tie order, q55 empty-stage divide) in the first
    * three shapes; more salts = more chances. */
  private var shapeSalt: Long = 0L

  /** Deterministic u in [0,1) from a seed column. */
  private def unif(seed: Column): Column =
    pmod(xxhash64(seed, lit(0x9e37L + shapeSalt)), lit(1000000L)) / lit(1000000.0)

  /** Zipf-ish index in [0, k): floor(k·u^exp) — exp > 1 piles mass on
    * low indexes; the tail stays non-empty (u→1 still maps to k−1). */
  private def skewIdx(seed: Column, k: Int, exp: Double): Column =
    least(floor(pow(unif(seed), exp) * k), lit(k - 1)).cast("int")

  /** Re-draws `catCol` from its own distinct vocabulary with a skewed
    * index — the mix changes, the vocabulary (which queries pin by
    * literal) does not. */
  private def remix(df: DataFrame, catCol: String, seed: Column,
      exp: Double): Column = {
    val vocab = df.select(catCol).distinct().collect()
      .map(_.getString(0)).sorted
    element_at(array(vocab.map(lit(_)): _*),
      skewIdx(seed, vocab.length, exp) + 1)
  }

  /** Skewed re-draw over a contiguous key range [minK, maxK] (the FK
    * target's actual range, so integrity is preserved by range). */
  private def skewKey(seed: Column, minK: Long, maxK: Long,
      exp: Double): Column =
    (lit(minK) + least(floor(pow(unif(seed), exp) * (maxK - minK + 1)),
      lit(maxK - minK)).cast("long"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/graft_reshaped")
    shapeSalt = args.lift(2).map(_.toLong).getOrElse(0L)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // Write a SINGLE parquet file per table (the selfcheck oracle reads
    // `<dir>/<table>.parquet` as one file, like the driver's testdata):
    // Spark writes a directory; flatten it to the lone part file.
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/_stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val stage = java.nio.file.Paths.get(tmp)
      val part = java.nio.file.Files.list(stage).iterator().asScala
        .find(_.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dest = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.list(stage).iterator().asScala.toSeq
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(stage)
    }

    // dimensions: copy verbatim (their keys are the FK ranges)
    Seq("region", "nation", "part", "supplier").foreach(t => write(read(t), t))

    val customer = read("customer")
    write(customer.withColumn("c_mktsegment",
      remix(customer, "c_mktsegment", col("c_custkey"), 2.5)), "customer")

    val Array(minC, maxC) = customer
      .agg(min("c_custkey"), max("c_custkey")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val orders = read("orders")
    write(orders
      .withColumn("o_custkey", skewKey(col("o_orderkey"), minC, maxC, 3.0))
      .withColumn("o_orderpriority",
        remix(orders, "o_orderpriority", col("o_orderkey") + 7, 2.0))
      .withColumn("o_orderstatus",
        remix(orders, "o_orderstatus", col("o_orderkey") + 13, 1.8)),
      "orders")

    val part = read("part")
    val supplier = read("supplier")
    val Array(minP, maxP) = part.agg(min("p_partkey"), max("p_partkey"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val Array(minS, maxS) = supplier.agg(min("s_suppkey"), max("s_suppkey"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val lineitem = read("lineitem")
    write(lineitem
      .withColumn("l_partkey", skewKey(
        col("l_orderkey") * 8 + col("l_linenumber"), minP, maxP, 2.0))
      .withColumn("l_suppkey", skewKey(
        col("l_orderkey") * 8 + col("l_linenumber") + 31, minS, maxS, 2.0))
      .withColumn("l_returnflag",
        remix(lineitem, "l_returnflag", col("l_orderkey") + 3, 1.7)),
      "lineitem")

    val events = read("events")
    val Array(minU, maxU) = events.agg(min("user_id"), max("user_id"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    write(events
      .withColumn("user_id", skewKey(col("event_id"), minU, maxU, 3.0))
      .withColumn("event_type",
        remix(events, "event_type", col("event_id") + 5, 2.2)),
      "events")

    // documents: skewed source/lang mixes over the SAME vocabularies,
    // plus a 20% planted duplicate-text tail (new ids far above both
    // the corpus and the queries' own +3e6 planted ranges) so the
    // dedup family runs against real multiplicity instead of the
    // generator's all-unique texts
    val docs = read("documents")
    val reshaped = docs
      .withColumn("source", remix(docs, "source", col("doc_id") + 17, 2.5))
      .withColumn("lang", remix(docs, "lang", col("doc_id") + 23, 2.0))
    val n = docs.count()
    val dups = reshaped.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("source",
        remix(docs, "source", col("doc_id") + 29, 2.5))
    write(reshaped.unionByName(dups), "documents")

    val emb = read("embeddings")
    write(emb.withColumn("label",
      skewIdx(col("vec_id") + 41, 10, 2.0)), "embeddings")

    // shape summary so the evidence log shows this is a DIFFERENT shape
    val docsOut = spark.read.parquet(s"$out/documents.parquet")
    println(s"reshaped $src -> $out: documents ${docsOut.count()} (was $n)")
    docsOut.groupBy("source").count().orderBy(desc("count")).show(25)
    docsOut.groupBy("lang").count().orderBy(desc("count")).show()
    spark.read.parquet(s"$out/orders.parquet").groupBy("o_custkey").count()
      .agg(max("count").as("max_orders_per_cust"),
        expr("percentile(count, 0.5)").as("p50")).show()
    spark.stop()
  }
}
