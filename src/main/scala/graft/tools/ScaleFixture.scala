package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator (dev tool): replicate a driver testdata
  * directory N× by id-shifting — copy k of a table shifts every
  * surrogate/foreign key by k·(max+1) of its referenced table, so
  * referential integrity holds exactly and the result behaves like N
  * disjoint shards of the same distribution (the shape a 10× crawl
  * delta actually has). Dimension vocabularies the queries pin by
  * literal (region, nation, source/lang/status strings) pass through
  * unchanged; timestamp columns pass through UNTOUCHED (same physical-
  * type rule as ReshapeFixture). Text and embeddings are duplicated
  * verbatim — at warehouse scale exact-duplicate mass is the normal
  * case, and it gives the dedup family real 10× work.
  *
  * Purpose: ONE empirical scale point above sf0.1 — run the bench set
  * at sf0.1 and at the generated sf1 in the same window and read
  * per-query scaling exponents, converting the plan-shape arguments
  * (iteration-constant amortization, banded-join linearity) into
  * measurements. Cross-copy joins are absent by construction, which is
  * exactly the property a shard-replicated fixture should have — it
  * measures data-volume scaling, not key-collision pathology (the
  * ReshapeFixture Zipf twins cover skew).
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // stride per logical entity = max key + 1 in the SOURCE fixture,
    // shared by the key's home table and every referencing fact
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    val cust = read("customer"); val supp = read("supplier")
    val part = read("part"); val ord = read("orders")
    val li = read("lineitem"); val ev = read("events")
    val docs = read("documents"); val emb = read("embeddings")
    val sCust = stride(cust, "c_custkey")
    val sSupp = stride(supp, "s_suppkey")
    val sPart = stride(part, "p_partkey")
    val sOrd = stride(ord, "o_orderkey")
    val sEv = stride(ev, "event_id")
    val sUser = stride(ev, "user_id") // events-internal key (sessions)
    val sDoc = stride(docs, "doc_id")
    val sVec = stride(emb, "vec_id")

    /** N copies, shifting the named columns by k·their stride. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until factor).map { k =>
        shifts.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(k * s)) }
      }.reduce(_ unionByName _)

    // single FILE per table (ReshapeFixture's flatten): the DuckDB
    // selfcheck oracle reads `<dir>/<table>.parquet` as one file, like
    // the driver's testdata; Spark reads either layout
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/_stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val stage = java.nio.file.Paths.get(tmp)
      val part = java.nio.file.Files.list(stage).iterator().asScala
        .find(_.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dest = java.nio.file.Paths.get(s"$out/$t.parquet")
      if (java.nio.file.Files.isDirectory(dest)) {
        java.nio.file.Files.walk(dest).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } else java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.list(stage).iterator().asScala.toSeq
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(stage)
    }

    // dimensions the queries pin by literal: pass through
    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(cust, Map("c_custkey" -> sCust)), "customer")
    write(replicate(supp, Map("s_suppkey" -> sSupp)), "supplier")
    write(replicate(part, Map("p_partkey" -> sPart)), "part")
    write(replicate(ord, Map("o_orderkey" -> sOrd, "o_custkey" -> sCust)),
      "orders")
    write(replicate(li, Map("l_orderkey" -> sOrd, "l_partkey" -> sPart,
      "l_suppkey" -> sSupp)), "lineitem")
    // user_id shifts too: a copy is NEW users with identical streams
    // (10× users), not the same 1500 users with 10× duplicate events
    write(replicate(ev, Map("event_id" -> sEv, "user_id" -> sUser)),
      "events")
    write(replicate(docs, Map("doc_id" -> sDoc)), "documents")
    write(replicate(emb, Map("vec_id" -> sVec)), "embeddings")
    println(s"wrote ${factor}x fixture to $out")
    spark.stop()
  }
}
