package graft.tools

import graft.{Json, Tables}
import graft.operators.Bpe
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Dev harness: BPE train wall-time vs merge count on the wide-vocab
  * fixture (t39/t40's corpus — ≥5k word types derived from orders via
  * md5), plus trainLocal/trainCutoff equality and chunked-encode
  * parity. Produces the numbers for evidence/bpe_scale_r14.json.
  *
  * Usage: BpeScaleBench <sfDir> [mergeCounts...]
  */
object BpeScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val counts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(64, 128, 256, 512)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val wide = Tables(spark, sfDir, "orders")
      .select((col("o_orderkey") % 20011).as("b")).distinct()
      .select(col("b"),
        expr("repeat(substring(md5(cast(b as string)), 1, " +
          "cast(3 + b % 6 as int)) || ' ', cast(1 + b % 3 as int))")
          .as("text"))
    val nTypes = Bpe.wordFreqs(wide, "text").count()
    System.err.println(s"word types: $nTypes")

    val rows = counts.map { m =>
      val t0 = System.nanoTime()
      val model = Bpe.train(spark, wide, "text", m)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val local = Bpe.trainCutoff(spark, wide, "text", m,
        maxTypes = Int.MaxValue)
      val tLocal = (System.nanoTime() - t1) / 1e9
      val eq = model == local
      val t2 = System.nanoTime()
      val enc = Bpe.encode(spark,
        wide.select(col("b").as("doc_id"), col("text")),
        "doc_id", "text", model)
      val nTok = enc.count()
      val tEnc = (System.nanoTime() - t2) / 1e9
      System.err.println(
        f"merges=$m%4d train=$tTrain%7.1fs local=$tLocal%5.1fs " +
          f"local_eq=$eq enc=$tEnc%5.1fs tokens=$nTok")
      ListMap("merges" -> m, "train_sec" -> Json.fixed(tTrain, 2),
        "train_local_sec" -> Json.fixed(tLocal, 2), "local_equals_distributed" -> eq,
        "encode_sec" -> Json.fixed(tEnc, 2), "encoded_tokens" -> nTok)
    }
    println(Json.mapper.writeValueAsString(
      ListMap("fixture" -> sfDir, "word_types" -> nTypes, "rows" -> rows)))
    spark.stop()
  }
}
