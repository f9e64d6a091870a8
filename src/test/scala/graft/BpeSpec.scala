package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  test("train reproduces a hand-computed merge sequence with total tie order") {
    import spark.implicits._
    // corpus: "low low low lower lowest" — classic BPE toy.
    // word types: low(3), lower(1), lowest(1)
    // round 1 pair counts: (l,o)=5, (o,w)=5, (w,e)=2, (e,r)=1,
    //   (e,s)=1, (s,t)=1 → tie (l,o) vs (o,w) broken by lhs: (l,o)
    // round 2: (lo,w)=5 wins
    // round 3: (low,e)=2 wins
    val docs = Seq("low low low lower lowest").toDF("text")
    val m = Bpe.train(spark, docs, "text", 3)
    assert(m.merges.map(t => (t._1, t._2)) ==
      Seq(("l", "o"), ("lo", "w"), ("low", "e")))
    assert(m.merges.map(_._3) == Seq(5L, 5L, 2L))
    assert(m.alphabet == Seq("e", "l", "o", "r", "s", "t", "w"))
    // ids: alphabet lexicographic 0..6, merges 7, 8, 9
    assert(m.vocab.toMap == Map("e" -> 0L, "l" -> 1L, "o" -> 2L, "r" -> 3L,
      "s" -> 4L, "t" -> 5L, "w" -> 6L, "lo" -> 7L, "low" -> 8L, "lowe" -> 9L))
  }

  test("merge application is leftmost-first non-overlapping (the aaa rule)") {
    import spark.implicits._
    // one word "aaa", merge (a,a) must yield [aa, a] — not [a, aa] and
    // not aaa — in BOTH the training state and the encode chain
    val docs = Seq("aaa").toDF("text")
    val m = Bpe.train(spark, docs, "text", 1)
    assert(m.merges.head._1 == "a" && m.merges.head._2 == "a")
    val toks = Bpe.encode(spark, Seq((1L, "aaa")).toDF("id", "text"),
        "id", "text", m)
      .orderBy("pos").select("token").as[String].collect().toSeq
    assert(toks == Seq("aa", "a"))
  }

  test("incremental pair-count path == classic recount path (threshold straddle)") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // force the incremental carried-counts loop at a merge count the
    // default threshold would run classic, and pin model equality —
    // the induction invariant (carried table == pairFrame(states)
    // every round) made observable
    val classic = Bpe.train(spark, docs, "text", 24)
    val incremental = Bpe.train(spark, docs, "text", 24,
      incrementalFrom = 0)
    assert(incremental == classic,
      "carried-pair-count loop must pick the identical merge sequence")
  }

  test("the production threshold gate straddled at a small bound: 10 merges at incrementalFrom = 8") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // the gate `train` runs: 10 merges above a bound of 8 take the
    // carried counts; 8 merges at that bound, and 10 under the default
    // one, take the classic recount
    assert(Bpe.runsIncremental(10, 8) && !Bpe.runsIncremental(8, 8))
    assert(!Bpe.runsIncremental(10, Bpe.IncrementalFrom))
    val classic = Bpe.train(spark, docs, "text", 10)
    assert(Bpe.train(spark, docs, "text", 10, incrementalFrom = 8) == classic)
    assert(Bpe.train(spark, docs, "text", 8, incrementalFrom = 8).merges == classic.merges.take(8))
  }

  test("the carried pair table drops zeroed pairs and fails on a negative count") {
    import spark.implicits._
    val counts = Seq(("a", "b", 2L), ("b", "c", 1L)).toDF("lhs", "rhs", "cnt")
    val zeroing = Seq(("b", "c", -1L), ("c", "d", 4L)).toDF("lhs", "rhs", "cnt")
    assert(Bpe.carryCounts(counts, zeroing).orderBy("lhs").as[(String, String, Long)]
      .collect().toSeq == Seq(("a", "b", 2L), ("c", "d", 4L)))
    val negative = Seq(("a", "b", -3L)).toDF("lhs", "rhs", "cnt")
    val e = intercept[Exception](Bpe.carryCounts(counts, negative).collect())
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"
    assert(messages(e).contains("BPE carried pair count went negative: (a, b) = -1"), messages(e))
  }

  test("encode chain equals the trained segmentation for every training word") {
    import spark.implicits._
    // the single-application fixpoint argument, checked empirically:
    // encoding a training word through the rank-ordered replace chain
    // must reproduce training's final state exactly
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val m = Bpe.train(spark, docs, "text", 24)
    val words = Bpe.wordFreqs(docs, "text")
    val mismatch = words
      .withColumn("trained",
        m.merges.foldLeft(Bpe.initialState(col("word"))) {
          case (acc, (l, r, _)) => Bpe.applyMerge(acc, l, r) })
      .withColumn("chain", Bpe.encodeState(col("word"), m))
      .filter(col("trained") =!= col("chain"))
      .count()
    assert(mismatch == 0)
  }

  test("encode positions are dense per doc and ids match the vocab") {
    import spark.implicits._
    val docs = Seq((7L, "low lower"), (8L, "low")).toDF("id", "text")
    val m = Bpe.train(spark,
      Seq("low low low lower lowest").toDF("text"), "text", 3)
    val rows = Bpe.encode(spark, docs, "id", "text", m)
      .orderBy("id", "pos")
      .as[(Long, Long, String, Long)].collect().toSeq
    // "low" → [low]; "lower" → [lowe, r]
    assert(rows == Seq(
      (7L, 0L, "low", 8L), (7L, 1L, "lowe", 9L), (7L, 2L, "r", 3L),
      (8L, 0L, "low", 8L)))
  }

  test("non-contract pre-tokens are dropped identically in train and encode") {
    import spark.implicits._
    // "Ab-1" fails ^[a-z0-9]+$ and must not contribute pairs or tokens
    val docs = Seq("ab ab Ab-1 C@t").toDF("text")
    val m = Bpe.train(spark, docs, "text", 1)
    assert(m.merges.head._1 == "a" && m.merges.head._2 == "b" &&
      m.merges.head._3 == 2L)
    assert(m.alphabet == Seq("a", "b"))
    val n = Bpe.encode(spark, Seq((1L, "Ab-1 ab C@t")).toDF("id", "text"),
      "id", "text", m).count()
    assert(n == 1L) // just the one "ab" token
  }

  test("running dry throws instead of silently under-training") {
    import spark.implicits._
    val docs = Seq("ab").toDF("text") // capacity: exactly 1 merge
    intercept[IllegalArgumentException] {
      Bpe.train(spark, docs, "text", 2)
    }
  }

  test("property: distributed train+encode == an independent in-memory reference") {
    import spark.implicits._
    // the reference works on SYMBOL VECTORS (never the string-replace
    // representation the operator uses), so a representation bug —
    // separator ambiguity, overlap handling, tie order — diverges
    def applyRef(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2 // leftmost-first, non-overlapping
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def trainRef(freqs: Map[String, Long], maxMerges: Int)
        : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
      var states = freqs.map { case (w, f) =>
        w -> w.map(_.toString).toVector }
      val merges = Seq.newBuilder[(String, String, Long)]
      var done = false
      var k = 0
      while (k < maxMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((w, syms) <- states; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + freqs(w)
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.head
          merges += ((l, r, c))
          states = states.map { case (w, s) => w -> applyRef(s, l, r) }
          k += 1
        }
      }
      (merges.result(), states.toMap)
    }

    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 10) {
      // tiny alphabet forces repeated pairs, count ties, and
      // within-word overlaps ("aaa") — the adversarial shapes
      val nWords = 4 + rnd.nextInt(10)
      val words = Seq.fill(nWords)(
        (1 to (1 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString)
      val corpus = Seq.fill(3)(rnd.shuffle(words).mkString(" "))
      val freqs = corpus.flatMap(_.split("\\s+")).groupBy(identity)
        .map { case (w, g) => w -> g.size.toLong }
      val (refMerges, refStates) = trainRef(freqs, 6)
      val m = Bpe.train(spark, corpus.toDF("text"), "text", refMerges.size)
      assert(m.merges == refMerges, s"trial $trial merges")
      // encode of every word type equals the reference segmentation
      val enc = Bpe.encode(spark,
          freqs.keys.toSeq.zipWithIndex.map { case (w, i) => (i.toLong, w) }
            .toDF("id", "text"), "id", "text", m)
        .orderBy("id", "pos").collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toVector)
      val byId = freqs.keys.toSeq.zipWithIndex
        .map { case (w, i) => i.toLong -> w }.toMap
      for ((id, toks) <- enc)
        assert(toks == refStates(byId(id)), s"trial $trial word ${byId(id)}")
    }
  }

  test("trainLocal == distributed train (the production cutoff path's core)") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dist = Bpe.train(spark, docs, "text", 24)
    val types = Bpe.wordFreqs(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(Bpe.trainLocal(types, 24) == dist)
  }

  test("trainCutoff covering every type == train; a real cutoff re-votes") {
    import spark.implicits._
    val docs = Seq("aa aa aa ab ab zz zz zz zz").toDF("text")
    // full coverage: identical to the distributed trainer
    assert(Bpe.trainCutoff(spark, docs, "text", 2, maxTypes = Int.MaxValue) ==
      Bpe.train(spark, docs, "text", 2))
    // cutoff to the top-2 types under (freq DESC, word): zz(4), aa(3) —
    // 'ab' no longer votes, and 'b' leaves the alphabet entirely
    val cut = Bpe.trainCutoff(spark, docs, "text", 2, maxTypes = 2)
    assert(cut.alphabet == Seq("a", "z"))
    assert(cut.merges.map(t => (t._1, t._2, t._3)) ==
      Seq(("z", "z", 4L), ("a", "a", 3L)))
  }

  test("trainFullLocal == train under the bound; over it fails LOUDLY") {
    import spark.implicits._
    val docs = Seq("aa aa aa ab ab zz zz zz zz").toDF("text")
    // bound covers all 3 types: exactly the distributed trainer's model
    assert(Bpe.trainFullLocal(spark, docs, "text", 2, maxTypes = 3) ==
      Bpe.train(spark, docs, "text", 2))
    // bound below the type count: an error, never a silently
    // frequency-cut model (that is trainCutoff's explicit contract)
    val e = intercept[IllegalArgumentException] {
      Bpe.trainFullLocal(spark, docs, "text", 2, maxTypes = 2)
    }
    assert(e.getMessage.contains("more than maxTypes"))
  }

  test("chunked encode (merges > chunkEvery) == the inline expression chain") {
    import spark.implicits._
    val docs = Seq("low low low lower lowest slow slower glow")
      .toDF("text").withColumn("id", lit(1L))
    val m = Bpe.train(spark, docs, "text", 8)
    def runs(chunk: Int) = Bpe.encode(spark, docs, "id", "text", m,
        chunkEvery = chunk)
      .orderBy("pos").select("pos", "token", "token_id").collect().toSeq
    assert(runs(2) == runs(100)) // type-table chunk path vs inline chain
    assert(runs(3) == runs(100)) // chunk boundary not aligned to merges
  }

  test("vocab keeps the smallest id when two merges make the same string") {
    // (b,c)→bc, (a,b)→ab, (ab,c)→abc, (a,bc)→abc: "abc" minted twice;
    // vocab must stay a FUNCTION — min id wins (what the oracles'
    // min(token_id) GROUP BY token replays)
    val m = Bpe.Model(Seq("a", "b", "c"),
      Seq(("b", "c", 9L), ("a", "b", 8L), ("ab", "c", 7L), ("a", "bc", 6L)))
    val v = m.vocab.toMap
    assert(m.vocab.size == 6) // 3 alphabet + ab + bc + ONE abc
    assert(v("abc") == 5L) // rank-3 merge (id 5), not rank-4 (id 6)
  }

  test("encode fails loudly on a character never seen in training") {
    import spark.implicits._
    val m = Bpe.train(spark, Seq("abc abc").toDF("text"), "text", 1)
    val ex = intercept[Exception] {
      Bpe.encode(spark, Seq((1L, "xyz")).toDF("id", "text"),
        "id", "text", m).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("outside the trained vocabulary")))
  }
}
