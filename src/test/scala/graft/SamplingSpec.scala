package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, "/root/testdata/sf0.001", "documents")

  test("deterministic sample: stable across runs, ~fraction sized") {
    val a = Sampling.deterministicSample(docs, col("doc_id"), 0.2)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministicSample(docs, col("doc_id"), 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "same sample every run")
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.05 && frac < 0.4, s"~20% requested, got $frac")
  }

  test("nested samples: 10% sample is a subset of the 20% sample") {
    val s10 = Sampling.deterministicSample(docs, col("doc_id"), 0.1)
      .select("doc_id").as[Long].collect().toSet
    val s20 = Sampling.deterministicSample(docs, col("doc_id"), 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(s10.subsetOf(s20), "hash thresholding nests samples")
  }

  test("split assignment: disjoint, exhaustive, stable") {
    val split = docs.withColumn("s", Sampling.assignSplit(col("doc_id")))
    assert(split.count() == docs.count())
    val counts = split.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts.values.sum == docs.count())
    assert(counts("train") > counts.getOrElse("val", 0L))
  }

  test("stratified sample keeps non-targeted strata whole") {
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Sampling.stratifiedSample(docs, col("lang"), col("doc_id"),
        Map("en" -> 0.25))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    before.keys.filter(_ != "en").foreach(l => assert(after(l) == before(l)))
    assert(after("en") < before("en"))
  }

  test("balancedByStratum caps every stratum at the smallest one") {
    val df = ((1 to 40).map(i => (i.toLong, "big")) ++
      (41 to 50).map(i => (i.toLong, "small"))).toDF("id", "grp")
    val out = Sampling.balancedByStratum(df, col("grp"), col("id"))
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("big" -> 10L, "small" -> 10L))
    // determinism: same subset on every run
    val a = Sampling.balancedByStratum(df, col("grp"), col("id"))
      .select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.balancedByStratum(df, col("grp"), col("id"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("temperatureMixture: temp=0 keeps all, higher temp flattens more") {
    val df = ((1 to 200).map(i => (i.toLong, "big")) ++
      (201 to 210).map(i => (i.toLong, "small"))).toDF("id", "grp")
    def kept(temp: Double): Map[String, Long] =
      Sampling.temperatureMixture(df, col("grp"), col("id"), temp)
        .groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t0 = kept(0.0)
    assert(t0 == Map("big" -> 200L, "small" -> 10L)) // temp 0 = identity
    val t5 = kept(0.5)
    val t1 = kept(1.0)
    assert(t5("small") == 10 && t1("small") == 10) // smallest keeps all
    assert(t1("big") <= t5("big") && t5("big") < 200) // monotone flattening
    assert(kept(0.5) == kept(0.5)) // deterministic
  }

  test("chunk: stride wider than doc yields one chunk; overlap preserved") {
    import graft.operators.TextAnalysis
    val df = Seq((1L, "a b c"), (2L, (1 to 10).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .select("doc_id", "chunk_idx", "chunk_tokens")
      .as[(Long, Long, Seq[String])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) == Seq(Seq("a", "b", "c")))
    // doc 2: starts 0,3,6,9 → 4-token windows, last truncated
    assert(got(2L) == Seq(
      Seq("w1", "w2", "w3", "w4"), Seq("w4", "w5", "w6", "w7"),
      Seq("w7", "w8", "w9", "w10"), Seq("w10")))
  }

  test("packByBudget: packs never split mid-doc, shards pack independently") {
    val df = Seq(
      ("s1", 1L, 300L), ("s1", 2L, 300L), ("s1", 3L, 300L), ("s1", 4L, 50L),
      ("s2", 1L, 600L)).toDF("src", "id", "tok")
    val packs = operators.Packing
      .packByBudget(df, col("src"), col("id"), col("tok"), budget = 512)
      .select(col("src"), col("id"), col("_pack")).as[(String, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // s1: before = 0, 300, 600, 900 → packs 0, 0, 1, 1
    assert(packs == Map(
      ("s1", 1L) -> 0L, ("s1", 2L) -> 0L, ("s1", 3L) -> 1L, ("s1", 4L) -> 1L,
      ("s2", 1L) -> 0L))
  }

  test("SQL registration: custom expressions callable from spark.sql") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(dot == 11.0)
    val sim = spark.sql(
      "SELECT simhash64(array('a','b')) = simhash64(array('a','b')) AS eq").head().getBoolean(0)
    assert(sim)
    val mh = spark.sql(
      "SELECT size(minhash64(array('x y z', 'y z w'), 64)) AS n").head().getInt(0)
    assert(mh == 64)
    val ng = spark.sql(
      "SELECT ngrams(array('a','b','c'), 2) AS g").head().getSeq[String](0)
    assert(ng == Seq("a b", "b c"))
    val gs = spark.sql(
      "SELECT gram_stats(array('x','x','y')).top AS t").head().getInt(0)
    assert(gs == 2)
    val is = spark.sql(
      "SELECT intersect_size(array('a','b'), array('b','c')) AS n").head().getInt(0)
    assert(is == 1)
    val wn = spark.sql(
      "SELECT size(winnow('abcdefghij', 4, 3)) AS n").head().getInt(0)
    assert(wn > 0)
    val nhp = spark.sql(
      "SELECT ngram_hash_pairs(array('a','b','c'), 2) AS p").head().getSeq[org.apache.spark.sql.Row](0)
    assert(nhp.length == 2 && nhp.head != nhp(1))
    // malformed calls are rejected with the function's own message
    val arity = intercept[Exception](spark.sql("SELECT vec_dot(array(1.0d))").collect())
    assert(arity.getMessage.contains("vec_dot(a, b)"), arity.getMessage)
    val nonLiteral = intercept[Exception](
      spark.sql("SELECT minhash64(array('a'), 1 + 1)").collect())
    assert(nonLiteral.getMessage.contains("must be an integer literal"), nonLiteral.getMessage)
  }

  test("perGroupCap keeps the k best per group, all of an under-k group") {
    val df = Seq(
      ("x", 1L, 50L), ("x", 2L, 90L), ("x", 3L, 70L), ("x", 4L, 90L),
      ("y", 5L, 10L)).toDF("source", "doc_id", "quality")
    val got = operators.Sampling
      .perGroupCap(df, col("source"), 2, col("quality").desc, col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    // x: quality 90 ties (ids 2,4) break on doc_id → {2, 4}; y keeps
    // its only row despite k=2
    assert(got == Set(2L, 4L, 5L))
  }

  test("weighted sample: weight 1 keeps all, 0 keeps none, monotone in weight") {
    val n = docs.count()
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(1.0)).count() == n)
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(0.0)).count() == 0)
    // out-of-range weights clamp instead of misbehaving
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(7.0)).count() == n)
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(-1.0)).count() == 0)
    // a row kept at weight w stays kept at any w' > w (same deviate)
    val at3 = Sampling.weightedSample(docs, col("doc_id"), lit(0.3))
      .select("doc_id").as[Long].collect().toSet
    val at6 = Sampling.weightedSample(docs, col("doc_id"), lit(0.6))
      .select("doc_id").as[Long].collect().toSet
    assert(at3.subsetOf(at6))
    assert(at3.size < at6.size && at6.size < n)
  }

  test("shard assignment: partition of the corpus, dense ranks, stable under growth") {
    val n = docs.count()
    val sharded = Sampling.shardAssignment(docs, col("doc_id"), 4)
      .select(col("doc_id").as[Long], col("shard").as[Int], col("pos").as[Long])
      .collect()
    assert(sharded.length == n, "every row gets exactly one shard")
    assert(sharded.map(_._2).toSet.subsetOf((0 until 4).toSet))
    // pos is dense 1..k within each shard
    sharded.groupBy(_._2).foreach { case (sh, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.toSeq == (1L to rows.length).toSeq, s"dense ranks in shard $sh")
    }
    // growing the corpus never reorders surviving rows relative to
    // each other (incremental re-materialization contract)
    val half = docs.filter(col("doc_id") % 2 === 0)
    val small = Sampling.shardAssignment(half, col("doc_id"), 4)
      .select(col("doc_id").as[Long], col("shard").as[Int], col("pos").as[Long])
      .collect()
    val fullOrder = sharded.groupBy(_._2).map { case (sh, rows) =>
      sh -> rows.sortBy(_._3).map(_._1).filter(_ % 2 == 0).toSeq
    }
    val smallOrder = small.groupBy(_._2).map { case (sh, rows) =>
      sh -> rows.sortBy(_._3).map(_._1).toSeq
    }
    assert(fullOrder == smallOrder, "relative order is hash-stable")
  }

  test("epoch salts re-key the permutation; empty salt is the unsalted order") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id").filter(col("doc_id") < 50)
    def order(salt: String) =
      Sampling.shardAssignment(docs, col("doc_id"), 4, salt)
        .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq
    assert(order("") == order(""), "deterministic")
    assert(order("") == Sampling.shardAssignment(docs, col("doc_id"), 4)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq,
      "default salt preserves the original permutation")
    assert(order("epoch1") != order("epoch2"), "epochs get distinct orders")
    assert(order("epoch1") == order("epoch1"), "each epoch is replayable")
  }

  test("globalIds: contiguous [0, N), equal to the global-sort row_number") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id")
    val n = docs.count()
    val got = Sampling.globalIds(docs, col("doc_id"), nShards = 8)
    val gids = got.select("gid").as[Long].collect().sorted
    assert(gids.toSeq == (0L until n), "every id in [0, N) exactly once")
    // the offset arithmetic must reproduce the single-sort order
    val viaSort = Sampling.shardAssignment(docs, col("doc_id"), 8)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq
    val viaIds = got.orderBy("gid").select("doc_id").as[Long].collect().toSeq
    assert(viaIds == viaSort)
  }

  test("curriculumStages == global ntile on non-divisible counts") {
    // N=10, k=4: ntile sizes must be 3,3,2,2 (first N mod k stages
    // bigger) — floor(rank*k/N) would give 3,2,3,2, so this pins the
    // exact ntile rule
    val rows = Seq(5, 3, 9, 1, 7, 2, 8, 4, 6, 10).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("id", "difficulty")
    val staged = Sampling.curriculumStages(
      df, Seq(col("difficulty"), col("id")), stages = 4, nRanges = 3)
    val got = staged.orderBy("difficulty")
      .select("difficulty", "stage").as[(Int, Long)].collect().toSeq
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map(1L -> 3, 2L -> 3, 3L -> 2, 4L -> 2), sizes.toString)
    // stage must be monotone in the difficulty order
    assert(got.map(_._2) == got.map(_._2).sorted)
    // and agree with Spark's own ntile on a single partition
    val viaNtile = df.withColumn("stage",
        ntile(4).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("difficulty"), col("id"))).cast("long"))
      .orderBy("difficulty").select("stage").as[Long].collect().toSeq
    assert(got.map(_._2) == viaNtile)
    // fewer rows than stages: each row gets its own stage, in order
    val tiny = Seq((0L, 30), (1L, 10), (2L, 20)).toDF("id", "difficulty")
    val tinyGot = Sampling.curriculumStages(
        tiny, Seq(col("difficulty"), col("id")), stages = 5, nRanges = 2)
      .orderBy("difficulty").select("stage").as[Long].collect().toSeq
    assert(tinyGot == Seq(1L, 2L, 3L), tinyGot.toString)
  }

  test("lengthBucketAudit: smallest-fitting cap, boundary hits, top-cap truncation") {
    val toks = Seq(1L, 32L, 33L, 100L, 600L).toDF("tok")
    val got = Sampling.lengthBucketAudit(toks, col("tok"))
      .orderBy("bucket_cap")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      // (cap, n_docs, kept, pad, truncated, pad_frac)
      (32L, 2L, 33L, 31L, 0L, 0.484375), // 1 pads, 32 exact; 31/64
      (64L, 1L, 33L, 31L, 0L, 0.484375), // 33 → next rung
      (128L, 1L, 100L, 28L, 0L, 0.21875),
      (512L, 1L, 512L, 0L, 88L, 0.0)))                       // 600 truncates
    intercept[IllegalArgumentException] {
      Sampling.lengthBucketAudit(toks, col("tok"), caps = Seq(64, 32))
    }
  }

  test("tokenBudgetMix: ratios clamp at 1, off-mix sources drop, deterministic") {
    import graft.operators.TextAnalysis
    // src0 weighted far beyond its ~1.5k-token mass → ratio clamps to 1
    // and every src0 doc survives; src1's 0.1 × 2000 = 200-token target
    // sits well under its mass → partial ratio; the rest of the corpus
    // is outside the mix and must vanish entirely
    val run = () => Sampling.tokenBudgetMix(docs, "doc_id", "text", "source",
      weights = Map("src0" -> 0.9, "src1" -> 0.1),
      budgetTokens = 2000).orderBy("source")
    val rows = run().collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("src0", "src1"))
    val src0 = rows(0)
    val src0Docs = docs.filter(col("source") === "src0")
    assert(src0.getDouble(3) == 1.0, "over-budget weight clamps to ratio 1")
    assert(src0.getLong(1) == src0Docs.count(), "ratio 1 keeps every doc")
    assert(src0.getLong(2) == src0Docs
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .head().getLong(0), "kept tokens = all of src0's tokens")
    assert(rows(1).getDouble(3) < 1.0 &&
      rows(1).getLong(1) < docs.filter(col("source") === "src1").count(),
      "partial ratio thins src1")
    assert(run().collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq,
      "verdicts depend only on (id, totals): identical across runs")
  }

  test("temperatureBudgetMix: T=1 is natural shares, high T flattens, deterministic") {
    import graft.operators.TextAnalysis
    val masses = docs.groupBy("source")
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = masses.values.sum.toDouble
    // budget far above the corpus mass: every ratio clamps to 1, all
    // sources survive, and the reported target shares are exercised
    // without any source dropping to zero kept docs
    def shares(t: Double): Map[String, Long] =
      Sampling.temperatureBudgetMix(docs, "doc_id", "text", "source",
          temperature = t, budgetTokens = 10000000L)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // T = 1: target share must be each source's natural token share
    val nat = shares(1.0)
    masses.foreach { case (src, n) =>
      val expected = math.round(n / total * 1e6)
      assert(math.abs(nat(src) - expected) <= 1,
        s"$src natural share ${nat(src)} ppm vs $expected")
    }
    // higher temperature compresses the spread toward uniform
    def spread(m: Map[String, Long]) = m.values.max - m.values.min
    val flat = shares(4.0)
    assert(spread(flat) < spread(nat),
      s"T=4 spread ${spread(flat)} must shrink vs T=1 ${spread(nat)}")
    // ppm shares are a probability partition (rounding slack only)
    assert(math.abs(flat.values.sum - 1000000L) <= flat.size,
      s"shares sum to ~1e6 ppm, got ${flat.values.sum}")
    // replay-stable
    val a = Sampling.temperatureBudgetMix(docs, "doc_id", "text", "source", 0.7, 5000)
      .orderBy("source").collect().map(_.toSeq).toSeq
    val b = Sampling.temperatureBudgetMix(docs, "doc_id", "text", "source", 0.7, 5000)
      .orderBy("source").collect().map(_.toSeq).toSeq
    assert(a == b, "identical across runs")
    intercept[IllegalArgumentException] {
      Sampling.temperatureBudgetMix(docs, "doc_id", "text", "source", 0.0, 100)
    }
  }

  test("dsirWeights: target-domain docs score higher, deterministically") {
    val out = Sampling.dsirWeights(docs, "doc_id", "text",
      isTarget = col("lang") === "en")
    val scored = out.join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "dsir_logratio")
      .as[(Long, String, Double)].collect()
    // every doc with at least one bigram is scored, none twice
    assert(scored.map(_._1).distinct.length == scored.length)
    assert(scored.nonEmpty)
    // the defining DSIR property: the target domain's own docs look
    // more target-like than the rest of the corpus on average
    val (en, rest) = scored.partition(_._2 == "en")
    val enAvg = en.map(_._3).sum / en.length
    val restAvg = rest.map(_._3).sum / rest.length
    assert(enAvg > restAvg,
      s"target avg $enAvg must exceed non-target avg $restAvg")
    // bit-stable across runs (content-hash features, no RNG)
    val again = Sampling.dsirWeights(docs, "doc_id", "text",
        isTarget = col("lang") === "en")
      .select("doc_id", "dsir_logratio").as[(Long, Double)].collect().toMap
    scored.foreach { case (id, _, w) => assert(again(id) == w) }
    graft.operators.OpCaches.release(spark)
  }

  test("waterfillBudgetMix: budget hit exactly, caps bind, surplus redistributes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4 sources: s1 tiny (10 tokens, 40% target = way over-asked),
    // s2 small (30, 30%), s3/s4 large. budget 200.
    def doc(src: String, id: Long, tok: Int) =
      (id, src, Seq.fill(tok)("w").mkString(" "))
    val docs = (
      (1L to 1L).map(i => doc("s1", i, 10)) ++
      (2L to 2L).map(i => doc("s2", i, 30)) ++
      (3L to 3L).map(i => doc("s3", i, 500)) ++
      (4L to 4L).map(i => doc("s4", i, 500))).toDF("doc_id", "source", "text")
    val got = graft.operators.Sampling.waterfillBudgetMix(docs,
        "doc_id", "text", "source",
        Map("s1" -> 0.4, "s2" -> 0.3, "s3" -> 0.2, "s4" -> 0.1),
        budgetTokens = 200)
      .select("source", "n_tokens", "alloc_tokens", "capped", "keep_ratio_ppm")
      .as[(String, Long, Long, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    // analytic: s1 caps (10 ≪ 0.4λ), s2 caps (30 vs 0.3λ); remaining
    // budget 160 over weights 0.3 → λ = 533.33, s3 = 106.67, s4 = 53.33
    assert(got("s1") == ("s1", 10L, 10L, 1, 1000000L), got.toString)
    assert(got("s2") == ("s2", 30L, 30L, 1, 1000000L), got.toString)
    assert(got("s3")._3 == 107L && got("s3")._4 == 0, got.toString)
    assert(got("s4")._3 == 53L && got("s4")._4 == 0, got.toString)
    // the budget is consumed exactly (±1 from per-source rounding)
    val total = got.values.map(_._3).sum
    assert(math.abs(total - 200L) <= 1, s"total=$total")
    // degenerate regime: budget beyond the corpus → everything capped
    val all = graft.operators.Sampling.waterfillBudgetMix(docs,
        "doc_id", "text", "source",
        Map("s1" -> 0.4, "s2" -> 0.3, "s3" -> 0.2, "s4" -> 0.1),
        budgetTokens = 100000)
      .select("source", "n_tokens", "alloc_tokens", "capped")
      .as[(String, Long, Long, Int)].collect()
    assert(all.forall(r => r._3 == r._2 && r._4 == 1), all.mkString(","))
  }

  test("groupAwareSplit: cluster members never straddle splits") {
    import org.apache.spark.sql.functions._
    val base = docs.select(col("doc_id"), col("text"))
    // plant an exact copy of every doc — clusters of exactly 2
    val planted = base.select((col("doc_id") + 9000000).as("doc_id"),
      col("text"))
    val both = base.unionByName(planted)
      .withColumn("fp", graft.operators.TextAnalysis.fingerprint(col("text")))
    val split = graft.operators.Sampling
      .groupAwareSplit(both, col("fp"), col("doc_id"))
    // invariant: one split per cluster
    val perCluster = split.groupBy("fp")
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k"))).as[Long].collect().head
    assert(perCluster == 1L, "a cluster straddled splits")
    // the representative is the min id, so an original doc's split is
    // unchanged vs the naive assignment (copies inherit it)
    val orig = split.filter(col("doc_id") < 9000000)
      .withColumn("naive", graft.operators.Sampling.assignSplit(col("doc_id")))
      .filter(col("split") =!= col("naive")).count()
    assert(orig == 0L, "an original doc moved away from its own split")
    // row count preserved (the join is 1:1 on fp)
    assert(split.count() == both.count())
  }

  test("annealedMixtureSchedule: T=1 is natural shares, higher T smooths") {
    import org.apache.spark.sql.functions._
    val sched = graft.operators.Sampling.annealedMixtureSchedule(
      docs, "doc_id", "text", "source", temps = Seq(4.0, 1.0),
      budgetTokens = 100000L)
    val byEpoch = sched.select("epoch", "source", "target_share_ppm")
      .as[(Long, String, Long)].collect().groupBy(_._1)
    // epoch 1 (T=1): share ∝ mass — recompute naturally
    val masses = docs.select(col("source"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("tok"))
      .groupBy("source").agg(sum("tok").as("m"))
      .as[(String, Long)].collect().toMap
    val total = masses.values.sum.toDouble
    byEpoch(1L).foreach { case (_, src, ppm) =>
      val want = math.round(masses(src) / total * 1e6)
      assert(math.abs(ppm - want) <= 1, s"$src: $ppm vs $want")
    }
    // epoch 0 (T=4) is strictly more uniform: max share shrinks
    assert(byEpoch(0L).map(_._3).max < byEpoch(1L).map(_._3).max)
    // every epoch's shares sum to ~1e6 (ppm rounding slack)
    byEpoch.values.foreach { rows =>
      assert(math.abs(rows.map(_._3).sum - 1000000L) <= rows.size) }
  }
}
