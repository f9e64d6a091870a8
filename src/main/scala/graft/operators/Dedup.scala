package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Design notes (scale-first):
  *   - Exact dedup shuffles on a 128-bit content fingerprint, never on
  *     the document text itself (short shuffle keys, no skew from long
  *     values).
  *   - MinHash signatures are computed per-row with higher-order
  *     expressions (two xxhash64 evaluations per shingle, then an
  *     arithmetic hash family) — zero shuffle until the band join.
  *   - Candidate generation explodes `bands` rows per doc and joins on
  *     (band, bandHash): shuffle volume is bands × docs small fixed-width
  *     rows, the classic LSH trade. Verification joins signatures back
  *     only for candidate pairs.
  *   - SimHash packs a 64-bit signature and uses the pigeonhole block
  *     join (4 × 16-bit blocks ⇒ hamming ≤ 3 pairs cannot be missed).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup, keep-first semantics: one surviving row per distinct
    * `textCol` value, the one with the smallest `orderCol`. */
  def exactKeepFirst(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(orderCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact dedup, keep-best semantics: one surviving row per distinct
    * `textCol` value — the one ranking first by `better` (e.g. quality
    * score descending), with `orderCol` as the deterministic tiebreak.
    * Same single-shuffle shape as [[exactKeepFirst]]; only the window
    * order changes. */
  def exactKeepBest(df: DataFrame, textCol: String, better: Column,
      orderCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(better, col(orderCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Benchmark decontamination: which `train` docs share at least one
    * k-word shingle with any `eval` doc. Both sides explode to
    * (shingle, id) pairs and meet in one equi-join on the shingle
    * string — the standard n-gram-overlap contamination check, fully
    * hash-partitionable (shuffle key = shingle). Returns
    * (train id, n_shared distinct shingles). With k ≥ 5 incidental
    * collisions vanish and surviving matches are real leakage. */
  def contaminated(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5): DataFrame = {
    def sh(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(TextAnalysis.wordShingles(col(textCol), shingleK)).as("_sh"))
    sh(train, "train_id")
      .join(sh(eval, "eval_id").select(col("_sh")).distinct(), "_sh")
      .groupBy(col("train_id"))
      .agg(count_distinct(col("_sh")).as("n_shared"))
  }

  // -------------------------------------------------------------- minhash

  /** Adds `_shingles` and a `_minhash` array<long> signature.
    *
    * Hash family: each shingle is hashed once to a long
    * (`xxhash64(shingle)`), then view i rehashes that long with the
    * hash-function index as a second column — `xxhash64(h, i)` — an
    * 8-byte hash per (shingle, i), fully codegen'd, no overflow, and a
    * genuinely independent permutation per i. (A linear
    * `a·h + b mod p` family can't be written overflow-free in ANSI-mode
    * long arithmetic without losing the high bits that make the argmin
    * vary with i.)
    */
  /** LSH banding plan: the smallest (numHashes, bands) whose S-curve
    * misses a true pair at `threshold` Jaccard with probability at most
    * `missProb`, while keeping the band width r = numHashes/bands as
    * large as the budget allows (wider bands = sharper filter = fewer
    * false candidates to verify). For banding with b bands of r rows,
    * P(miss | s) = (1 − s^r)^b — the knob users otherwise guess.
    *
    * Returns (numHashes, bands) directly usable by
    * [[minhashNearDupPairs]]. Deterministic closed-form search over
    * r ∈ [maxHashes..1]: for each width, the minimal b meeting the miss
    * bound; first (widest) r whose b·r fits the hash budget wins. */
  def lshBandPlan(threshold: Double, missProb: Double = 1e-6,
      maxHashes: Int = 512): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold must be in (0,1)")
    require(missProb > 0 && missProb < 1, s"missProb=$missProb must be in (0,1)")
    var r = maxHashes
    while (r >= 1) {
      val pBand = math.pow(threshold, r) // one band matches
      if (pBand > 0.0) {
        // (1 - pBand)^b <= missProb  ⇒  b >= ln(missProb)/ln(1-pBand).
        // Compare against the budget by division while still a Double:
        // tiny pBand makes the required b astronomically large, and a
        // toLong-then-multiply would overflow into a bogus "fits".
        val b = math.ceil(math.log(missProb) / math.log1p(-pBand))
        if (b >= 1.0 && b <= (maxHashes / r).toDouble)
          return (b.toInt * r, b.toInt)
      }
      r -= 1
    }
    // r = 1 always admits a solution if the budget allows; reaching here
    // means even single-row bands can't meet the bound within maxHashes
    throw new IllegalArgumentException(
      s"no (bands, rows) plan meets missProb=$missProb at threshold=$threshold " +
        s"within maxHashes=$maxHashes; raise the hash budget or the miss tolerance")
  }

  def withMinhash(df: DataFrame, textCol: String, numHashes: Int = 128,
      shingleK: Int = 3): DataFrame = {
    val sh = TextAnalysis.wordShingles(col(textCol), shingleK)
    df.withColumn("_shingles", sh)
      .withColumn("_minhash",
        graft.functions.HashExpressions.minhash64(col("_shingles"), numHashes))
  }

  /** Explodes the signature into `bands` (bandIdx, bandHash) rows —
    * docs sharing any band bucket become candidates. Band keys come
    * from one kernel loop per row ([[graft.functions.HashExpressions
    * .MinHashBandKeys]]); the HOF `transform` + `slice` form evaluated
    * its lambda interpreted and allocated a slice per band. */
  def lshBuckets(df: DataFrame, idCol: String, bands: Int): DataFrame = {
    // rows per band derived from the signature length; an EMPTY input
    // (e.g. a decontamination side with no docs) has no signature row
    // to probe and nothing to bucket — skip the check, return no
    // buckets, instead of crashing on head() of an empty frame
    val sigLen = df.select(size(col("_minhash"))).head(1).headOption.map(_.getInt(0))
    sigLen.foreach(l => require(l % bands == 0,
      s"bands=$bands must divide signature length $l"))
    df.select(col(idCol), posexplode(
      graft.functions.HashExpressions.minhash_band_keys(col("_minhash"), bands))
      .as(Seq("band", "bandHash")))
  }

  /** Candidate pairs (a < b) from MinHash-LSH banding, verified with
    * exact Jaccard over the shingle sets; keeps pairs ≥ `threshold`. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sigs = OpCaches.track(withMinhash(df, textCol, numHashes, shingleK)
      .select(col(idCol), col("_shingles"), col("_minhash")))
    val buckets = lshBuckets(sigs, idCol, bands)
    val l = buckets.toDF("a", "band_l", "hash_l")
    val rt = buckets.toDF("b", "band_r", "hash_r")
    val cands = l.join(rt,
        col("band_l") === col("band_r") && col("hash_l") === col("hash_r") &&
          col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val shA = sigs.select(col(idCol).as("a"), col("_shingles").as("sh_a"))
    val shB = sigs.select(col(idCol).as("b"), col("_shingles").as("sh_b"))
    cands.join(shA, "a").join(shB, "b")
      .withColumn("jaccard", TextAnalysis.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Asymmetric containment near-dup pairs: for docs a < b,
    * containment = |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) over the
    * k-shingle sets — the inclusion detector symmetric Jaccard
    * structurally misses (a 10-line snippet wholly embedded in a
    * 10-page document has tiny Jaccard but containment 1.0; quote
    * farms, scraped mirrors-with-chrome, and prompt-template
    * expansions all look exactly like this in a training corpus).
    *
    * Scale shape: shingles reduce to md5 fingerprints AT THE SCAN
    * (text never shuffles); shingles present in more than
    * `maxShingleDocFreq` docs are excluded from candidate generation
    * AND overlap counting (a boilerplate shingle shared by half the
    * corpus is noise, not inclusion evidence — and it is exactly the
    * shingle that would otherwise make the self-join quadratic).
    * Per-doc set sizes ride a separate narrow aggregate. The filter
    * applies to the ROUNDED score so external replays agree at the
    * boundary.
    *
    * Candidate generation has two shapes, selected by `prefixFilter`,
    * with MEASURED trade-offs (bench, sf0.1 synthetic docs):
    *
    *   - `false` (default): the exhaustive (fp → id) self-join. Its
    *     cost is Σ_fp df², which the df cap already bounds LINEARLY in
    *     corpus size (Σ df² ≤ cap·Σ df) — and on corpora whose
    *     shingles are mostly unique (synthetic text, or any corpus
    *     that already went through exact/near dedup, where df ≈ 1 for
    *     almost every fp) the self-join IS linear and nothing beats
    *     it: the bench showed the prefix variant ~35% slower here,
    *     because its per-doc window sort and array-verify joins are
    *     pure overhead when candidates were never quadratic.
    *   - `true`: the LOSSLESS prefix filter from the set-similarity-
    *     join literature (PPJoin's length/positional family, adapted
    *     to containment-over-min). A passing pair's SMALLER side
    *     shares ≥ tEff·m of its m total fingerprints, so at most
    *     (1−tEff)·m of them can miss the other doc, and any
    *     floor((1−tEff)·m)+1 of its rare fps must contain a
    *     shared-and-rare fp (pigeonhole; tEff is the rounded
    *     threshold's lower bound, so the cut is conservative w.r.t.
    *     the final round(·,6) ≥ threshold filter). Each doc indexes
    *     only its floor((1−tEff)·n)+1 RAREST fps (global (df, fp)
    *     order — rarest first minimizes fan-out) against the other
    *     side's full rare set — Σ df² becomes Σ_fp prefixDf·df — and
    *     exact overlaps are counted only for surviving candidates via
    *     per-doc sorted fp arrays. This is the path for raw web-scale
    *     text, where boilerplate pushes df mass toward the cap and
    *     the self-join's cap·Σdf bound is the thing that explodes.
    *
    * WHEN TO FLIP — measured on the deterministic heavy-tailed fixture
    * ([[graft.tools.ZipfCorpus]], phrase r in every r-th doc ⇒ df ∝ 1/r)
    * vs the near-uniform synthetic docs. The decision statistic is the
    * df-weighted mean df, Σdf²/Σdf over capped fingerprints (= expected
    * candidate fan-out per shingle occurrence; both sums fall out of the
    * `rare` aggregate this operator already computes):
    *
    *   - Σdf²/Σdf ≈ 10 (uniform synthetic, sf0.1): self-join wins —
    *     prefix is ~35% slower, its window sort pure overhead.
    *   - Σdf²/Σdf ≈ 110 (Zipf n=20k, cap 500): prefix wins ~20%
    *     (warm 2.9 s vs 3.7 s), identical pairs.
    *   - Σdf²/Σdf ≈ 3000 (Zipf n=40k, cap 20k, Σdf² = 3.4e9): prefix
    *     wins 160× (3.7 s vs 600 s), identical 2479 pairs — the
    *     self-join's pair stream IS Σdf² and nothing else matters.
    *
    * Rule: keep the default below ~30, flip `prefixFilter = true` above
    * ~100; between them both paths are within a small factor. Corpora
    * that already passed exact/near dedup sit at df ≈ 1; raw crawl text
    * with a permissive df cap sits in the hundreds-to-thousands.
    * [[containmentPairsAuto]] measures the statistic and dispatches
    * itself ([[containmentPathProbe]] — driver-gated as d31).
    *
    * Both paths produce bit-identical output (property-tested against
    * the in-memory reference, df cap and threshold boundary included;
    * ZipfCorpusSpec re-pins equality on the heavy-tailed shape). */
  /** The (doc id, shingle fingerprint) projection [[containmentPairs]]
    * and [[containmentPathProbe]] share — ONE tracked/cached frame, so
    * [[containmentPairsAuto]]'s probe-then-dispatch pays the corpus
    * shingle explode once, not twice (the second consumer's identical
    * plan hits Spark's CacheManager through the same [[OpCaches]]
    * entry). (id, fp) pairs are unique by construction — wordShingles
    * is distinct-ified per document — so no global distinct: one here
    * would re-shuffle the corpus's biggest intermediate to remove
    * nothing. The oracle's sfp CTE relies on the same per-doc
    * distinctness. */
  private def containmentFpsPlan(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int): DataFrame =
    df.select(col(idCol).as("_id"),
        explode(TextAnalysis.wordShingles(col(textCol), shingleK)).as("_s"))
      // RAW 16-byte digest, not the 32-char hex string: _fp is internal
      // (outputs are ids + counts), every downstream exchange/join is
      // keyed on it, and hex encoding is order-preserving byte-wise, so
      // the prefix path's (_df, _fp) window order is unchanged while
      // the key bytes halve
      .select(col("_id"), unhex(md5(col("_s"))).as("_fp"))

  private def containmentFps(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    OpCaches.track(containmentFpsPlan(df, idCol, textCol, shingleK))

  /** `detailed = true` returns the pair-FORENSICS columns a curation
    * reviewer needs to answer "why were these merged?": both shingle
    * set sizes, the shared count, containment NEXT TO Jaccard (high
    * containment + low Jaccard is the snippet-inside-document
    * signature Jaccard-only dedup structurally misses), and the
    * inclusion direction (which side is the snippet). Same candidate
    * work either way — the extra columns ride the rows the threshold
    * already kept. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.9,
      maxShingleDocFreq: Long = 10000,
      prefixFilter: Boolean = false,
      detailed: Boolean = false): DataFrame = {
    require(shingleK >= 1, s"shingleK=$shingleK must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1]")
    require(maxShingleDocFreq >= 2,
      s"maxShingleDocFreq=$maxShingleDocFreq: below 2 no shingle can pair")
    val fps = containmentFps(df, idCol, textCol, shingleK)
    val rare = fps.groupBy(col("_fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxShingleDocFreq)
    // sizes feeds TWO consumers (the a- and b-side densifying joins of
    // `merged`) and exchange reuse does not dedup the twin broadcast
    // builds (measured r16, same finding as cand below) — one tracked
    // doc-count-sized frame pays the corpus-sized groupBy once
    val sizes = OpCaches.track(
      fps.groupBy(col("_id")).agg(count(lit(1)).as("_n")))
    val shared =
      if (!prefixFilter) {
        // Staged through OpCaches (the t24/prefix-path pattern),
        // measured r16: the executed plan showed exchange reuse does
        // NOT cover the self-join's two cand occurrences — the rare
        // aggregate was computed and broadcast TWICE (two identical
        // 17 MB BroadcastExchanges at sf0.1, no ReusedExchange),
        // because one side feeds a broadcast build and the other the
        // probe stream. Caching cand pays the fps ⋈ rare pass once.
        val cand = OpCaches.track(fps.join(rare.select(col("_fp")), "_fp"))
        cand.select(col("_fp"), col("_id").as("a"))
          .join(cand.select(col("_fp"), col("_id").as("b")), "_fp")
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("_shared"))
      } else {
        // round(c, 6) >= threshold admits c >= threshold − 5e-7; widen
        // by another 5e-7 so the bound can never clip a boundary pair
        val tEff = threshold - 1e-6
        val cand = OpCaches.track(fps.join(rare, "_fp"))
        val wPrefix = Window.partitionBy(col("_id"))
          .orderBy(col("_df").asc, col("_fp").asc)
        val prefix = cand.join(sizes, "_id")
          .withColumn("_rk", row_number().over(wPrefix))
          .filter(col("_rk") <= floor((lit(1.0) - lit(tEff)) * col("_n")) + 1)
          .select(col("_fp"), col("_id").as("_px"))
        val pairs = prefix
          .join(cand.select(col("_fp"), col("_id").as("_cy")), "_fp")
          .filter(col("_px") =!= col("_cy"))
          .select(least(col("_px"), col("_cy")).as("a"),
            greatest(col("_px"), col("_cy")).as("b"))
          .distinct()
        val rareSets = cand.groupBy(col("_id"))
          .agg(sort_array(collect_list(col("_fp"))).as("_set"))
        pairs
          .join(rareSets.select(col("_id").as("a"), col("_set").as("_sa")), "a")
          .join(rareSets.select(col("_id").as("b"), col("_set").as("_sb")), "b")
          .select(col("a"), col("b"),
            size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("_shared"))
      }
    val merged = shared
      .join(sizes.select(col("_id").as("a"), col("_n").as("_na")), "a")
      .join(sizes.select(col("_id").as("b"), col("_n").as("_nb")), "b")
      .withColumn("containment", round(
        col("_shared").cast("double") / least(col("_na"), col("_nb")), 6))
      .filter(col("containment") >= threshold)
    if (!detailed) merged.select(col("a"), col("b"), col("containment"))
    else merged.select(col("a"), col("b"),
      col("_na").as("n_a"), col("_nb").as("n_b"),
      col("_shared").as("n_shared"),
      col("containment"),
      round(col("_shared").cast("double") /
        (col("_na") + col("_nb") - col("_shared")), 6).as("jaccard"),
      when(col("_na") < col("_nb"), lit("a_in_b"))
        .when(col("_nb") < col("_na"), lit("b_in_a"))
        .otherwise(lit("equal_size")).as("direction"))
  }

  /** The [[containmentPairs]] path discriminator MEASURED on an actual
    * corpus: one row of (sum_df, sum_df2, fanout) over df-capped
    * shingle fingerprints. `sum_df2` (Σdf²) is EXACTLY the exhaustive
    * self-join's candidate-pair row count, and `fanout` = Σdf²/Σdf —
    * the df-weighted mean df, i.e. the expected number of candidate
    * partners each shingle occurrence drags in — is the statistic the
    * flip guidance above is written in (≈10 uniform → self-join wins;
    * ≳100 heavy-tailed → prefix wins, measured up to 160×). Cost: one
    * fingerprint-only aggregate; text never shuffles; output is one
    * row. `fanout` is rounded to 4 decimals so the row hashes across
    * engines. */
  def containmentPathProbe(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, maxShingleDocFreq: Long = 10000): DataFrame = {
    require(shingleK >= 1, s"shingleK=$shingleK must be >= 1")
    // UNCACHED plan: standalone probe use really is one streaming
    // fingerprint aggregate — no persist of the exploded corpus. The
    // auto dispatcher instead probes over its own tracked frame
    // (probeFromFps) so ITS second pass hits the cache.
    probeFromFps(containmentFpsPlan(df, idCol, textCol, shingleK),
      maxShingleDocFreq)
  }

  /** The probe aggregate over an (id, fp) frame — shared by the
    * standalone (uncached) probe and [[containmentPairsAuto]]'s
    * cached-frame dispatch so both compute the identical statistic. */
  private def probeFromFps(fps: DataFrame,
      maxShingleDocFreq: Long): DataFrame =
    fps.groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxShingleDocFreq)
      .agg(coalesce(sum(col("_df")), lit(0L)).as("sum_df"),
        coalesce(sum(col("_df") * col("_df")), lit(0L)).as("sum_df2"))
      .select(col("sum_df"), col("sum_df2"),
        round(when(col("sum_df") > 0,
            col("sum_df2").cast("double") / col("sum_df").cast("double"))
          .otherwise(lit(0.0)), 4).as("fanout"))

  /** Self-tuning [[containmentPairs]]: probes the corpus's df-mass
    * shape first ([[containmentPathProbe]]) and flips to the prefix
    * path when the measured fan-out crosses `flipAt` (default 100 —
    * inside the measured crossover band; both fixtures sit a decade
    * away on either side). The probe costs one fingerprint aggregate:
    * at the deep-tail end that replaces a Σdf² candidate explosion
    * measured 160× slower than prefix, and at the uniform end it is a
    * small fraction of the self-join pass it green-lights. Output is
    * bit-identical either way (the two paths are property-tested
    * equal, ZipfCorpusSpec included). */
  def containmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.9,
      maxShingleDocFreq: Long = 10000, flipAt: Double = 100.0): DataFrame = {
    // track/cache the (id, fp) frame HERE: the probe consumes it once,
    // and containmentPairs re-derives the identical plan so its pass
    // reads the cache instead of re-exploding the corpus — the auto
    // path pays the shingle explode once total
    val fps = containmentFps(df, idCol, textCol, shingleK)
    val fanout = probeFromFps(fps, maxShingleDocFreq)
      .head().getAs[Double]("fanout")
    containmentPairs(df, idCol, textCol, shingleK, threshold,
      maxShingleDocFreq, prefixFilter = fanout >= flipAt)
  }

  /** Cross-corpus near-dup pairs — FUZZY decontamination (the exact
    * 5-gram overlap of [[contaminated]] misses a paraphrased or
    * lightly-edited benchmark leak; this catches anything above the
    * Jaccard threshold): both corpora bucket through the same
    * MinHash-LSH banding, candidates come from an equi-join of the
    * (band, bandHash) keys ACROSS corpora only, and survivors are
    * exact-verified on their shingle sets. Same scale shape as
    * [[minhashNearDupPairs]] — fixed-width band keys shuffle, text
    * never does; output is (left id `a`, right id `b`, jaccard). */
  def minhashCrossNearDupPairs(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 128,
      bands: Int = 32, shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val ls = OpCaches.track(withMinhash(left, textCol, numHashes, shingleK)
      .select(col(idCol), col("_shingles"), col("_minhash")))
    val rs = OpCaches.track(withMinhash(right, textCol, numHashes, shingleK)
      .select(col(idCol), col("_shingles"), col("_minhash")))
    val lb = lshBuckets(ls, idCol, bands).toDF("a", "band_l", "hash_l")
    val rb = lshBuckets(rs, idCol, bands).toDF("b", "band_r", "hash_r")
    val cands = lb.join(rb,
        col("band_l") === col("band_r") && col("hash_l") === col("hash_r"))
      .select(col("a"), col("b")).distinct()
    val shA = ls.select(col(idCol).as("a"), col("_shingles").as("sh_a"))
    val shB = rs.select(col(idCol).as("b"), col("_shingles").as("sh_b"))
    cands.join(shA, "a").join(shB, "b")
      .withColumn("jaccard", TextAnalysis.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[contaminated]] with a Bloom prefilter — the 100 TB shape: the
    * train side is never shuffled at all. The eval set's distinct
    * shingles build one Bloom filter (Spark's own
    * `BloomFilterAggregate` over `xxhash64`, one small job); the
    * serialized filter rides into the scan as a literal and
    * `BloomFilterMightContain` (codegen'd, the same expression Spark's
    * runtime row-level filters inject) drops ~(1−fpp) of train shingles
    * map-side. Only surviving candidates — true leaks plus the fpp
    * sliver — reach the exact equi-join verify, so the output is
    * IDENTICAL to [[contaminated]] (false positives die in the join)
    * while the shuffle shrinks from every-train-shingle to
    * candidates-only. */
  def contaminatedBloom(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5,
      expectedEvalShingles: Long = -1L): DataFrame = {
    val evalSh = OpCaches.track(eval
      .select(explode(TextAnalysis.wordShingles(col(textCol), shingleK)).as("_sh"))
      .distinct())
    val nItems =
      if (expectedEvalShingles > 0) expectedEvalShingles
      else math.max(evalSh.count(), 1L)
    val bloomBytes = shingleBloomBytes(evalSh, nItems)
    train
      .select(col(idCol).as("train_id"),
        explode(TextAnalysis.wordShingles(col(textCol), shingleK)).as("_sh"))
      .filter(bloomMightContain(bloomBytes, col("_sh")))
      // ^ map-side: no shuffle of the train corpus
      .join(evalSh, "_sh")  // exact verify kills the fpp sliver
      .groupBy(col("train_id"))
      .agg(countDistinct(col("_sh")).as("n_shared"))
  }

  /** Serialize a Bloom filter over a one-column `_sh` shingle frame
    * (one small aggregate job — `BloomFilterAggregate` over
    * `xxhash64`, the same machinery Spark's runtime row-level filters
    * use). The returned bytes travel as a plan literal — into a batch
    * scan ([[contaminatedBloom]]) or a long-running streaming query
    * ([[graft.streaming.StatefulOps.contaminationFlag]]). */
  private[graft] def shingleBloomBytes(evalSh: DataFrame, nItems: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    evalSh
      .select(GraftBridge.column(
        new BloomFilterAggregate(GraftBridge.expression(xxhash64(col("_sh"))), nItems)
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** `BloomFilterMightContain` as a Column — usable on a top-level
    * shingle column or on a higher-order-function lambda variable. */
  private[graft] def bloomMightContain(bloomBytes: Array[Byte], sh: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftBridge.expression(xxhash64(sh))))
  }

  /** Build the decontamination Bloom for a benchmark/eval corpus:
    * bytes over its distinct `shingleK`-word shingles, sized by an
    * exact count (or `expectedEvalShingles` to skip the counting
    * job). */
  def evalShingleBloom(eval: DataFrame, textCol: String, shingleK: Int = 5,
      expectedEvalShingles: Long = -1L): Array[Byte] = {
    val evalSh = eval
      .select(explode(TextAnalysis.wordShingles(col(textCol), shingleK)).as("_sh"))
      .distinct()
    val nItems =
      if (expectedEvalShingles > 0) expectedEvalShingles
      else math.max(evalSh.count(), 1L)
    shingleBloomBytes(evalSh, nItems)
  }

  /** Map-side "possibly shares a shingle with the eval set" test:
    * true iff ANY of `text`'s `shingleK`-word shingles hits the Bloom.
    * One row-local pass over the shingle array (`exists` short-
    * circuits on the first hit) — no explode, no shuffle, no state;
    * false positives are bounded by the filter's fpp per shingle. */
  def mightShareShingle(bloomBytes: Array[Byte], text: Column,
      shingleK: Int = 5): Column =
    exists(TextAnalysis.wordShingles(text, shingleK),
      sh => bloomMightContain(bloomBytes, sh))

  // ----------------------------------------------------------- line dedup

  /** Corpus-level exact line dedup — the C4-style boilerplate pass:
    * every distinct physical line of text survives exactly once across
    * the whole corpus, at its first (id, line-position) occurrence;
    * repeated boilerplate (nav headers, cookie banners, license
    * footers) vanishes from every later document.
    *
    * Shape: posexplode lines → keep-first window per distinct line →
    * ordered reassembly per doc. The window shuffle key is
    * `(md5(line), xxhash64(line))` — fixed 192-bit width regardless of
    * line length, so long boilerplate lines don't produce fat shuffle
    * keys (the same trade [[exactKeepFirst]] makes for whole
    * documents), and pairing two independent digests means dropping a
    * distinct line corpus-wide requires a simultaneous collision in
    * both (md5 alone is collision-constructible); reassembly shuffles
    * (id, pos, line) once more on the id. Docs whose every
    * line is someone else's duplicate drop out of the result (their
    * `clean_text` would be empty).
    *
    * Returns (idCol, n_kept, clean_text) — kept-line count and the
    * surviving lines rejoined in original order.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("_pos", "_line")))
    val w = Window.partitionBy(md5(col("_line")), xxhash64(col("_line")))
      .orderBy(col(idCol), col("_pos"))
    lines.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")),
          "\n").as("clean_text"))
  }

  /** C4-style boilerplate scrub — the frequency twin of [[lineDedup]]:
    * a line occurring in at least `minDocs` DISTINCT documents is
    * boilerplate (nav chrome, cookie banners, copyright footers) and is
    * removed from EVERY document, first occurrence included; lineDedup
    * by contrast keeps one survivor. Frequency counting aggregates
    * paired (md5, xxhash64) line fingerprints — line text never
    * shuffles. The removal anti-join is left UNHINTED: the boilerplate
    * set's size is corpus-dependent (at C4 scale, lines in ≥ minDocs
    * docs number in the hundreds of millions — an explicit broadcast
    * hint would OOM the driver), and with no hint AQE broadcasts it
    * when its measured size is under the threshold and falls back to a
    * shuffled anti-join on the narrow (md5, xxhash64) keys otherwise —
    * both plans are correct, and the shuffled one scales unboundedly.
    * Docs whose every line is boilerplate drop out (same contract as
    * lineDedup's all-duplicate docs).
    *
    * Returns (idCol, n_kept, clean_text). */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: a line needs at least 2 docs to be boilerplate")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("_pos", "_line")))
      .withColumn("_m", md5(col("_line")))
      .withColumn("_x", xxhash64(col("_line")))
    val boiler = lines.groupBy(col("_m"), col("_x"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select(col("_m"), col("_x"))
    lines.join(boiler, Seq("_m", "_x"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")),
          "\n").as("clean_text"))
  }

  /** Storage-style block-level dedup audit: slice each document's
    * content into fixed `blockChars`-character blocks, digest each
    * block, and report corpus-wide block redundancy — the
    * below-whole-document view that shows a suffix-edited near-copy as
    * mostly duplicated where file-level digests see it as unique.
    * Zero-length texts contribute zero blocks (guarded: Spark's
    * `sequence(0, -1)` DESCENDS and would emit phantom rows).
    * Content never shuffles — slicing is map-side; only (16-byte
    * digest, block length) pairs reach the two narrow aggregates.
    * Returns ONE row: (n_media, n_blocks, distinct_blocks, dup_blocks,
    * chars_total, chars_dedup, chars_saved, dedup_ppm) — all exact
    * integers (d27's gate; property-tested in PropertySpec). */
  def blockDedupStats(df: DataFrame, idCol: String, textCol: String,
      blockChars: Int = 128): DataFrame = {
    require(blockChars >= 1, s"blockChars=$blockChars must be positive")
    val blocks = df
      .select(col(idCol).as("_bid"), col(textCol).as("_payload"))
      .withColumn("_len", length(col("_payload")))
      .filter(col("_len") > 0)
      .select(col("_bid"), col("_payload"),
        explode(expr(s"sequence(0, cast(ceil(_len / $blockChars.0) as int) - 1)"))
          .as("_i"))
      .withColumn("_blk",
        expr(s"substring(_payload, _i * $blockChars + 1, $blockChars)"))
      .select(col("_bid"), md5(col("_blk")).as("_bfp"),
        length(col("_blk")).cast("long").as("_blen"))
    val stats = blocks.agg(
      countDistinct(col("_bid")).as("n_media"),
      count(lit(1)).as("n_blocks"),
      countDistinct(col("_bfp")).as("distinct_blocks"),
      sum(col("_blen")).as("chars_total"))
    val uniq = blocks.groupBy(col("_bfp"))
      .agg(min(col("_blen")).as("_ul"))
      .agg(sum(col("_ul")).as("chars_dedup"))
    stats.crossJoin(uniq).select(
      col("n_media"), col("n_blocks"), col("distinct_blocks"),
      (col("n_blocks") - col("distinct_blocks")).as("dup_blocks"),
      col("chars_total"), col("chars_dedup"),
      (col("chars_total") - col("chars_dedup")).as("chars_saved"),
      round(col("chars_dedup").cast("double") / col("chars_total") * 1e6)
        .cast("long").as("dedup_ppm"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token stream: bit k of the signature is the
    * sign of Σ_tokens (±1 depending on bit k of xxhash64(token)).
    * Runs as a custom expression — one tight loop per row (the
    * higher-order-function formulation is interpreted per element).
    * `md5Parity` swaps the token hash for md5's top 8 bytes so an
    * external engine can reproduce the signature bit-for-bit (the d04
    * oracle); leave it off for production scale. */
  def simhash64(text: Column, md5Parity: Boolean = false): Column =
    graft.functions.HashExpressions.simhash64(TextAnalysis.tokens(text), md5Parity)

  /** Near-dup pairs with hamming(simhash) ≤ maxHamming, found by the
    * pigeonhole block join: split the 64-bit signature into
    * `maxHamming+1` blocks; any pair within the bound shares ≥1 exact
    * block → join on (blockIdx, blockValue), then verify with
    * bit_count(xor). The block join is EXHAUSTIVE for the bound (a
    * pigeonhole argument, not a probabilistic one), so with
    * `md5Parity` the whole operator is oracle-checkable. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, md5Parity: Boolean = false): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = 64 / nBlocks
    val sigs = OpCaches.track(
      df.select(col(idCol), simhash64(col(textCol), md5Parity).as("_simhash")))
    val blockCols = (0 until nBlocks).map(b =>
      shiftrightunsigned(col("_simhash"), b * blockBits)
        .bitwiseAND(lit((1L << blockBits) - 1)))
    val blocks = sigs.select(col(idCol), col("_simhash"),
      posexplode(array(blockCols: _*)).as(Seq("block", "blockVal")))
    val l = blocks.toDF("a", "sim_a", "block_l", "val_l")
    val rt = blocks.toDF("b", "sim_b", "block_r", "val_r")
    l.join(rt, col("block_l") === col("block_r") && col("val_l") === col("val_r") &&
        col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- connected components

  /** Connected components over an undirected edge list — the dup-group
    * clustering step after near-dup pair generation: documents joined by
    * a chain of near-dup edges form one group, and the component label
    * (min member id) picks the canonical keeper.
    *
    * `edges` must have long columns (a, b); `nodes` one long column
    * `node` (include isolated nodes so singletons surface). Returns
    * (node, component).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own and its neighbors' labels; converges in
    * O(component diameter) rounds, each round one shuffle join + one
    * aggregation. That is the standard MapReduce-CC shape; near-dup
    * graphs have tiny diameters (dup clusters are dense), so rounds
    * stay single-digit at any corpus size. For adversarial long-chain
    * graphs switch to large-star/small-star — same join primitives.
    * `localCheckpoint` truncates lineage each round so plans don't grow
    * unboundedly with iterations.
    *
    * NOT a `LoopSession.nonAdaptive` loop — measured r16, kept
    * adaptive (the v35/mmrTopK finding): the graph-loop treatment cut
    * jobs 41 → 17 and shuffle bytes 22 → 9 KB on d07 but read ~1.2×
    * slower in paired same-window probes (pass-2 medians 4.3 vs 3.6 s
    * at sf0.1), because each round joins label frames freshly derived
    * from the previous round (LogicalRDD-backed, no stats) — the
    * static planner falls back to sort-merge joins where AQE's runtime
    * size measurement converts them to broadcasts. PageRank-family
    * loops won from the same treatment because their per-round join
    * inputs are the SAME two checkpointed frames every round; CC's are
    * not. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 25): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(false) // lazy: round 1's changed-count materializes it
    var labels = nodes.select(col("node"), col("node").as("component"))
      .localCheckpoint(false)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("component")).as("_nbr"))
      val next = IterTrace.record("cc_minlabel",
        labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
          .select(labels("node"),
            least(col("component"), coalesce(col("_nbr"), col("component")))
              .as("component")))
        .localCheckpoint(false) // lazy: the changed-count probe materializes it
      val changed = next
        .join(labels.withColumnRenamed("component", "_old"), "node")
        .filter(col("component") =!= col("_old")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    // partially-propagated labels are silently WRONG — refuse to return
    // them; callers hitting this on adversarial long-chain graphs should
    // raise maxIters (or switch to large-star/small-star)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters rounds; " +
          "labels would be partially propagated. Raise maxIters " +
          "(rounds needed = O(max component diameter)).")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the scale path for adversarial graphs.
    *
    * [[connectedComponents]] propagates min labels one hop per round,
    * so a chain component of diameter D needs D rounds; this variant
    * rewires the edge set itself each round and converges in
    * O(log² n) rounds on ANY topology:
    *
    *   - large-star: every node u links its LARGER neighbors to
    *     m = min(Γ(u) ∪ u) — long tails fold onto local minima.
    *   - small-star: with edges directed high→low, every node u links
    *     its smaller neighbors (and itself) to its minimum neighbor —
    *     shallow trees flatten into stars.
    *
    * Both steps are one groupBy(min) + one equi-join over fixed-width
    * (long, long) edges, and both strictly preserve connectivity, so
    * the fixpoint is a star per component rooted at the component min.
    * Edge multiplicity never exceeds the input edge count, so per-round
    * shuffle volume is bounded by the original |E|. `localCheckpoint`
    * truncates lineage per round.
    *
    * Same contract as [[connectedComponents]]: `edges` long columns
    * (a, b), `nodes` one long column `node`; returns (node, component).
    */
  def connectedComponentsStar(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 20): DataFrame = {
    // canonicalize: directed high→low, no self-loops, no dup edges
    var e = edges
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false) // lazy: the count below materializes it
    var eCount = e.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: for each node u over the SYMMETRIC neighborhood,
      // m = min(Γ(u) ∪ u); emit (v, m) for neighbors v > u
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy(col("u"))
        .agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      val afterLarge = IterTrace.record("cc_star_large", sym.join(largeMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ high→low
        .filter(col("u") =!= col("v"))
        .distinct())
        .localCheckpoint(false) // lazy: next's count materializes the chain
      // small-star: edges already high→low; for each node u,
      // m = min of its smaller neighbors; relink them all (and u) to m
      val smallMin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = IterTrace.record("cc_star_small", afterLarge.join(smallMin, "u")
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
        .localCheckpoint(false) // lazy: the convergence count materializes it
      // both sides are distinct sets, so set equality ⟺ equal size
      // AND next ⊆ e: one count over the fresh checkpoint plus (only
      // when sizes tie) a short-circuiting anti-join probe, instead of
      // two full except().count() scans per round
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge after $maxIters rounds " +
          "(expected O(log² n)); raise maxIters.")
    // fixpoint is a star per component: every non-root points at the
    // component min; roots and isolated nodes label themselves
    nodes.join(e.select(col("u").as("node"), col("v").as("_root")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("_root"), col("node")).as("component"))
  }

  // ------------------------------------------------------- SemDeDup

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means clustering + within-cluster cosine
    * pruning. Embeddings are clustered (the [[IvfIndex]] coarse
    * quantizer — deterministic sampled Lloyd's, centroids as plan
    * literals), pairs are generated ONLY inside a cluster, and cosine
    * ≥ `threshold` pairs are closed into duplicate groups
    * ([[connectedComponentsStar]]); each group keeps its min-id
    * representative.
    *
    * The cluster restriction is what makes near-dup pruning tractable
    * at corpus scale: candidate generation is an equi-join on the cell
    * id, so comparisons drop from N²/2 to Σ|cell|²/2 — tune `nlist`
    * so cells stay bounded (√N cells of √N docs each is the classic
    * setting). Cross-cluster near-dups are the recall trade the paper
    * accepts; raise `nlist` recall via the [[Similarity.lshNearDupPairs]]
    * banded path when that trade is wrong for the corpus.
    *
    * Returns every doc with its duplicate-group label and survivor
    * flag: (idCol, cell, component, kept). */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, nlist: Int = 16, roundTo: Int = 6): DataFrame = {
    val ivf = IvfIndex.train(df, embCol, nlist)
    val cells = Similarity.withUnit(df, embCol)
      .select(col(idCol).cast("long").as("_id"), col("_unit"),
        IvfIndex.assignCell(col("_unit"), ivf).as("cell"))
    val left = cells.select(col("cell"), col("_id").as("a"), col("_unit").as("_ua"))
    val right = cells.select(col("cell"), col("_id").as("b"), col("_unit").as("_ub"))
    val edges = left.join(right, "cell")
      .filter(col("a") < col("b"))
      .filter(round(graft.functions.Vec.dot(col("_ua"), col("_ub")), roundTo)
        >= threshold)
      .select(col("a"), col("b"))
    val comp = connectedComponentsStar(edges, cells.select(col("_id").as("node")))
    cells.select(col("_id").as("node"), col("cell"))
      .join(comp, "node")
      .select(col("node").as(idCol), col("cell"), col("component"),
        (col("node") === col("component")).as("kept"))
  }

  // ---------------------------------------------- duplicated substring spans

  /** Duplicated-substring spans (the Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better"
    * semantics): any window of `k` consecutive tokens whose text occurs
    * more than once corpus-wide is a duplicate; the corpus-first
    * occurrence (minimum (doc, position)) is kept and every other
    * occurrence is marked for removal. Overlapping and adjacent removal
    * windows within a document merge into maximal spans, so the result
    * is the minimal set of (doc, [span_start, span_end)) token ranges a
    * curation pass would cut.
    *
    * The published implementation builds a suffix array over the
    * concatenated corpus; distributed suffix-array construction is
    * far heavier than this rolling-window shape, which keeps the same
    * fixed-length-window semantics: one narrow (window-hash, doc, pos)
    * row per token position, a map-side-partial min-occurrence
    * aggregate per window hash, and a join back restricted to hashes
    * seen more than once. The window key is the 128-bit pair the
    * [[graft.functions.HashExpressions.NGramHashPairs]] kernel emits
    * (collision odds ~W²/2¹²⁹, negligible at any corpus size): each
    * token is hashed ONCE per channel and windows combine token hashes
    * with a fixed-length polynomial, so no gram string is ever
    * materialized — the dominant cost of the hash(ngrams(...)) shape
    * this replaced (every character hashed k times plus one garbage
    * string per window). Shuffle volume is
    * linear in corpus tokens with fixed-width 16-byte keys — document
    * text itself never shuffles — and a boilerplate window repeated
    * 10⁹ times skews
    * neither the aggregate (partial min/count per map task) nor the
    * join (AQE skew split on the duplicated-hash side). The final
    * span merge is a per-document window over removal rows only.
    *
    * Deliberately NOT a single window-over-(h1,h2) pass: that shape
    * measured ~2× faster at sf0.1 (one shuffle, no probe-side
    * recompute) but a window partition receives EVERY occurrence of
    * its key in one task — no map-side combine, no AQE skew split —
    * so one boilerplate window repeated 10⁹ times at corpus scale
    * concentrates 10⁹ rows on one core. The aggregate+join shape pays
    * a second map-side pass (cheap since the kernel) for unbounded
    * skew tolerance.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "window length k must be >= 2 tokens")
    val toks = split(trim(col(textCol)), "\\s+")
    // lazily checkpointed: `wins` feeds BOTH the min-occurrence
    // aggregate and the probe side of the join below, and because AQE
    // makes that join a broadcast (no probe-side exchange), exchange
    // reuse can't kick in — without the checkpoint the probe re-reads
    // and re-hashes the whole corpus a second time. The materialized
    // frame is the narrow (id, pos, h1, h2) stream — fixed-width
    // ~30 B/token in the local block store (spill-backed), computed
    // once per invocation; a 100 TB run with tight executor storage
    // would swap this for a one-shot parquet write-and-reread, shapes
    // unchanged.
    val wins = df
      .filter(size(toks) >= k) // shorter docs hold no length-k window
      .select(col(idCol).as("_id"),
        posexplode(graft.functions.HashExpressions.ngram_hash_pairs(toks, k))
          .as(Seq("_pos", "_hp")))
      .select(col("_id"), col("_pos"),
        col("_hp").getField("h1").as("_h1"),
        col("_hp").getField("h2").as("_h2"))
      .localCheckpoint(false)
    val dupFirsts = wins
      .groupBy("_h1", "_h2")
      .agg(min(struct(col("_id"), col("_pos"))).as("_keep"),
        count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
      .select(col("_h1"), col("_h2"), col("_keep"))
    // dup hashes are typically a sliver of all windows, so AQE turns
    // this into a broadcast join at runtime (the wins side then never
    // shuffles at all); at adversarial dup rates it degrades to a
    // shuffle join with skew split
    val removal = wins.join(dupFirsts, Seq("_h1", "_h2"))
      .filter(struct(col("_id"), col("_pos")) =!= col("_keep"))
      .select(col("_id"), col("_pos").as("_start"),
        (col("_pos") + k).as("_end"))
    // gaps-and-islands: a window opens a new span iff no earlier
    // removal window in the doc reaches its start position
    val w = Window.partitionBy("_id").orderBy("_start")
    val priorMax = max(col("_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(when(priorMax >= col("_start"), 0).otherwise(1))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    removal
      .withColumn("_island", island)
      .groupBy(col("_id"), col("_island"))
      .agg(min("_start").as("span_start"), max("_end").as("span_end"))
      .select(col("_id").as(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))
  }

  /** Applies [[substringSpans]]: cut every removal span out of its
    * document and return the cleaned token stream's stats + digest —
    * the step that turns the span REPORT into curated text (Lee et
    * al. pipelines rewrite the corpus exactly this way).
    *
    * Scale shape: spans collect per document (bounded by the doc's own
    * token count), join back on the id key, and the cut is one
    * index-aware filter expression per row — no token ever shuffles;
    * the only moved data is (id, spans) pairs and the original rows.
    * Docs without spans pass through via the null branch. */
  def applySubstringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spanArr = substringSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val toks = split(trim(col(textCol)), "\\s+")
    df.join(spanArr, Seq(idCol), "left")
      .withColumn("_toks", toks)
      .withColumn("_kept",
        when(col("_spans").isNull, col("_toks"))
          .otherwise(filter(col("_toks"), (_, i) =>
            !exists(col("_spans"), s =>
              i.cast("long") >= s.getField("span_start") &&
                i.cast("long") < s.getField("span_end")))))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        md5(array_join(col("_kept"), " ")).as("clean_md5"))
  }

  // ------------------------------------------------------ incremental dedup

  /** Incremental dedup — the daily-ingest shape: dedupe a new batch
    * within itself (keep-first by `orderCol`) and against the
    * already-curated historical corpus. History reduces to distinct
    * content fingerprints before the anti-join, so at 100 TB the
    * historical side shuffles one 128-bit key per *distinct* document
    * (not per row, and never the text); the new batch is typically
    * orders of magnitude smaller than history, which is exactly when
    * an anti-join beats re-running global dedup over the union. For
    * history so large even its fingerprint set is expensive to
    * shuffle per batch, [[contaminatedBloom]] shows the broadcast
    * Bloom-prefilter variant of the same contract. */
  def incrementalDedup(newBatch: DataFrame, history: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val histFp = history.select(fp.as("_hist_fp")).distinct()
    exactKeepFirst(newBatch, textCol, idCol)
      .join(histFp, fp === col("_hist_fp"), "left_anti")
  }

  // --------------------------------------------------- source overlap matrix

  /** Cross-source duplicate overlap matrix — for every pair of sources,
    * how many *distinct* documents they share, and what share of each
    * source's distinct content that is. The dataset-card companion to
    * the per-source corpus report (t22): it answers "is crawl B mostly
    * a mirror of crawl A?" before anyone trains on both.
    *
    * Scale shape: one shuffle of (128-bit fingerprint, source) pairs,
    * then a groupBy(fingerprint) whose per-group state is bounded by
    * the number of SOURCES (enumerable, small) — never a corpus
    * self-join on content. Pair fan-out per fingerprint is
    * |sources|·(|sources|−1)/2 at worst; the per-source distinct
    * counts are a few rows and broadcast into the share join. Text
    * never shuffles. */
  def sourceOverlapMatrix(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    // one corpus scan: distinct (fingerprint, source) → source set per
    // fingerprint; lazily checkpointed because BOTH the per-source
    // distinct counts and the pair fan-out consume it (same rationale
    // as substringSpans' wins frame — the narrow (16 B fp, small
    // array) stream materializes once instead of re-scanning text)
    val grouped = df
      .select(TextAnalysis.fingerprint(col(textCol)).as("_fp"),
        col(sourceCol).as("_src")).distinct()
      .groupBy(col("_fp")).agg(collect_set(col("_src")).as("_srcs"))
      .localCheckpoint(false)
    val perSource = grouped
      .select(explode(col("_srcs")).as("_src"))
      .groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val srcs = sort_array(col("_srcs"))
    // all ordered pairs (a, b) with a < b from the sorted source set
    val pairCol = flatten(transform(
      sequence(lit(1), size(srcs) - 1),
      i => transform(slice(srcs, i + 1, size(srcs)),
        b => struct(element_at(srcs, i).as("a"), b.as("b")))))
    grouped
      .filter(size(col("_srcs")) > 1)
      .select(explode(pairCol).as("_pair"))
      .groupBy(col("_pair.a").as("source_a"), col("_pair.b").as("source_b"))
      .agg(count(lit(1)).as("shared_docs"))
      .join(broadcast(perSource.select(col("_src").as("source_a"),
        col("_n").as("_na"))), "source_a")
      .join(broadcast(perSource.select(col("_src").as("source_b"),
        col("_n").as("_nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_docs"),
        round(col("shared_docs") / col("_na"), 6).as("share_of_a"),
        round(col("shared_docs") / col("_nb"), 6).as("share_of_b"))
  }

  // ----------------------------------------------- structural templates

  /** Structural template mining: cluster documents by their PUNCTUATION
    * SKELETON — every alphanumeric run collapsed to `w`, case folded,
    * so "[sys] entry#12: ok;" and "[sys] entry#973: ok;" share one
    * skeleton while differing in every content fingerprint. This is
    * the detector for machine-generated / form-letter boilerplate that
    * content-level dedup structurally misses: the texts are all
    * DISTINCT (exact dedup keeps every one) yet carry one template's
    * worth of signal. A skeleton group with high n_docs and
    * n_distinct_texts ≈ n_docs is the smoking gun — many unique
    * fillings of one form.
    *
    * Scale shape: text leaves the plan at two map-side md5s (skeleton,
    * content); one skeleton-keyed aggregate; the report is a top-k
    * heap cut (count DESC, fp tie-break — deterministic). Nothing
    * text-sized shuffles. */
  def templateSkeletons(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2, topK: Int = 20): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: a template needs >= 2 docs")
    require(topK >= 1, s"topK=$topK must be >= 1")
    val sk = md5(regexp_replace(lower(trim(col(textCol))), "[a-z0-9]+", "w"))
    df.select(col(idCol).as("_id"), sk.as("skeleton_fp"),
        TextAnalysis.fingerprint(col(textCol)).as("_cfp"))
      .groupBy(col("skeleton_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_cfp")).as("n_distinct_texts"),
        min(col("_id")).as("example_id"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("skeleton_fp"))
      .limit(topK)
  }

  // ----------------------------------------------- mergeable source sketch

  /** Per-source MinHash bottom-sketch over distinct document
    * fingerprints: for each of `numHashes` md5-derived permutations t,
    * the sketch keeps min over the source's distinct content
    * fingerprints f of H(t, f) — `numHashes` longs per source, total.
    *
    * This is the MERGEABLE summary [[sourceOverlapMatrix]] isn't:
    * min is associative/commutative, so per-shard (or per-day) sketches
    * union by elementwise min without revisiting content — the shape a
    * 100 TB multi-crawl census needs. Estimated Jaccard between two
    * sources is the fraction of agreeing permutation slots; comparing
    * S sources costs O(S²·numHashes) over sketch rows, never a
    * content-level pair join.
    *
    * The permutation hash is md5-derived (top 32 bits of md5("t:f")),
    * NOT the in-engine xxhash MinHash64 kernel, deliberately: an
    * external SQL engine replays it bit-for-bit, so the sketch VALUES
    * (not just downstream counts) are oracle-checkable — the d04/v03
    * md5-parity pattern.
    *
    * Scale shape: one distinct over (16 B fingerprint, source) pairs
    * is the only corpus-sized shuffle; the ×numHashes explode feeds a
    * (source, t)-keyed min whose partial aggregation collapses
    * map-side to |sources|·numHashes rows per task. Text never
    * shuffles. Returns (source, t, mh). */
  /** Sketch slots from an already-DISTINCT (_f, source) frame — the
    * seam [[sourceSketchJaccard]] uses to feed its sketch and exact
    * sides from ONE corpus scan + distinct shuffle. */
  private def sketchFromDistinctFps(fp: DataFrame, numHashes: Int): DataFrame =
    fp.select(col("source"),
        posexplode(transform(sequence(lit(0), lit(numHashes - 1)),
          t => conv(substr(md5(concat(t.cast("string"), lit(":"),
            col("_f"))), lit(1), lit(8)), 16, 10).cast("long"))))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "_h")
      .groupBy(col("source"), col("t")).agg(min(col("_h")).as("mh"))

  def sourceMinHashSketch(df: DataFrame, textCol: String,
      sourceCol: String, numHashes: Int = 128): DataFrame = {
    require(numHashes >= 1, s"numHashes=$numHashes must be >= 1")
    sketchFromDistinctFps(df
      .select(TextAnalysis.fingerprint(col(textCol)).as("_f"),
        col(sourceCol).as("source")).distinct(), numHashes)
  }

  /** Sketch-accuracy audit: for every source pair, the MinHash-sketch
    * Jaccard ESTIMATE (agreeing slots / numHashes, an exact rational)
    * next to the exact distinct-content Jaccard and the absolute
    * error — the number that says whether the O(S²·sketch) census can
    * replace [[sourceOverlapMatrix]]'s content join for a corpus. Pairs
    * come from the sketch side, so disjoint sources appear with
    * jaccard 0 rather than vanishing.
    *
    * The exact side reuses the overlap-matrix shape (source-set per
    * fingerprint, pair fan-out bounded by |sources|²); union size is
    * n_a + n_b − shared. Both sides shuffle fingerprints only. */
  def sourceSketchJaccard(df: DataFrame, textCol: String,
      sourceCol: String, numHashes: Int = 128): DataFrame = {
    require(numHashes >= 1, s"numHashes=$numHashes must be >= 1")
    // ONE corpus scan + ONE distinct shuffle feeds BOTH the sketch
    // build and the exact-Jaccard side (they previously each derived
    // their own identical distinct projection — two full corpus
    // passes on the 100 TB census this op is documented for)
    val fps0 = df
      .select(TextAnalysis.fingerprint(col(textCol)).as("_f"),
        col(sourceCol).as("source")).distinct()
      .localCheckpoint(false)
    val sk = sketchFromDistinctFps(fps0, numHashes)
      .localCheckpoint(false) // consumed twice (self-join sides)
    val est = sk.select(col("source").as("source_a"), col("t"),
        col("mh").as("_ma"))
      .join(sk.select(col("source").as("source_b"), col("t"),
        col("mh").as("_mb")), Seq("t"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(when(col("_ma") === col("_mb"), 1L).otherwise(0L))
        / lit(numHashes.toDouble), 6).as("est_jaccard"))
    val fps = fps0.select(col("_f").as("_fp"), col("source").as("_src"))
    val perSource = fps.groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val grouped = fps.groupBy(col("_fp"))
      .agg(sort_array(collect_set(col("_src"))).as("_srcs"))
      .filter(size(col("_srcs")) > 1)
    val srcs = col("_srcs")
    val pairCol = flatten(transform(
      sequence(lit(1), size(srcs) - 1),
      i => transform(slice(srcs, i + 1, size(srcs)),
        b => struct(element_at(srcs, i).as("a"), b.as("b")))))
    val shared = grouped.select(explode(pairCol).as("_pair"))
      .groupBy(col("_pair.a").as("source_a"), col("_pair.b").as("source_b"))
      .agg(count(lit(1)).as("_shared"))
    est
      .join(shared, Seq("source_a", "source_b"), "left")
      .join(broadcast(perSource.select(col("_src").as("source_a"),
        col("_n").as("_na"))), "source_a")
      .join(broadcast(perSource.select(col("_src").as("source_b"),
        col("_n").as("_nb"))), "source_b")
      .withColumn("_sh", coalesce(col("_shared"), lit(0L)))
      .select(col("source_a"), col("source_b"),
        col("est_jaccard"),
        round(col("_sh") / (col("_na") + col("_nb") - col("_sh")), 6)
          .as("jaccard"),
        round(abs(col("est_jaccard") -
          round(col("_sh") / (col("_na") + col("_nb") - col("_sh")), 6)), 6)
          .as("abs_err"))
  }

  // --------------------------------------------------- exact n-gram jaccard

  /** Exact n-gram Jaccard over explicit candidate pairs: a baseline /
    * verification operator. `pairs` must have columns (a, b). */
  def jaccardForPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol),
      TextAnalysis.wordShingles(col(textCol), shingleK).as("_sh"))
    pairs
      .join(sh.select(col(idCol).as("a"), col("_sh").as("sh_a")), "a")
      .join(sh.select(col(idCol).as("b"), col("_sh").as("sh_b")), "b")
      .select(col("a"), col("b"),
        TextAnalysis.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }
}
