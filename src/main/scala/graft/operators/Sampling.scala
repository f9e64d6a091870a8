package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything here is content-hash driven, not RNG driven: the same row
  * lands in the same sample/split on every run, on every cluster size,
  * with no shuffle (pure map-side filters) — the property that matters
  * when a 100 TB corpus is re-materialized incrementally.
  *
  * The hashes are `md5` hex prefixes, because cross-engine
  * reproducibility matters (md5 is bit-identical everywhere).
  */
object Sampling {

  /** Portable bucket in [0, 256) — first md5 hex byte of the key. */
  def md5Bucket256(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("int")

  /** The [[md5Bucket256]] cutoff [[deterministicSample]] uses for a
    * fraction — exposed so audits OF a sample (s25) share the exact
    * membership predicate instead of re-deriving the constant. */
  def bucketThreshold256(fraction: Double): Int = (fraction * 256).round.toInt

  /** Deterministic uniform sample of ~fraction of rows, keyed on
    * `key` (map-side filter; no shuffle, no RNG). */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(md5Bucket256(key) < bucketThreshold256(fraction))

  /** Portable uniform deviate in [0, 1): 32 bits of the md5 hex
    * prefix over 2³² — bit-identical in any engine with md5. */
  def md5Unit(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Weighted deterministic sampling: keep each row with probability
    * `weight` (clamped to [0, 1]) — quality-proportional downsampling
    * with the same replay-stability contract as
    * [[deterministicSample]]: the verdict depends only on (key,
    * weight), never on RNG state, partitioning, or cluster size. Pure
    * map-side filter, no shuffle. */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter(md5Unit(key) < least(lit(1.0), greatest(lit(0.0), weight)))

  /** Deterministic source-mixture downsampling to a global token
    * budget — the "training mix" step: given target mixture `weights`
    * per source and a total `budgetTokens`, each source keeps docs
    * with probability min(1, weight·budget / sourceTokens), so its
    * expected kept-token mass hits weight·budget. Sources absent from
    * `weights` are dropped. The verdict for a doc depends only on
    * (id, source totals), never RNG state or partitioning — re-runs
    * and incremental rebuilds keep identical docs.
    *
    * Scale shape: one map-side token count, one narrow per-source
    * aggregate, the ≤|sources| ratio table broadcast back, then a
    * map-side [[md5Unit]] filter and a second narrow aggregate.
    * Nothing corpus-sized shuffles or collects. */
  def tokenBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Double], budgetTokens: Long,
      roundTo: Int = 6): DataFrame =
    tokenBudgetMixFilter(
        docs.select(col(idCol).as("_id"), col(sourceCol).as("_src"),
          col(textCol)),
        "_id", textCol, "_src", weights, budgetTokens)
      .groupBy(col("_src"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("_tok")).as("n_tokens_kept"),
        round(first(col("_ratio")), roundTo).as("keep_ratio"))
      .withColumnRenamed("_src", sourceCol)

  /** Doc-level form of [[tokenBudgetMix]] — the composable stage a
    * pipeline feeds into packing: returns the KEPT rows with all of
    * `docs`' columns plus `_tok` (token count) and `_ratio` (the
    * source's keep ratio). Identical float-op sequence and deviate as
    * the aggregate form (which is now defined on top of this one). */
  def tokenBudgetMixFilter(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame =
    tokenBudgetMixFilterCounted(docs, idCol,
      TextAnalysis.tokenCount(col(textCol)).cast("long"),
      sourceCol, weights, budgetTokens)

  /** [[tokenBudgetMixFilter]] with the token counter INJECTED — `tok`
    * is whatever counter the pipeline budgets in (the whitespace
    * default above, or REAL subword counts from [[Bpe.encode]] as in
    * the c02 composition gate). Same float-op sequence, same deviate,
    * same broadcast-ratio shape; the budget just changes units with
    * the counter. */
  def tokenBudgetMixFilterCounted(docs: DataFrame, idCol: String,
      tok: Column, sourceCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0),
      "mixture weights must be non-negative")
    val base = docs.withColumn("_tok", tok)
    val wMap = map(weights.toSeq.flatMap {
      case (k, v) => Seq(lit(k), lit(v))
    }: _*)
    val ratios = base.groupBy(col(sourceCol).as("_rsrc"))
      .agg(sum(col("_tok")).as("_total"))
      .select(col("_rsrc"),
        // (w · budget) / total in exactly this association — the
        // oracle mirrors the float ops verbatim. A source whose token
        // sum is 0 (possible with injected counters that coalesce to
        // 0, e.g. BPE token sums — unlike whitespace counts, which
        // are ≥ 1) keeps everything: Spark's x/0 → Infinity and
        // DuckDB's 0-divisor semantics vary by version, so the edge
        // is pinned explicitly on BOTH sides rather than inherited.
        when(col("_total") === 0, lit(1.0)).otherwise(
          least(lit(1.0),
            coalesce(element_at(wMap, col("_rsrc")), lit(0.0)) *
              lit(budgetTokens.toDouble) / col("_total"))).as("_ratio"))
    base.join(broadcast(ratios), col(sourceCol) === col("_rsrc"))
      .filter(md5Unit(col(idCol)) < col("_ratio"))
      .drop("_rsrc")
  }

  /** Temperature-scaled source mixture — the multilingual-pretraining
    * reweighting (sampling probability ∝ mass^(1/T)): T = 1 reproduces
    * natural proportions, T → ∞ approaches uniform across sources,
    * so low-resource sources are upsampled relative to their raw share.
    * Given `temperature` and a global `budgetTokens`, source s with
    * token mass n_s gets target share p_s = n_s^(1/T) / Σ n_j^(1/T)
    * and keeps docs with probability min(1, p_s·budget / n_s) via the
    * [[md5Unit]] deviate — deterministic, replay-stable, unbiased in
    * expected token mass.
    *
    * Same scale shape as [[tokenBudgetMix]]: one narrow per-source
    * aggregate, a ≤|sources| share table broadcast back, one map-side
    * filter, one closing aggregate. Nothing corpus-sized shuffles.
    * Returns per source: docs/tokens kept and the integer-ppm share
    * and keep ratio (ppm so the audit hashes exactly across engines). */
  def temperatureBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, temperature: Double, budgetTokens: Long): DataFrame = {
    require(temperature > 0, s"temperature=$temperature must be positive")
    val base = docs.select(col(idCol).as("_id"), col(sourceCol).as("_src"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("_tok"))
    val masses = base.groupBy(col("_src"))
      .agg(sum(col("_tok")).as("_total"))
      .withColumn("_pw",
        pow(col("_total").cast("double"), lit(1.0 / temperature)))
    val sumPw = masses.agg(sum(col("_pw")).as("_sumpw"))
    // share and ratio in exactly this association — the oracle mirrors
    // the float ops verbatim. Residual caveat (the one float op NOT
    // order-pinned): Σ n_j^(1/T) is an unordered double reduction whose
    // accumulation order neither Spark nor DuckDB specifies, so "mirrors
    // verbatim" holds per-term but not for the sum's rounding path; the
    // ppm grain on every reported column absorbs any such ulp-level
    // difference (a flip would need two sources' shares within ~1e-12
    // of a 0.5-ppm boundary — astronomically unlikely, not impossible)
    val ratios = masses.crossJoin(broadcast(sumPw))
      .select(col("_src"), col("_total"),
        (col("_pw") / col("_sumpw")).as("_p"))
      .withColumn("_ratio",
        least(lit(1.0), col("_p") * lit(budgetTokens.toDouble) / col("_total")))
    base.join(broadcast(ratios.select(col("_src"), col("_p"), col("_ratio"))),
        Seq("_src"))
      .filter(md5Unit(col("_id")) < col("_ratio"))
      .groupBy(col("_src"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("_tok")).as("n_tokens_kept"),
        round(first(col("_p")) * 1e6).cast("long").as("target_share_ppm"),
        round(first(col("_ratio")) * 1e6).cast("long").as("keep_ratio_ppm"))
      .withColumnRenamed("_src", sourceCol)
  }

  /** Waterfilled mixture allocation — the cap-aware budget solver a
    * mixture plan actually needs: [[tokenBudgetMix]]'s proportional
    * targets w_j·B silently over-ask sources smaller than their target
    * (the keep ratio clamps at 1 and the surplus budget evaporates).
    * Waterfilling solves Σ min(m_j, w_j·λ) = B for the water level λ:
    * sources with m_j ≤ w_j·λ are CAPPED (fully taken) and their
    * unused share flows to the rest, so the budget is hit exactly
    * whenever Σm ≥ B. The closed form needs no iteration: sort by the
    * cap threshold m_j/w_j; source j is capped iff serving everyone at
    * λ = m_j/w_j still costs ≤ B (prefixM_j + ratio_j·sufW_j ≤ B, a
    * prefix/suffix-sum window over the sorted ≤|sources| rows); then
    * λ = (B − Σ_capped m) / Σ_uncapped w.
    *
    * Scale shape: one map-side token count + one narrow per-source
    * aggregate; everything after runs on the ≤|sources|-row table
    * (the unpartitioned windows are bounded by construction — same
    * contract as the s21/s24 ratio tables). Sources absent from
    * `weights` are excluded (allocation 0 by definition). Output per
    * weighted source: one-epoch mass, allocated tokens, capped flag
    * (0/1), and keep_ratio_ppm = alloc/m in ppm — exactly
    * maxEpochs·1e6 for capped sources (1e6 in the E = 1 plain
    * waterfill). All float ops are associated identically in the SQL
    * oracle. */
  /** Annealed temperature-mixture schedule: one [[temperatureBudgetMix]]
    * share/ratio table PER EPOCH, with the temperature decaying along
    * `temps` — the curriculum that starts training smoothed toward
    * uniform (high T upsamples low-resource sources) and anneals toward
    * natural proportions. This emits the PLAN (epoch × source →
    * target_share_ppm, keep_ratio_ppm), not the filtered docs; feed any
    * epoch's row set to the md5-deviate filter to materialize it.
    *
    * Scale shape: ONE corpus-sized token aggregate total — the per-
    * source mass table (|sources| rows) is computed once and every
    * epoch's shares derive from it with per-row pow/ratio arithmetic.
    * Float parity: callers interpolate the SAME 1/T doubles into any
    * external replay (the s29 oracle does); Σ pw keeps the s24
    * sum-order caveat, absorbed by the ppm grain. */
  def annealedMixtureSchedule(docs: DataFrame, idCol: String,
      textCol: String, sourceCol: String, temps: Seq[Double],
      budgetTokens: Long): DataFrame = {
    require(temps.nonEmpty && temps.forall(_ > 0),
      s"temps=$temps must all be positive")
    val base = docs.select(col(sourceCol).as("_src"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("_tok"))
    val masses = OpCaches.track(base.groupBy(col("_src"))
      .agg(sum(col("_tok")).as("_total")))
    val perEpoch = temps.zipWithIndex.map { case (t, e) =>
      val withPw = masses.withColumn("_pw",
        pow(col("_total").cast("double"), lit(1.0 / t)))
      val sumPw = withPw.agg(sum(col("_pw")).as("_sumpw"))
      withPw.crossJoin(broadcast(sumPw))
        .select(lit(e.toLong).as("epoch"), col("_src").as(sourceCol),
          round(lit(t) * 1e6).cast("long").as("temperature_ppm"),
          round(col("_pw") / col("_sumpw") * 1e6).cast("long")
            .as("target_share_ppm"),
          round(least(lit(1.0), col("_pw") / col("_sumpw") *
              lit(budgetTokens.toDouble) / col("_total")) * 1e6)
            .cast("long").as("keep_ratio_ppm"))
    }
    perEpoch.reduce(_ unionByName _)
  }

  def waterfillBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Double],
      budgetTokens: Long, maxEpochs: Int = 1): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "waterfill weights must be strictly positive")
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    // maxEpochs > 1 is the repetition-aware plan (Σ min(E·m_j, w_j·λ)
    // = B): a source may be seen up to E times before its cap bites,
    // the way every data-constrained pretraining mix repeats its
    // high-quality sources. E = 1 degenerates to the plain waterfill —
    // same caps, same λ, same ppm — so one solver serves both.
    require(maxEpochs >= 1, s"maxEpochs=$maxEpochs must be >= 1")
    val base = docs.select(col(sourceCol).as("_src"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("_tok"))
    val wMap = map(weights.toSeq.flatMap {
      case (k, v) => Seq(lit(k), lit(v))
    }: _*)
    val masses = base.groupBy(col("_src"))
      .agg(sum(col("_tok")).as("_m"))
      .withColumn("_w", element_at(wMap, col("_src")))
      .filter(col("_w").isNotNull)
      .withColumn("_c", col("_m") * lit(maxEpochs.toLong))
      .withColumn("_ratio", col("_c").cast("double") / col("_w"))
    val ord = Window.orderBy(col("_ratio"), col("_src"))
    val ranked = masses
      .withColumn("_prefixC", sum(col("_c")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_sufW", coalesce(sum(col("_w")).over(
        ord.rowsBetween(1, Window.unboundedFollowing)), lit(0.0)))
      .withColumn("_capped",
        col("_prefixC").cast("double") + col("_ratio") * col("_sufW") <=
          lit(budgetTokens.toDouble))
    val lam = ranked.agg(
        sum(when(col("_capped"), col("_c")).otherwise(lit(0L))).as("_cm"),
        sum(when(!col("_capped"), col("_w")).otherwise(lit(0.0))).as("_uw"))
      .select(when(col("_uw") > 0,
          (lit(budgetTokens.toDouble) - col("_cm").cast("double")) /
            col("_uw"))
        .otherwise(lit(0.0)) // all capped: λ is unused (ANSI-safe)
        .as("_lambda"))
    ranked.crossJoin(broadcast(lam))
      .select(col("_src").as(sourceCol),
        col("_m").as("n_tokens"),
        when(col("_capped"), col("_c"))
          .otherwise(round(col("_w") * col("_lambda")).cast("long"))
          .as("alloc_tokens"),
        col("_capped").cast("int").as("capped"),
        when(col("_capped"), lit(maxEpochs * 1000000L))
          .otherwise(round(col("_w") * col("_lambda") / col("_m") * 1e6)
            .cast("long"))
          .as("keep_ratio_ppm"))
  }

  /** Train/val/test assignment by hash bucket. Default 80/10/10. */
  def assignSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = md5Bucket256(key)
    val trainLim = (256 * trainPct) / 100
    val valLim = (256 * (trainPct + valPct)) / 100
    when(b < trainLim, "train").when(b < valLim, "val").otherwise("test")
  }

  /** Group-aware split assignment: every member of a group gets the
    * split of the group's REPRESENTATIVE (its minimum id), so a
    * duplicate cluster can never straddle train and held-out — the
    * constructive fix for the leakage [[s19-style audits]] detect
    * after the fact. Per-doc hashing (the naive [[assignSplit]]) puts
    * two copies of one document in different splits with probability
    * 2·p·(1−p); hashing the representative makes that probability 0
    * by construction.
    *
    * Scale shape: one exchange keyed on the group column to find each
    * group's min id, then an equi-join of that narrow (group, rep)
    * table back onto the rows — group keys and ids only, text never
    * shuffles when callers fingerprint first (the intended usage:
    * pass [[graft.operators.TextAnalysis.fingerprint]] output). */
  def groupAwareSplit(df: DataFrame, groupCol: Column, idCol: Column,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val reps = df.select(groupCol.as("_grp"), idCol.as("_id"))
      .groupBy(col("_grp")).agg(min(col("_id")).as("_rep"))
    df.withColumn("_grp", groupCol)
      .join(reps, "_grp")
      .withColumn("split", assignSplit(col("_rep"), trainPct, valPct))
      .drop("_grp", "_rep")
  }

  /** Per-stratum fractions (e.g. downsample dominant languages).
    * Missing strata keep everything. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      fractions: Map[String, Double]): DataFrame = {
    val lim = fractions.foldLeft(lit(256)) { case (acc, (s, f)) =>
      when(stratum === s, (f * 256).round.toInt).otherwise(acc)
    }
    df.filter(md5Bucket256(key) < lim)
  }

  /** Length-bucketed batching audit: assign every doc the smallest
    * bucket cap (from the sorted `caps` ladder, typically powers of
    * two) that holds its token count — docs over the top cap are
    * truncated to it — and report per-bucket document counts, token
    * sums, padding waste (cap − kept tokens, what padding to the
    * bucket boundary costs) and truncation loss. The audit a pipeline
    * runs before choosing sequence-length buckets: the ladder trades
    * padding (too few buckets) against batch fragmentation (too
    * many). Bucket assignment is an integer when-ladder — no floating
    * log2, so external engines reproduce it exactly. Map-side except
    * the ≤|caps|-row aggregate. */
  def lengthBucketAudit(df: DataFrame, tokCol: Column,
      caps: Seq[Int] = Seq(32, 64, 128, 256, 512)): DataFrame = {
    require(caps.nonEmpty && caps == caps.sorted.distinct && caps.head >= 1,
      s"caps=$caps must be a sorted ladder of distinct positive lengths")
    val top = caps.last
    val cap = caps.init.foldRight(lit(top.toLong): Column)((c, acc) =>
      when(tokCol <= c, lit(c.toLong)).otherwise(acc))
    val kept = least(tokCol, lit(top))
    df.select(cap.as("bucket_cap"), tokCol.as("_tok"), kept.as("_kept"))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_kept")).cast("long").as("kept_tokens"),
        sum(col("bucket_cap") - col("_kept")).cast("long").as("pad_tokens"),
        sum(greatest(col("_tok") - lit(top), lit(0L))).cast("long")
          .as("truncated_tokens"))
      .withColumn("pad_frac",
        round(col("pad_tokens").cast("double") /
          (col("n_docs") * col("bucket_cap")), 6))
  }

  /** Deterministic k-row uniform subset: order by content hash, take k.
    * (The distributed analogue of reservoir sampling with a fixed
    * seed; one shuffle of keys only if a total order is demanded —
    * Spark's TakeOrderedAndProject keeps it a per-partition top-k
    * merge, no full sort.) */
  def deterministicTakeK(df: DataFrame, key: Column, k: Int): DataFrame =
    df.orderBy(md5(key.cast("string"))).limit(k)

  /** Temperature-style source mixing: stratum `s` keeps fraction
    * `(n_min / n_s)^temp` — temp 1 balances all strata to the smallest,
    * temp 0 keeps everything, in between flattens the source
    * distribution the way LM-pretraining mixtures do. Map-side hash
    * filter against a per-stratum threshold computed from one tiny
    * counts aggregate (broadcast back); no RNG and no per-stratum sort.
    * With temp = 0.5 the fraction is a single sqrt — exactly rounded in
    * IEEE, so thresholds reproduce bit-identically across engines. */
  def temperatureMixture(df: DataFrame, stratum: Column, key: Column,
      temp: Double = 0.5): DataFrame = {
    val counts = df.groupBy(stratum.as("_stx")).agg(count(lit(1)).as("_n"))
    val nMin = counts.agg(min(col("_n"))).head().getLong(0)
    val frac = pow(lit(nMin.toDouble) / col("_n"), lit(temp))
    // clamp to ≥ 1: a stratum more than ~512× the smallest would round
    // to a zero keep-bucket and vanish; thin it to 1/256 instead
    val lim = counts.select(col("_stx"),
      greatest(round(frac * 256).cast("int"), lit(1)).as("_lim"))
    df.join(broadcast(lim), stratum === col("_stx"))
      .filter(md5Bucket256(key) < col("_lim"))
      .drop("_stx", "_lim")
  }

  /** Balance strata (e.g. languages) to the size of the smallest one:
    * rank rows within each stratum by md5(key) — portable across
    * engines and stable across runs — and keep the first `cap` per
    * stratum. The cap is one tiny aggregation (a row per stratum)
    * collapsed to a scalar; the ranking shuffles once on the stratum
    * key. Skewed strata are exactly the point here (that's why one
    * balances), so at extreme scale swap row_number for the md5-prefix
    * threshold trick of [[stratifiedSample]] with per-stratum
    * fractions cap/count — same result distributionally, no per-
    * stratum sort. */
  /** Per-group quality cap — the per-domain limit every web-corpus
    * pipeline applies (at most `k` docs per domain/source, best
    * first): rank inside each group by the caller's quality order and
    * keep ranks ≤ k.
    *
    * Scale shape: `row_number() <= k` compiles to WindowGroupLimit
    * with a Partial phase, so each map task forwards at most k rows
    * per group BEFORE the group-key exchange — a mega-domain with a
    * billion pages shuffles k rows per task, not a billion. Order
    * columns must be a total order within a group (tie-break on a
    * unique id) for deterministic output. */
  def perGroupCap(df: DataFrame, group: Column, k: Int, order: Column*): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order: _*)
    df.withColumn("_gr", row_number().over(w))
      .filter(col("_gr") <= k)
      .drop("_gr")
  }

  def balancedByStratum(df: DataFrame, stratum: Column, key: Column): DataFrame = {
    val cap = df.groupBy(stratum.as("_st")).agg(count(lit(1)).as("_n"))
      .agg(min(col("_n"))).head().getLong(0)
    val w = Window.partitionBy(stratum).orderBy(md5(key.cast("string")), key)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Deterministic corpus shuffle + shard assignment — the "global
    * shuffle before sharding to training files" step every pretraining
    * pipeline runs before writing the final dataset. Each row gets a
    * stable `shard` in [0, nShards) and a stable `pos` within its
    * shard, both pure functions of md5(key): re-running over an
    * incrementally grown corpus never moves an old row relative to
    * another old row.
    *
    * Scale shape: the md5-hash order IS the random permutation, so no
    * global sort ever happens — one hash exchange on the shard key,
    * then a per-shard (i.e. per-partition-group) sort to rank. At
    * 100 TB, nShards is the output-file count (thousands); each shard
    * sorts independently, and writers consume shards in parallel. */
  def shardAssignment(df: DataFrame, key: Column, nShards: Int,
      salt: String = ""): DataFrame = {
    // non-empty salt re-keys the whole permutation — one salt per
    // training epoch gives each epoch its own deterministic order
    // without RNG state (empty salt hashes the bare key, so existing
    // assignments are unchanged)
    val keyed = if (salt.isEmpty) key.cast("string")
      else concat(key.cast("string"), lit(":"), lit(salt))
    val h = md5(keyed)
    // 32 hash bits before the mod (not md5Bucket256's 8): a byte-wide
    // hash caps the scheme at 256 shards and skews any nShards that
    // does not divide 256 — at 2³² both artifacts are negligible for
    // any realistic output-file count
    val wide = conv(substring(h, 1, 8), 16, 10).cast("long")
    df.withColumn("shard", pmod(wide, lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(Window.partitionBy(col("shard"))
        .orderBy(h, key)).cast("long"))
  }

  /** Deterministic k-fold cross-validation assignment: fold = 32 md5
    * bits of the `:fold`-salted key mod k. A pure map-side function of
    * the key — re-runs and incremental corpus additions never move an
    * existing document between folds, and the salt decorrelates folds
    * from every other md5-keyed sampler (an unsalted hash would make
    * fold ≡ shard (mod gcd) against [[shardAssignment]]). 32 bits
    * before the mod keeps residue bias ≤ k/2³² for any practical k. */
  def kfoldAssignment(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2 (got $k)")
    val wide = conv(substring(
      md5(concat(key.cast("string"), lit(":fold"))), 1, 8), 16, 10)
      .cast("long")
    df.withColumn("fold", pmod(wide, lit(k.toLong)).cast("int"))
  }

  /** Contiguous global row ids [0, N) in the shuffled order, without a
    * global sort: [[shardAssignment]] ranks within shards, one bounded
    * driver-side aggregate collects the nShards shard sizes, and each
    * row's id is its shard's running offset plus its in-shard rank.
    * The total order is (shard, md5(key), key) — identical to what a
    * single global ORDER BY over the same keys would produce, at the
    * cost of one small count job instead of an all-data sort.
    *
    * This is the standard distributed id-assignment shape (the fix for
    * `zipWithIndex`/`monotonically_increasing_id` non-contiguity).
    * Offsets ride the plan as an nShards-wide literal array, so keep
    * nShards ≤ a few thousand (it is the output-file count). */
  def globalIds(df: DataFrame, key: Column, nShards: Int = 256): DataFrame = {
    require(nShards <= 4096,
      s"nShards=$nShards: offsets are plan literals, keep the shard count bounded")
    val sharded = shardAssignment(df, key, nShards)
    val counts = sharded.groupBy(col("shard")).agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val offsets = (0 until nShards)
      .scanLeft(0L)((acc, s) => acc + counts.getOrElse(s.toLong, 0L))
    val offCol = element_at(
      array(offsets.take(nShards).map(lit(_)): _*), col("shard") + 1)
    sharded.withColumn("gid", offCol + col("pos") - 1)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the log-likelihood ratio of its hashed-bigram
    * features under a target-domain vs raw-corpus bag-of-buckets
    * model. Bigrams hash into `buckets` cells (16 md5 bits → 65536 by
    * default, the paper's 10⁴–10⁵ range); both distributions get
    * add-`alpha` smoothing, so unseen-in-target buckets pull a doc's
    * weight down smoothly instead of to −∞. High weight = looks like
    * the target; the standard pretraining recipe then keeps the top
    * fraction by weight (deterministic here — rank, not Gumbel).
    *
    * Scale shape: one explode of the token stream into per-(doc,
    * bucket) counts, materialized once (cached via [[OpCaches]] — the
    * target-side filter would otherwise push below the aggregate and
    * fork a second full tokenize+hash scan); the raw and target bucket
    * distributions and the per-doc scoring all re-read that narrow
    * (id, bucket, count) frame, never the text. The bucket→log-ratio
    * table is ≤ `buckets` rows — it broadcasts to the scoring join,
    * and its two scalar totals ride a broadcast cross-join instead of
    * separate driver jobs. Nothing corpus-sized is collected, sorted
    * globally, or joined all-pairs. The cached triples are
    * token-count-bounded (~16 B/bigram); a 100 TB run would swap the
    * cache for a one-shot parquet checkpoint of the same frame and
    * keep every downstream shape unchanged. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 65536, alpha: Double = 0.5,
      roundTo: Int = 6): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets=$buckets: the ratio table broadcasts, keep it bounded")
    // 4 hex chars beyond the bucket width: pmod over a domain 16^4×
    // larger than `buckets` makes the non-divisor modulo bias ≤ 2e-5
    // (for non-power-of-16 counts like 1000, hashing exactly
    // ceil(log16) chars would over-represent low residues)
    val hexChars = math.min(15,
      math.max(1, math.ceil(math.log(buckets) / math.log(16)).toInt) + 4)
    val perDoc = OpCaches.track(docs
      .select(col(idCol).as("_id"), isTarget.as("_tgt"),
        explode(TextAnalysis.bigrams(col(textCol))).as("_bg"))
      .select(col("_id"), col("_tgt"),
        pmod(conv(substring(md5(concat_ws(" ", col("_bg.w1"), col("_bg.w2"))),
          1, hexChars), 16, 10).cast("long"), lit(buckets.toLong)).as("_b"))
      .groupBy(col("_id"), col("_tgt"), col("_b"))
      .agg(count(lit(1)).as("_c")))
    val raw = perDoc.groupBy(col("_b")).agg(sum(col("_c")).as("_craw"))
    val tgt = perDoc.filter(col("_tgt"))
      .groupBy(col("_b")).agg(sum(col("_c")).as("_ctgt"))
    val dist = raw.join(tgt, Seq("_b"), "left")
      .select(col("_b"), col("_craw"),
        coalesce(col("_ctgt"), lit(0L)).as("_ctgt"))
    val tot = dist.agg(sum(col("_craw")).as("_traw"), sum(col("_ctgt")).as("_ttgt"))
    val denom = alpha * buckets // exact in IEEE for power-of-two buckets
    val lr = dist.crossJoin(broadcast(tot))
      .select(col("_b"),
        (log((col("_ctgt") + alpha) / (col("_ttgt") + denom)) -
          log((col("_craw") + alpha) / (col("_traw") + denom))).as("_lr"))
    perDoc
      .join(broadcast(lr), Seq("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("_c")).as("n_grams"),
        // + 0.0 normalizes a -0.0 sum before rounding (t16/q40 rule)
        round(sum(col("_c") * col("_lr")) + lit(0.0), roundTo).as("dsir_logratio"))
      .withColumnRenamed("_id", idCol)
  }

  /** Curriculum-stage assignment: rank every row under the total order
    * `order` and cut the ranking into `stages` equal-count stages with
    * SQL ntile semantics (the first N mod k stages take the extra
    * row). The classic curriculum-learning setup orders by a
    * difficulty proxy (length, perplexity, quality score) and trains
    * stage by stage.
    *
    * Scale shape — ntile without ntile's global window: a global
    * `ntile(k) OVER (ORDER BY ...)` sorts ALL rows into one window
    * partition on one core. Here `repartitionByRange` on the order
    * keys gives sorted ranges, ranks come from a per-RANGE window, one
    * bounded driver aggregate collects the per-range counts (like
    * [[globalIds]]), and each row's global rank is its range's offset
    * plus its in-range rank. Stage boundaries are then plain integer
    * arithmetic on the rank. `order` must be a total order (append a
    * unique id) or ranks within ties follow partition order.
    *
    * Note floor(rank·k/N) is NOT ntile — it spreads the remainder
    * across stages (sizes 2,1,2,1 for N=6,k=4 vs ntile's 2,2,1,1) —
    * so the stage expression implements ntile's first-stages-bigger
    * rule exactly. */
  def curriculumStages(df: DataFrame, order: Seq[Column], stages: Int,
      nRanges: Int = 64): DataFrame = {
    require(stages >= 1, "stages >= 1")
    // locally checkpointed because the frame is executed TWICE — once
    // for the counts collect, once in the final job — and `_range`
    // comes from the physical partition id: repartitionByRange samples
    // its boundaries per execution, so an upstream shuffle's
    // nondeterministic row order could place a boundary row in range i
    // during the counts job and range i+1 in the final job, breaking
    // the offset arithmetic. A plain cache is NOT a guarantee — an
    // evicted partition recomputes through the range shuffle and can
    // re-sample boundaries. localCheckpoint truncates the lineage, so
    // a lost block fails the job loudly instead of silently shifting
    // rows between ranges (a 100 TB run wanting executor-loss
    // tolerance would swap this for a reliable checkpoint / parquet
    // write-and-reread, shapes unchanged).
    val ranged = df.repartitionByRange(nRanges, order: _*)
      .withColumn("_range", spark_partition_id())
      .localCheckpoint(false) // lazy: the counts collect below materializes it
    val w = Window.partitionBy(col("_range")).orderBy(order: _*)
    val withPos = ranged.withColumn("_pos", row_number().over(w).cast("long"))
    // range partitions are ordered by construction: every row in range
    // i precedes every row in range i+1 under `order`, so per-range
    // offsets compose a global rank (boundary placement — which is
    // sample-based — only moves rows BETWEEN ranges, never reorders)
    val counts = withPos.groupBy(col("_range")).agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val n = counts.values.sum
    val nParts = counts.keys.maxOption.map(_.toInt + 1).getOrElse(1)
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p.toLong, 0L))
    val offCol = element_at(
      array(offsets.take(nParts).map(lit(_)): _*), col("_range") + 1)
    val rank = offCol + col("_pos") - 1 // global rank in [0, N)
    // ntile: the first (N mod k) stages hold big = ceil(N/k) rows
    val k = stages.toLong
    val small = n / k
    val big = small + 1
    val m = n % k
    val cut = m * big // ranks below this sit in a big stage
    val stage =
      if (n == 0) lit(1L)
      else when(rank < cut, floor(rank / big) + 1)
        .otherwise(
          if (small == 0) lit(m) // degenerate: fewer rows than stages
          else floor((rank - cut) / small) + m + 1)
    withPos.withColumn("stage", stage.cast("long"))
      .drop("_range", "_pos")
  }
}
