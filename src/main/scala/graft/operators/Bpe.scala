package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding tokenizer — train + encode, the
  * first-class subword step every LLM data pipeline ends in (counting
  * whitespace tokens approximates budgets; packing and context-length
  * decisions want REAL token ids).
  *
  * Determinism contract (both engines replay it exactly):
  *   - pre-tokens are whitespace-split words restricted to
  *     `^[a-z0-9]+$` (makes every symbol SQL-literal-safe and keeps
  *     the two-space separator representation unambiguous; the corpus
  *     tables are lowercase words, so nothing real is dropped — a
  *     production vocabulary would widen the character class, which
  *     changes only the regex and the alphabet size);
  *   - training operates on the word-TYPE table (word, freq) — the
  *     classic BPE formulation — so corpus-sized work is exactly ONE
  *     (word)-keyed aggregate up front; every merge round touches only
  *     the vocabulary-sized type table;
  *   - merge selection is a TOTAL order: (pair count DESC, left ASC,
  *     right ASC) — ASCII-binary string comparison in both engines;
  *   - a word's segmentation state is its symbols each wrapped in
  *     single spaces (`"cat"` → `" c  a  t "`): applying merge (l, r)
  *     is then ONE literal `replace(state, " l  r ", " lr ")` — both
  *     engines scan left-to-right non-overlapping, which IS BPE's
  *     leftmost-first rule ("aaa" + (a,a) → ["aa","a"]);
  *   - applying each merge ONCE in rank order is a fixpoint: a merge
  *     creates adjacencies only WITH its new symbol (never between two
  *     older symbols), and no earlier merge's operands can equal a
  *     later merge's output, so no earlier pattern ever reappears.
  *     Encoding any word is therefore a stateless chain of `numMerges`
  *     literal replaces — no joins, no shuffles, no state.
  *
  * SCALE, honestly, per axis (the vocabulary axis is a tokenizer's
  * defining one — gated at 512 merges over a ≥5k-type fixture by
  * t39/t40, not just the 24-merge documents gate t34/t35):
  *   - encode plan depth: one expression chaining ALL merges breaks
  *     past a few hundred (whole-stage-codegen's 64 KB method limit,
  *     then the analyzer). [[encode]] therefore applies merges in
  *     chunks of `chunkEvery` with a `localCheckpoint` between chunks
  *     — and pays the chain once per word TYPE, not per token: the
  *     chunked fold runs over the distinct-word table (vocabulary-
  *     sized, so each checkpoint materializes kilobytes–megabytes, not
  *     the corpus), then one broadcast join maps corpus words to their
  *     segmentation. Plan depth is O(chunkEvery); values are provably
  *     unchanged (checkpoint placement never changes the arithmetic).
  *   - train barriers: greedy BPE is inherently sequential — one
  *     argmax per merge, so [[train]] is `numMerges` Spark jobs each
  *     ending in a 1-row collect (the model-parameter pattern). That
  *     constant is MEASURED (evidence/bpe_scale_r14.json: wall vs
  *     merge count at 64/128/256/512). At a production 32k–64k vocab
  *     the scheduling alone is hours, so the production path is
  *     [[trainCutoff]]: ONE corpus aggregate, keep the top `maxTypes`
  *     word types under the total (freq DESC, word) order, train
  *     locally on that bounded table ([[trainLocal]], property-pinned
  *     equal to the distributed trainer), broadcast the model. The
  *     cutoff changes the trained model iff a cut type would have
  *     contributed to some round's winning pair — the standard
  *     corpus-frequency-threshold tradeoff every production tokenizer
  *     makes, here with a deterministic boundary.
  *
  * 100 TB shape: train = one corpus aggregate + R vocabulary-sized
  * rounds (each one narrow groupBy on fixed-width pair keys + a 1-row
  * driver collect); encode = chunked type-table fold + broadcast
  * joins — corpus text never shuffles. The per-round train body is
  * plan-audited via [[IterTrace]] ("bpe_merge"), the per-chunk encode
  * body via "bpe_encode_chunk".
  */
object Bpe {

  /** Merge count above which [[train]] switches from the classic
    * full-recount round to the incremental carried-pair-count round —
    * the measured crossover band on the widest gated fixture (see the
    * threshold note inside [[train]]). Both sides produce the
    * IDENTICAL model (BpeSpec pins equality straddling the bound). */
  val IncrementalFrom: Int = 256

  /** A trained tokenizer: ordered merges + the base alphabet. Ids:
    * alphabet symbols get 0..|A|−1 in lexicographic order, merge of
    * rank r (1-based) gets |A|+r−1 — deterministic and replayable. */
  final case class Model(alphabet: Seq[String],
      merges: Seq[(String, String, Long)]) {
    require(alphabet == alphabet.sorted && alphabet.distinct == alphabet,
      "alphabet must be sorted and distinct")

    /** Token-id table. Two merges CAN concatenate to the same surface
      * string (e.g. (a,bc) after (ab,c) both yield "abc"); the table
      * keeps the SMALLEST id per token string so `vocab` stays a
      * FUNCTION — encode's id join emits exactly one row per token,
      * and the SQL oracles dedup identically (min(token_id) GROUP BY
      * token). */
    def vocab: Seq[(String, Long)] = {
      val raw = alphabet.zipWithIndex.map { case (s, i) => (s, i.toLong) } ++
        merges.zipWithIndex.map { case ((l, r, _), i) =>
          (l + r, (alphabet.size + i).toLong) }
      raw.groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_._2)
    }
  }

  /** Word-type table (word, freq) over the whitespace pre-tokens that
    * pass the `[a-z0-9]+` contract — the ONE corpus-sized pass. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** `"cat"` → `" c  a  t "`: every symbol wrapped in its own spaces,
    * so symbol boundaries stay unambiguous as merges build multi-char
    * symbols. */
  def initialState(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** One merge application — literal replace, leftmost-first
    * non-overlapping in both engines. */
  def applyMerge(state: Column, l: String, r: String): Column =
    replace(state, lit(s" $l  $r "), lit(s" $l$r "))

  /** Adjacent symbol pairs of each state, freq-weighted — the round's
    * counting frame. All native: split + posexplode + element_at. */
  private def pairFrame(states: DataFrame): DataFrame =
    weightedPairs(states.select(col("freq").as("w"), col("state").as("st")))
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("w")).as("cnt"))

  /** (w, st) rows → one (w, lhs, rhs) row per adjacent symbol pair of
    * `st` — the shared explode of [[pairFrame]] and the incremental
    * delta in [[train]], so both paths count with byte-identical
    * logic. All native: split + posexplode + element_at. */
  private def weightedPairs(rows: DataFrame): DataFrame =
    rows
      .select(col("w"),
        split(expr("substring(st, 2, length(st) - 2)"), "  ").as("syms"))
      .select(col("w"), col("syms"),
        posexplode(col("syms")).as(Seq("i", "lhs")))
      .filter(col("i") < size(col("syms")) - 1)
      .select(col("w"), col("lhs"),
        element_at(col("syms"), col("i") + 2).as("rhs"))

  /** Train `numMerges` merges over `docs(textCol)`. Returns the model;
    * the loop checkpoints the type-table state per round and routes
    * the round body through [[IterTrace]] like every other iterative
    * operator. Requires the corpus to still have at least one adjacent
    * pair at every round (i.e. `numMerges` below the corpus's merge
    * capacity Σ(|word|−1) over types) — a silent early stop would
    * diverge from the oracle's fixed unroll, so running dry throws.
    * Sequential by nature (see the object doc's train-barriers note);
    * [[trainCutoff]] is the bounded-driver-table production variant. */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, checkpointEvery: Int = 8,
      incrementalFrom: Int = IncrementalFrom): Model = {
    require(checkpointEvery >= 1, "checkpointEvery >= 1")
    val words = wordFreqs(docs, textCol).localCheckpoint(false) // lazy:
    // the alphabet collect below materializes it
    val alphabet = words
      .select(explode(split(col("word"), "")).as("sym"))
      .filter(col("sym") =!= "").distinct()
      .collect().map(_.getString(0)).toSeq.sorted // ≤36 by the pre-token contract
    // The merge loop plans in an ISOLATED cloned session ([[LoopSession]],
    // r16 — r15 set/restored the caller's conf, a foot-gun for any
    // concurrent caller) with AQE OFF and ONE shuffle partition: every
    // frame the loop plans is vocab-bounded BY CONSTRUCTION (the whole
    // point of training on the type table), so AQE's runtime
    // re-optimization — partition coalescing, skew splits — has
    // nothing to improve, while its stage-materialization scheduling
    // DOUBLES the per-merge barrier count (one submitMapStage job per
    // pair-count exchange + the collect job). The sequential barrier
    // constant is distributed BPE's bottleneck at ANY scale (measured:
    // evidence/bpe_scale_r*.json), so halving jobs-per-merge is a
    // scale win, not a local-mode tweak. Results are unaffected — AQE
    // never changes values. The pair aggregate's reduce side holds
    // DISTINCT adjacent pairs — O(vocab · avg word length) rows at ANY
    // corpus scale (the map side already partially aggregated per
    // partition), so one reduce task is the operator's correct
    // parallelism for its bounded cardinality, not a local-mode tune.
    // The corpus-sized wordFreqs aggregate above stays under the
    // caller's session and conf — only the loop's tiny plans opt out.
    val loop = LoopSession.cloned(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    var states = LoopSession.rebind(
        words.withColumn("state", initialState(col("word"))), loop)
      .localCheckpoint(false) // lazy: round 1's best-pair collect materializes it
    // INCREMENTAL pair counts above IncrementalFrom merges (r16):
    // merging (l, r) only changes the adjacent-pair counts of word
    // types whose state CONTAINS the pattern " l  r " — every other
    // state is untouched by the replace — so instead of re-exploding
    // and re-aggregating the FULL type table every round (the classic
    // formulation, O(total symbols) per merge), the loop carries the
    // (lhs, rhs, cnt) table forward and applies a signed delta over
    // the affected types only: each affected state contributes its
    // pre-merge pairs at −freq and its post-merge pairs at +freq, in
    // ONE scan (the two states ride an exploded 2-array so the
    // affected set is read once). The carried table equals
    // pairFrame(states) EXACTLY at every round by induction — integer
    // sums, same explode logic (weightedPairs), unaffected rows
    // contribute zero — so the argmax under (cnt DESC, lhs, rhs)
    // picks the identical merge; BpeSpec pins train == trainLocal at
    // counts on BOTH sides of the threshold and the t34/t35/t39
    // oracles replay the full-recount formulation against it.
    //
    // Why a threshold and not incremental-always (measured r16, same-
    // window pairs on the 18.9k-type wide fixture): the carried table
    // adds one union-aggregate + one checkpoint per merge, and below a
    // few hundred merges that constant outweighs the explode it saves
    // — 24 merges read 1.4× slower, 128/256 read 1.1–1.2× slower,
    // while 512 reads 0.90× and the gap widens with vocabulary (the
    // affected fraction per merge shrinks as Heaps-law type tables
    // grow, while the full explode stays O(all types · avg length)).
    // Small gated trains keep the classic recount; big production
    // vocabularies get the incremental table.
    val incremental = runsIncremental(numMerges, incrementalFrom)
    var counts =
      if (incremental) pairFrame(states).localCheckpoint(false) else null
    val merges = Seq.newBuilder[(String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      val best = (if (incremental) counts else pairFrame(states))
        .orderBy(desc("cnt"), col("lhs"), col("rhs"))
        .limit(1).collect() // 1 row: the model parameter, not data
      require(best.nonEmpty,
        s"BPE ran out of pairs at merge $rank/$numMerges — corpus too " +
          "small for the requested vocabulary")
      val (l, r, c) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((l, r, c))
      if (incremental) {
        // signed one-scan delta over the affected types (see note
        // above); the raw signed pair rows union straight into the
        // carried table ahead of ONE groupBy — a delta-side
        // pre-aggregate would add an exchange per merge for rows the
        // union agg absorbs anyway
        val aff = states.filter(col("state").contains(s" $l  $r "))
        val delta = weightedPairs(aff
            .select(col("freq"), explode(array(
              struct(col("state").as("st"), lit(-1L).as("sg")),
              struct(applyMerge(col("state"), l, r).as("st"),
                lit(1L).as("sg")))).as("x"))
            .select((col("freq") * col("x.sg")).as("w"), col("x.st").as("st")))
          .select(col("lhs"), col("rhs"), col("w").as("cnt"))
        counts = IterTrace.record("bpe_pair_delta", carryCounts(counts, delta))
          .localCheckpoint(false) // lazy: the NEXT round's argmax collect
          // materializes it (one job per merge, the sequential floor)
      }
      // Unlike the graph loops, the loop-carried state here is a PURE
      // PROJECTION (a chain of literal replaces over the checkpointed
      // type table) — no joins, no shuffles — so re-computing a few
      // chained replaces per round is cheaper than a materialization
      // round-trip per merge. Checkpoint every `checkpointEvery`
      // merges instead: plan depth stays bounded, per-round map work
      // stays O(checkpointEvery), and the per-merge barrier is the
      // (unavoidable) argmax collect alone. Values are unaffected —
      // checkpoint placement never changes the arithmetic.
      states = IterTrace.record("bpe_merge",
        states.withColumn("state", applyMerge(col("state"), l, r)))
      if (rank % checkpointEvery == 0) states = states.localCheckpoint(false)
      rank += 1
    }
    Model(alphabet, merges.result())
  }

  /** The threshold gate of [[train]]: the carried-pair-count loop runs
    * only above `incrementalFrom` merges. */
  private[graft] def runsIncremental(numMerges: Int, incrementalFrom: Int): Boolean =
    numMerges > incrementalFrom

  /** The carried (lhs, rhs, cnt) table plus a signed delta. A zeroed pair
    * has no occurrences, exactly pairFrame's "no row", so it is dropped;
    * a negative total means the delta was mis-scoped (the induction
    * invariant broke), so it fails the round instead of being dropped
    * with the zeros. */
  private[graft] def carryCounts(counts: DataFrame, delta: DataFrame): DataFrame =
    counts.unionByName(delta)
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("cnt")).as("cnt"))
      .filter(when(col("cnt") < 0, raise_error(concat(
          lit("BPE carried pair count went negative: ("), col("lhs"), lit(", "), col("rhs"),
          lit(") = "), col("cnt").cast("string"))))
        .otherwise(col("cnt")) > 0)

  /** Greedy BPE over an in-memory type table — the exact same total
    * order and leftmost-first application as [[train]] (BpeSpec pins
    * the two equal on the gated fixtures). Pure Scala: `numMerges`
    * rounds over `types.size` symbol vectors, no Spark jobs. */
  def trainLocal(types: Seq[(String, Long)], numMerges: Int): Model = {
    require(types.nonEmpty, "empty type table")
    val alphabet =
      types.flatMap(_._1.split("")).filter(_.nonEmpty).distinct.sorted
    var states = types.toVector.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty).toVector, f) }
    val merges = Seq.newBuilder[(String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      states.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE ran out of pairs at merge $rank/$numMerges — corpus too " +
          "small for the requested vocabulary")
      // argmax under (cnt DESC, lhs ASC, rhs ASC) — String compareTo is
      // the same binary order Spark/DuckDB use on [a-z0-9] symbols
      val ((l, r), c) = counts.minBy { case ((pl, pr), pc) =>
        (-pc, pl, pr) }
      merges += ((l, r, c))
      states = states.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2 // leftmost-first non-overlapping
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
      rank += 1
    }
    Model(alphabet, merges.result())
  }

  /** Production-scale training: ONE corpus aggregate, keep the top
    * `maxTypes` word types under the total (freq DESC, word ASC)
    * order, train locally on the bounded survivor table. At 32k–64k
    * merges the distributed trainer's one-job-per-merge scheduling is
    * hours of pure barriers; this path makes training driver-local
    * over a few-MB table while the corpus-sized work stays exactly one
    * Spark aggregate. The cutoff is part of the model's definition: a
    * cut type's pair counts no longer vote, so models coincide with
    * [[train]] exactly when `maxTypes` covers every type (pinned in
    * BpeSpec) and diverge only the standard frequency-threshold way
    * otherwise. */
  def trainCutoff(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, maxTypes: Int): Model = {
    require(maxTypes >= 1, "maxTypes >= 1")
    val types = wordFreqs(docs, textCol)
      .orderBy(desc("freq"), col("word")).limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    trainLocal(types, numMerges)
  }

  /** [[trainLocal]] over the COMPLETE type table, with a loud bound:
    * collects every word type (requiring there are at most `maxTypes`
    * of them — more fails with an error, never a silently different
    * model) and trains locally. Because every type votes, the result
    * is EXACTLY the distributed [[train]]'s model (the BpeSpec
    * property), at one Spark aggregate instead of one job barrier per
    * merge — the right trainer whenever the caller can assert a
    * driver-side bound on vocabulary size (closed fixture
    * vocabularies; any corpus whose type table is known-small).
    * Unbounded raw-crawl vocabularies use [[trainCutoff]] and accept
    * the standard frequency-threshold tradeoff instead. */
  def trainFullLocal(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, maxTypes: Int): Model = {
    require(maxTypes >= 1, "maxTypes >= 1")
    val rows = wordFreqs(docs, textCol)
      .orderBy(desc("freq"), col("word")).limit(maxTypes + 1)
      .collect()
    require(rows.length <= maxTypes,
      s"trainFullLocal: more than maxTypes=$maxTypes word types — the " +
        "full-equality bound does not hold; raise the bound or use " +
        "train/trainCutoff")
    trainLocal(rows.map(r => (r.getString(0), r.getLong(1))).toSeq,
      numMerges)
  }

  /** Segmentation state of ANY word under the trained merges — a
    * stateless chain of literal replaces in rank order (the fixpoint
    * argument in the object doc): pure map-side, fully codegen'd.
    * Plan-depth warning: fine to a few hundred merges; past that use
    * [[encode]]'s chunked type-table path. */
  def encodeState(word: Column, model: Model): Column =
    model.merges.foldLeft(initialState(word)) {
      case (acc, (l, r, _)) => applyMerge(acc, l, r) }

  /** Encode documents to token-id sequences: (id, pos, token,
    * token_id), pos = 0-based position over the doc's whole token
    * stream. Pre-tokens outside the `[a-z0-9]+` contract are dropped
    * exactly as training dropped them; a CONTRACT-PASSING word whose
    * segmentation contains a symbol missing from the trained vocab
    * (i.e. a character never seen in training) fails LOUDLY via
    * `raise_error` — silently dropping symbols while positions stay
    * dense would shorten token streams with no signal.
    *
    * Scale shape: ≤ `chunkEvery` merges inline as one codegen'd
    * replace chain (zero extra stages); above that the chain is paid
    * once per word TYPE — distinct words → chunked fold with a
    * `localCheckpoint` every `chunkEvery` merges (type-table-sized
    * materializations, plan depth O(chunkEvery)) → plain equi-join
    * back to corpus words on `word`. The type table grows as Heaps'
    * law on a raw crawl (10⁷–10⁸ types at 100 TB — far past any
    * broadcast), so the join carries NO broadcast hint: the corpus
    * side shuffles on `word` either way, and AQE still broadcasts
    * whenever the type table is genuinely small. Then posexplode +
    * one broadcast vocab join for ids (the MERGE vocab is
    * `merges`-bounded, a true model table); the only window is
    * per-document (never global). */
  def encode(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, model: Model, chunkEvery: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkEvery >= 1, "chunkEvery >= 1")
    val vocabDf = spark.createDataFrame(model.vocab)
      .toDF("token", "token_id")
    val w = Window.partitionBy(col(idCol)).orderBy(col("widx"), col("j"))
    val words = docs
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("widx", "word")))
      .filter(col("word").rlike("^[a-z0-9]+$"))
    val staged =
      if (model.merges.size <= chunkEvery)
        words.withColumn("_st", encodeState(col("word"), model))
      else {
        // LAZY checkpoints (eager = false): each chunk's checkpoint
        // still bounds plan depth at O(chunkEvery), but an EAGER one
        // ran a scheduled job per chunk over the type table before the
        // caller's action even started — 8 pre-jobs at 512 merges.
        // Lazy folds every chunk materialization into the caller's own
        // action; values are unchanged (checkpoint placement never
        // changes the arithmetic).
        var types = words.select(col("word")).distinct()
          .withColumn("_st", initialState(col("word")))
          .localCheckpoint(false)
        model.merges.grouped(chunkEvery).foreach { chunk =>
          types = IterTrace.record("bpe_encode_chunk",
            types.withColumn("_st",
              chunk.foldLeft(col("_st")) { case (acc, (l, r, _)) =>
                applyMerge(acc, l, r) }))
            .localCheckpoint(false)
        }
        words.join(types, Seq("word"))
      }
    staged
      .select(col(idCol), col("widx"),
        posexplode(split(expr("substring(_st, 2, length(_st) - 2)"), "  "))
          .as(Seq("j", "token")))
      .join(broadcast(vocabDf), Seq("token"), "left")
      .withColumn("token_id",
        when(col("token_id").isNull,
          raise_error(concat(
            lit("Bpe.encode: symbol outside the trained vocabulary: '"),
            col("token"), lit("'"))))
          .otherwise(col("token_id")))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select(col(idCol), col("pos"), col("token"), col("token_id"))
  }
}
