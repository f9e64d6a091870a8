package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state beyond windowed aggregation
  * (`flatMapGroupsWithState`): per-key logic that windows can't
  * express. The reference has no analogue — this is north-star
  * streaming capability on top of the playback source.
  */
object StatefulOps {

  final case class Keyed(key: String, tsMicros: Long, value: Double)
  final case class Gap(key: String, fromMicros: Long, toMicros: Long, gapMicros: Long)

  /** Shared idle-eviction plumbing for the event-time stateful twins.
    *
    * Every `flatMapGroupsWithState` op here holds O(1) state PER KEY —
    * but at production stream scale the KEY population itself grows
    * with stream lifetime (every sensor ever seen, every source ever
    * crawled), so "O(1) per key, NoTimeout" is still unbounded state.
    * When `idleHorizonMicros` is set, the op attaches an event-time
    * watermark (derived from the row's `tsMicros`, lateness bound
    * `delay`) and registers an `EventTimeTimeout` at
    * `last event + horizon`: once the watermark passes it, the key's
    * timeout callback fires, the op emits whatever its close-out
    * contract says (documented per op), and the state store DROPS the
    * key. A later event for that key re-opens it fresh, exactly as if
    * it had never been seen — the re-open semantics each op documents.
    * `None` (the default) keeps the original run-forever contract for
    * bounded key populations. */
  /** NOTE the two contracts enabling eviction buys into:
    *
    *  1. REAL event times. A row with `tsMicros <= 0` is ALWAYS late
    *     under any advanced watermark, so Spark would drop it before
    *     the stateful operator runs — silent total data loss for an
    *     adapter that stamped `lit(0)` (e.g. [[sourcedDocs]] without a
    *     `tsCol`). The guard below turns that silence into a loud
    *     per-row error.
    *  2. Watermark late-row filtering. With eviction on, rows older
    *     than `max seen event time − delay` are DISCARDED before the
    *     operator, so the NoTimeout ops' documented late-data
    *     behaviors (ignore / degrade gracefully) become "row never
    *     seen". The default `delay = "0 seconds"` is the most
    *     aggressive setting; size `delay` to the stream's real
    *     disorder bound when late data must still reach the op. */
  private def withEventTimeWatermark[T](input: Dataset[T], delay: String)(
      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    input.withColumn("_et",
        when(col("tsMicros") > 0, timestamp_micros(col("tsMicros")))
          .otherwise(raise_error(concat(
            lit("idle eviction needs real event times: tsMicros="),
            col("tsMicros").cast("string"),
            lit(" would always be late under the watermark and vanish " +
              "silently (stream built without a tsCol?)")))))
      .withWatermark("_et", delay).as[T]

  /** Registers the idle timeout for a key whose latest event time is
    * `lastEventMicros`: watermark past `last + horizon` ⇒ evict. The
    * stamp is clamped above the current watermark (Spark rejects a
    * timeout already in the past — a key processing late data would
    * otherwise crash the query instead of evicting on the next tick). */
  private def armIdleTimeout(state: GroupState[_], lastEventMicros: Long,
      horizonMicros: Long): Unit =
    state.setTimeoutTimestamp(math.max(
      Math.addExact(lastEventMicros / 1000L, horizonMicros / 1000L),
      state.getCurrentWatermarkMs() + 1))

  /** The one keyed-state loop of the event-time stateful operators
    * below: groups `input` by `keyOf` and runs the operator's per-key
    * logic under the idle-eviction protocol above. A key whose timeout
    * fires emits `closeOut(key, state)` (nothing by default) and its
    * state is removed. Otherwise `step(key, rows, state)` returns the
    * rows to emit, the state to store (`None` stores and arms nothing)
    * and the event time the idle timeout arms from (`Long.MinValue`:
    * do not arm). */
  private def perKey[K, V: Encoder, S: Encoder, O: Encoder](input: Dataset[V],
      keyOf: V => K, keyEnc: Encoder[K], idleHorizonMicros: Option[Long], delay: String,
      closeOut: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty)(
      step: (K, Iterator[V], Option[S]) => (Iterator[O], Option[S], Long)): Dataset[O] = {
    val (src, timeoutConf) = idleHorizonMicros match {
      case Some(h) =>
        require(h > 0, s"idleHorizonMicros=$h must be positive")
        (withEventTimeWatermark(input, delay), GroupStateTimeout.EventTimeTimeout)
      case None => (input, GroupStateTimeout.NoTimeout)
    }
    src.groupByKey(keyOf)(keyEnc).flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
      (key: K, rows: Iterator[V], gs: GroupState[S]) =>
        if (gs.hasTimedOut) {
          val out = closeOut(key, gs.get)
          gs.remove()
          out
        } else {
          val (out, next, armAt) = step(key, rows, gs.getOption)
          next.foreach { s =>
            gs.update(s)
            if (armAt != Long.MinValue)
              idleHorizonMicros.foreach(h => armIdleTimeout(gs, armAt, h))
          }
          out
        })
  }

  /** Emits a [[Gap]] whenever consecutive readings of a key are more
    * than `maxGapMicros` apart — the sensor-dropout detector a playback
    * consumer wants. State per key = last seen timestamp.
    *
    * Idle eviction (`idleHorizonMicros`): a key silent past the
    * horizon is dropped with nothing to emit (the dropout that never
    * ends is a decommissioned sensor, not a gap with a known end); its
    * next reading re-opens it as if first-seen, so the FIRST
    * post-horizon reading never back-reports the idle span as a gap.
    * Size the horizon well above `maxGapMicros` — a horizon below it
    * would evict keys mid-gap and silently swallow real dropouts. */
  def gapDetect(input: Dataset[Keyed], maxGapMicros: Long,
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[Gap] = {
    implicit val gapEnc = Encoders.product[Gap]
    implicit val longEnc = Encoders.scalaLong
    implicit val keyedEnc = Encoders.product[Keyed]
    perKey[String, Keyed, Long, Gap](input, _.key, Encoders.STRING, idleHorizonMicros,
        delay) { (key, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => r.tsMicros)
      var last = prev.getOrElse(Long.MinValue)
      val gaps = Seq.newBuilder[Gap]
      sorted.foreach { r =>
        if (last != Long.MinValue && r.tsMicros - last > maxGapMicros)
          gaps += Gap(key, last, r.tsMicros, r.tsMicros - last)
        last = math.max(last, r.tsMicros)
      }
      (gaps.result().iterator, Some(last).filter(_ != Long.MinValue), last)
    }
  }

  /** Adapter: a playback readings frame → [[Keyed]] dataset. The
    * timestamp is cast to the instant type before `unix_micros` so an
    * NTZ-typed source frame (plain `timestamp[us]` parquet) analyzes —
    * a no-op cast for TimestampType, and micros-identical for NTZ under
    * the session's pinned-UTC timezone (mirrors [[graft.Tables]]). */
  def keyed(df: DataFrame, keyCol: String, tsCol: String, valueCol: String): Dataset[Keyed] = {
    implicit val enc = Encoders.product[Keyed]
    df.select(
        col(keyCol).cast("string").as("key"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsMicros"),
        col(valueCol).cast("double").as("value"))
      .as[Keyed]
  }

  /** Streaming exact dedup: drop rows whose `textCol` content
    * fingerprint was already seen, with state bounded by the event-time
    * watermark on `tsCol` (duplicates arriving later than `delay` after
    * the original may re-emit — the standard watermarked-dedup
    * contract). `dropDuplicatesWithinWatermark` is the variant that
    * actually evicts state once the watermark passes a fingerprint's
    * event time — plain `dropDuplicates` on a non-watermark key keeps
    * state forever (unbounded growth on a long-running stream). Keys
    * the state on the 128-bit fingerprint, never the document text, so
    * state size per doc is constant. The streaming twin of
    * [[graft.operators.Dedup.exactKeepFirst]] with one contract
    * difference: the survivor of a duplicate group is the first row
    * SEEN by the stateful operator (stable per run, but across
    * parallel partitions not necessarily the earliest event time),
    * where the batch operator picks the minimum order key. The kept
    * CONTENT set is identical (StatefulOpsSpec pins the equivalence
    * end-to-end). */
  def streamingDedup(df: DataFrame, textCol: String, tsCol: String,
      delay: String): DataFrame =
    df.withColumn("_fp", graft.operators.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming incremental dedup against a static, already-curated
    * history — the live-ingest twin of
    * [[graft.operators.Dedup.incrementalDedup]]: each micro-batch
    * drops rows whose content fingerprint exists in `history`
    * (stream-static left-anti join; Spark re-resolves the static
    * side's files per micro-batch, so a periodically-rewritten
    * history snapshot is picked up without restarting the query),
    * then drops in-stream repeats within the watermark. History
    * reduces to distinct 128-bit fingerprints before the join, and
    * the per-batch stream side is small by construction — the
    * asymmetric-join case stream-static planning is built for. */
  def streamingIncrementalDedup(stream: DataFrame, history: DataFrame,
      textCol: String, tsCol: String, delay: String): DataFrame = {
    val fp = graft.operators.TextAnalysis.fingerprint(col(textCol))
    val histFp = history.select(fp.as("_hist_fp")).distinct()
    val newOnly = stream.join(histFp, fp === col("_hist_fp"), "left_anti")
    streamingDedup(newOnly, textCol, tsCol, delay)
  }

  /** Streaming benchmark-decontamination flag — the live-ingest twin
    * of [[graft.operators.Dedup.contaminatedBloom]]: the eval set's
    * distinct shingles build one Bloom filter at query-definition time
    * (a batch job over the SMALL benchmark corpus), the serialized
    * bytes ride the streaming plan as a literal, and every streamed
    * document gets a `maybe_contaminated` column — true iff any of its
    * `shingleK`-word shingles hits the filter. Pure map-side scalar
    * work: no explode, no shuffle, no state store, so it adds nothing
    * to checkpoint size or watermark latency at any corpus rate.
    *
    * Contract is the Bloom's: every true leak is flagged (no false
    * negatives — the property that matters for decontamination); a
    * clean document is flagged with probability ≤ ~fpp per shingle.
    * Callers route flagged docs to the exact batch verify
    * ([[graft.operators.Dedup.contaminated]]) instead of dropping them
    * blind; the unflagged stream needs no second look. */
  def contaminationFlag(stream: DataFrame, eval: DataFrame, textCol: String,
      shingleK: Int = 5, expectedEvalShingles: Long = -1L): DataFrame = {
    val bloom = graft.operators.Dedup.evalShingleBloom(
      eval, textCol, shingleK, expectedEvalShingles)
    stream.withColumn("maybe_contaminated",
      coalesce(
        graft.operators.Dedup.mightShareShingle(bloom, col(textCol), shingleK),
        lit(false)))
  }

  /** Streaming sessionization via the native `session_window`
    * aggregate — the streaming twin of the q49 registry entry:
    * byte-identical groupBy/agg code, plus the event-time watermark
    * that lets the state store close a session once the watermark
    * passes its end. Append mode emits each (key, session) exactly
    * once, when it closes. Per-open-session state is three counters
    * regardless of session length, and sessions merge across
    * micro-batches (an event bridging two open windows collapses them)
    * — semantics a hand-rolled lag/running-sum pipeline can't replay
    * incrementally. StatefulOpsSpec pins output parity against the
    * batch q49 aggregation over the same rows. */
  def streamingSessionize(df: DataFrame, keyCol: String, tsCol: String,
      gap: String, delay: String): DataFrame =
    // Normalize an NTZ event-time column to the instant type up front
    // (no-op for TimestampType; micros-identical for NTZ under the
    // pinned-UTC session tz) so unix_micros below always analyzes.
    df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col(tsCol))).as("start_us"),
        max(unix_micros(col(tsCol))).as("end_us"))
      .select(col(keyCol), col("start_us"), col("end_us"), col("n_events"))

  /** Streaming OHLC candles — the live twin of the q52 batch roll-up:
    * per (key, tumbling event-time window), open/close picked by
    * min_by/max_by over the zero-padded "epoch_us:id" ordering string
    * (deterministic under timestamp ties, and the same composite-key
    * encoding the batch query and its SQL oracle use) plus the range
    * extremes. One watermarked windowed aggregate: per-open-candle
    * state is five scalars regardless of event rate, append mode emits
    * each candle exactly once when the watermark closes its window.
    * The NTZ cast at entry mirrors [[graft.Tables]]. */
  def streamingOhlc(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, windowDur: String,
      delay: String): DataFrame = {
    val ord = graft.operators.TimestampStyles.eventOrderKey(col(tsCol), col(idCol))
    df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, delay)
      .groupBy(col(keyCol), window(col(tsCol), windowDur).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col(valueCol), ord).as("open_value"),
        max_by(col(valueCol), ord).as("close_value"),
        min(col(valueCol)).as("low"),
        max(col(valueCol)).as("high"))
      .select(col(keyCol), col("w.start").as("window_start"),
        col("n_events"), col("open_value"), col("close_value"),
        col("low"), col("high"))
  }

  final case class Streak(key: String, startDay: Long, endDay: Long, len: Long)

  /** Streaming activity streaks — the live twin of the q53 batch
    * gaps-and-islands query: per key, maximal runs of consecutive
    * calendar days with at least one event. State per key is two day
    * ordinals (current streak start + last active day) regardless of
    * streak length or event rate. A streak EMITS when it closes — the
    * first event on a day ≥ lastDay + 2 proves the run ended at
    * lastDay (append semantics; the still-open tail streak lives only
    * in state, exactly the part a batch re-run over the full history
    * would still be free to extend).
    *
    * Ordering contract: per key, event DAYS must arrive non-decreasing
    * across micro-batches (the playback/replay order; within a batch
    * any order is fine — the group sorts). A day earlier than the
    * current streak's last day is ignored rather than re-opening a
    * closed streak, so late data degrades to under-counting gaps,
    * never to corrupt state. StatefulOpsSpec pins closed-streak parity
    * against the batch q53 islands over the same rows.
    *
    * Idle eviction (`idleHorizonMicros`): a key idle past the horizon
    * EMITS its open streak as closed (silence that long proves the
    * run ended on its last active day — the same conclusion any later
    * event would have forced) and is dropped; the next event opens a
    * fresh streak. A horizon under ~2 days would close streaks the
    * next day's event was about to extend, so size it in days. */
  def streamingStreaks(input: Dataset[Keyed],
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[Streak] = {
    implicit val streakEnc = Encoders.product[Streak]
    // state = (streak start day, last active day), as a plain tuple:
    // a non-public case class breaks the state encoder's codegen
    implicit val stEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyedEnc = Encoders.product[Keyed]
    val microsPerDay = 86400L * 1000000L
    perKey[String, Keyed, (Long, Long), Streak](input, _.key, Encoders.STRING,
        idleHorizonMicros, delay,
        // horizon of silence ⇒ the open streak is finished: emit it
        // closed, then drop the key (emit-and-drop close-out)
        closeOut = { case (key, (start, lastDay)) =>
          Iterator.single(Streak(key, start, lastDay, lastDay - start + 1)) }) {
      (key, rows, prev) =>
        val days = rows.map(r => Math.floorDiv(r.tsMicros, microsPerDay))
          .toSeq.distinct.sorted
        val closed = Seq.newBuilder[Streak]
        var st = prev.orNull
        days.foreach { d =>
          if (st == null) st = (d, d)
          else if (d > st._2 + 1) {
            closed += Streak(key, st._1, st._2, st._2 - st._1 + 1)
            st = (d, d)
          } else if (d > st._2) st = (st._1, d)
          // d <= last active day: already counted (or late) — ignore
        }
        // anchor at the END of the last active day, not its
        // start: day-start anchoring would shorten the horizon
        // by up to ~24h of real silence (an event at 23:59 of
        // day D armed from D_start could close a streak the
        // day-D+1 event was about to extend). End-of-day errs
        // ≤1 day LONGER than configured, never shorter.
        (closed.result().iterator, Option(st),
          if (st == null) Long.MinValue else (st._2 + 1) * microsPerDay)
    }
  }

  final case class SourcedDoc(source: String, docId: Long, nTokens: Long,
    tsMicros: Long = 0L)
  final case class BudgetedDoc(source: String, docId: Long, nTokens: Long,
    budgetUsed: Long)

  /** Adapter: a streaming documents frame → [[SourcedDoc]] dataset with
    * the library's standard whitespace token count computed map-side.
    * `tsCol` (ingest event time) is required only when the budget op
    * runs with idle eviction; the default stamps 0.
    *
    * Id handling: a numeric `idCol` casts directly; a STRING id — the
    * canonical corpus readers' content-addressed md5 `doc_id` — maps
    * through xxhash64 to a stable numeric id instead of casting (a
    * hex digest cast to long is null, which would throw from the
    * non-nullable field at runtime — a trap the r12 pipeline test hit;
    * the hash keeps ids deterministic and content-derived). */
  def sourcedDocs(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, tsCol: Option[String] = None): Dataset[SourcedDoc] = {
    implicit val enc = Encoders.product[SourcedDoc]
    val idExpr = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => xxhash64(col(idCol))
      case _ => col(idCol).cast("long")
    }
    df.select(col(sourceCol).cast("string").as("source"),
        idExpr.as("docId"),
        graft.operators.TextAnalysis.tokenCount(col(textCol))
          .cast("long").as("nTokens"),
        tsCol.map(c => unix_micros(col(c).cast("timestamp")))
          .getOrElse(lit(0L)).as("tsMicros"))
      .as[SourcedDoc]
  }

  /** Streaming per-source token-budget admission — the live-ingest twin
    * of the batch budget samplers (s16/s21): each arriving doc is
    * admitted while its source's CUMULATIVE token count stays within
    * `budgetTokens`; once a source's budget is exhausted every later
    * doc from it drops. State per source is one long (tokens used), so
    * state size is |sources| regardless of stream length — this is the
    * "stop ingesting a source once we have enough" control a live
    * crawl pipeline runs, where the batch samplers' keep-ratio
    * thinning needs totals that don't exist yet mid-stream.
    *
    * Determinism contract: within a micro-batch, docs admit in docId
    * order (the group sorts); across batches, admission follows
    * arrival order — replaying the same batch sequence reproduces the
    * same admitted set exactly. A doc larger than the remaining budget
    * is SKIPPED (not truncated) and the budget stays available for
    * later smaller docs — the knapsack-greedy semantics budget-capped
    * ingestion wants. */
  /** Idle eviction (`idleHorizonMicros`): a source whose ingest event
    * time (`tsMicros`, stamped by [[sourcedDocs]]' `tsCol`) goes
    * silent past the horizon is dropped and its budget RE-OPENS if it
    * ever returns. That is the right contract for churning crawl
    * fleets (state stays O(active sources), and a long-dormant source
    * returning is operationally a new source); it is the WRONG
    * contract for a lifetime per-source cap, where the default `None`
    * (state for the source's whole life) remains correct. Event-time,
    * not wall-clock: replaying the same batches evicts identically —
    * processing-time timeouts would not (and they force continuous
    * empty-batch scheduling besides). */
  def streamingTokenBudget(input: Dataset[SourcedDoc],
      budgetTokens: Long,
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[BudgetedDoc] = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    implicit val outEnc = Encoders.product[BudgetedDoc]
    implicit val stEnc = Encoders.scalaLong
    implicit val inEnc = Encoders.product[SourcedDoc]
    perKey[String, SourcedDoc, Long, BudgetedDoc](input, _.source, Encoders.STRING,
        idleHorizonMicros, delay) { (source, rows, prev) =>
      var used = prev.getOrElse(0L)
      val admitted = Seq.newBuilder[BudgetedDoc]
      var lastTs = Long.MinValue
      rows.toSeq.sortBy(_.docId).foreach { d =>
        lastTs = math.max(lastTs, d.tsMicros)
        if (used + d.nTokens <= budgetTokens) {
          used += d.nTokens
          admitted += BudgetedDoc(source, d.docId, d.nTokens, used)
        } // over budget: skip, leave remaining budget for smaller docs
      }
      (admitted.result().iterator, Some(used), lastTs)
    }
  }

  /** Watermarked stream-stream interval join: each left row pairs with
    * same-key right rows whose event time falls in
    * [left.ts − lookback, left.ts + lookahead] — the streaming twin of
    * the batch as-of/range joins (q26/q28), e.g. clicks joined to the
    * errors that follow them within a minute.
    *
    * Both sides carry event-time watermarks AND the join condition
    * bounds the two event times against each other — exactly the two
    * ingredients Structured Streaming needs to compute a state eviction
    * horizon for BOTH sides; without the time bound the join state
    * grows forever. Each side's buffered state is then
    * O(rate × (delay + interval width)), independent of stream length.
    *
    * `leftTsCol` and `rightTsCol` must be distinct names (the joined
    * schema keeps both); the join key column is emitted once. Inner
    * join only — it emits as soon as a match arrives, needs no extra
    * watermark semantics, and is the shape outer interval joins build
    * on. */
  final case class Scd2Event(key: String, tsMicros: Long, eventId: Long,
    state: String)
  final case class Scd2Interval(key: String, version: Long, state: String,
    validFromUs: Long, validToUs: Long, nEvents: Long)

  /** Streaming SCD2 compaction — the incremental twin of the batch
    * q57 history build: per-key state is the OPEN interval (version,
    * state, valid_from, event count); a state-changing event closes it
    * (emitting a [[Scd2Interval]] whose valid_to is the new run's
    * valid_from, exactly the batch contract) and opens the next
    * version. Events repeat-confirming the current state only bump the
    * count — a changelog compacts to |runs| emitted rows however long
    * it streams, with O(1) state per key.
    *
    * Rows sort by the same (ts, event_id) total order q57 uses, within
    * each micro-batch; like [[streamingStreaks]], cross-batch
    * out-of-order arrival is the playback source's ordering contract,
    * not re-checked here. A row carrying the ts boundary of the open
    * interval but an EARLIER order key than anything seen would need
    * retraction semantics no append-mode stream offers — q57 remains
    * the authority for reprocessing history; this operator is for
    * tailing it forward. StatefulOpsSpec pins closed-interval parity
    * against the batch run-collapse over the same rows. */
  /** Idle eviction (`idleHorizonMicros`): a key idle past the horizon
    * EMITS its open interval close-out with `validToUs = Long.MaxValue`
    * — the open-ended marker meaning "still current when the key's
    * history epoch ended" — and drops. A post-horizon event starts a
    * NEW history epoch at version 1: the two epochs concatenate by
    * (key, valid_from) order, and the MaxValue sentinel marks every
    * epoch boundary, so a consumer can distinguish horizon-closed
    * intervals from event-closed ones. q57 remains the authority for
    * reprocessing full history. */
  def streamingScd2(input: Dataset[Scd2Event],
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[Scd2Interval] = {
    implicit val outEnc = Encoders.product[Scd2Interval]
    // open interval as a plain tuple (see streamingStreaks): version,
    // state label, valid_from micros, events-in-run
    implicit val stEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    implicit val evEnc = Encoders.product[Scd2Event]
    perKey[String, Scd2Event, (Long, String, Long, Long), Scd2Interval](input, _.key,
        Encoders.STRING, idleHorizonMicros, delay,
        // valid_to = Long.MaxValue: the open-ended close-out marker
        closeOut = (key, open) => Iterator.single(Scd2Interval(key, open._1, open._2,
          open._3, Long.MaxValue, open._4))) {
      (key, rows, prev) =>
        val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
        val closed = Seq.newBuilder[Scd2Interval]
        var open = prev.orNull
        var lastTs = Long.MinValue
        sorted.foreach { r =>
          lastTs = math.max(lastTs, r.tsMicros)
          if (open == null) open = (1L, r.state, r.tsMicros, 1L)
          else if (r.state == open._2)
            open = open.copy(_4 = open._4 + 1)
          else {
            closed += Scd2Interval(key, open._1, open._2, open._3,
              r.tsMicros, open._4)
            open = (open._1 + 1, r.state, r.tsMicros, 1L)
          }
        }
        (closed.result().iterator, Option(open), lastTs)
    }
  }

  final case class TouchEvent(key: String, tsMicros: Long, eventId: Long,
    eventType: String, value: Double)
  final case class Attribution(key: String, tsMicros: Long, eventId: Long,
    firstTouch: String, lastTouch: String, cents: Long)

  /** Streaming first-/last-touch attribution — the incremental twin of
    * the batch q59: per-key state is just (first pre-purchase touch,
    * most recent pre-purchase touch); a purchase event emits an
    * [[Attribution]] row crediting both (in exact integer cents),
    * touchless purchases credit "direct". Purchases never update the
    * touch state, mirroring the batch windows' strict
    * rows-before-current frame over non-purchase events. O(1) state
    * per key — two channel labels — however long the stream runs;
    * downstream aggregation by (model, channel) is an ordinary
    * streaming groupBy. Same in-batch (ts, event_id) ordering contract
    * as [[streamingScd2]]. */
  /** Idle eviction (`idleHorizonMicros`): touch state for a key idle
    * past the horizon is dropped with nothing to emit — the horizon IS
    * the attribution window (touches older than it no longer deserve
    * credit, the standard lookback-window contract). A post-horizon
    * purchase therefore credits "direct", exactly as if the shopper
    * had never been seen. */
  def streamingAttribution(input: Dataset[TouchEvent],
      purchaseType: String = "purchase",
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[Attribution] = {
    implicit val outEnc = Encoders.product[Attribution]
    implicit val stEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val evEnc = Encoders.product[TouchEvent]
    perKey[String, TouchEvent, (String, String), Attribution](input, _.key,
        Encoders.STRING, idleHorizonMicros, delay) { (key, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
      val out = Seq.newBuilder[Attribution]
      var st = prev.orNull
      var lastTs = Long.MinValue
      sorted.foreach { r =>
        lastTs = math.max(lastTs, r.tsMicros)
        if (r.eventType == purchaseType) {
          val (f, l) = if (st == null) ("direct", "direct") else st
          out += Attribution(key, r.tsMicros, r.eventId, f, l,
            math.round(r.value * 100))
        } else {
          st = if (st == null) (r.eventType, r.eventType)
               else (st._1, r.eventType)
        }
      }
      (out.result().iterator, Option(st), lastTs)
    }
  }

  final case class FunnelStage(key: String, stage: String, tsMicros: Long,
    eventId: Long)
  /** Funnel state row: completion time of each reached stage, in stage
    * order (public: the codegen'd state serializer instantiates it). */
  final case class FunnelTimes(times: Seq[Long])

  /** Streaming timed funnel — the incremental twin of the batch q55:
    * per-key state is the completion time of each stage reached so
    * far; an event advances the funnel iff it is the NEXT stage's type
    * and (past the first stage) lands within `stepTimeoutMicros` of
    * the previous stage's completion, boundaries inclusive like q55's
    * windows. Each advance emits one [[FunnelStage]] row (labels
    * '1_view' / '2_click' / … matching q55's stage column), so the
    * per-stage user counts and conversion ppm are an ordinary
    * downstream streaming groupBy. State ≤ |stages| longs per key.
    *
    * Same in-batch (ts, event_id) ordering contract as
    * [[streamingScd2]]; under in-order delivery the incremental fill
    * equals the batch windows' min-in-window choice (the first view IS
    * min view; the first in-window next-stage event IS the window
    * min), which StatefulOpsSpec pins against the q55 kernel. An
    * event of a later stage's type arriving before its turn, or a
    * next-stage event past the step window, is ignored — exactly the
    * rows q55's windows exclude. */
  /** Idle eviction (`idleHorizonMicros`): funnel state idle past the
    * horizon drops SILENTLY — every reached stage already emitted its
    * row when reached, and any unreached stage's step window is long
    * expired, so there is nothing to close out. A post-horizon event
    * then starts a FRESH funnel (a new '1_view' can re-emit for the
    * key) — the funnel-session contract; run with None to mirror
    * q55's one-funnel-per-user-ever semantics on bounded key
    * populations. */
  def streamingFunnel(input: Dataset[TouchEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"),
      stepTimeoutMicros: Long = 3600L * 1000000L,
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[FunnelStage] = {
    require(stages.nonEmpty && stages.distinct.length == stages.length,
      s"stages=$stages must be non-empty and pairwise distinct")
    require(stepTimeoutMicros > 0,
      s"stepTimeoutMicros=$stepTimeoutMicros must be positive")
    implicit val outEnc = Encoders.product[FunnelStage]
    implicit val stEnc = Encoders.product[FunnelTimes]
    implicit val evEnc = Encoders.product[TouchEvent]
    perKey[String, TouchEvent, FunnelTimes, FunnelStage](input, _.key, Encoders.STRING,
        idleHorizonMicros, delay) { (key, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
      var times = prev.fold(Vector.empty[Long])(_.times.toVector)
      val out = Seq.newBuilder[FunnelStage]
      var lastTs = Long.MinValue
      sorted.foreach { r =>
        lastTs = math.max(lastTs, r.tsMicros)
        val i = times.length
        if (i < stages.length && r.eventType == stages(i) &&
            (i == 0 || (r.tsMicros >= times(i - 1) &&
              r.tsMicros <= times(i - 1) + stepTimeoutMicros))) {
          times = times :+ r.tsMicros
          out += FunnelStage(key, s"${i + 1}_${stages(i)}",
            r.tsMicros, r.eventId)
        }
      }
      (out.result().iterator, Some(FunnelTimes(times)).filter(_.times.nonEmpty), lastTs)
    }
  }

  final case class DebouncedEvent(key: String, tsMicros: Long, eventId: Long)

  /** Streaming event debounce — the incremental twin of the batch q41:
    * a row is kept iff it starts a new chain (first event for the key,
    * or gap from the PREVIOUS event — kept or suppressed — is
    * >= `windowMicros`; the batch kernel's `_new_chain` rule). State =
    * last seen event time, one long per key. Same in-batch
    * (ts, event_id) ordering contract as [[streamingScd2]].
    *
    * Idle eviction (`idleHorizonMicros`, enforced >= windowMicros):
    * debounce output is EVICTION-INVARIANT — the first post-horizon
    * event has a gap >= horizon >= window from anything the dropped
    * state remembered, so it is a chain head under both semantics, and
    * suppression decisions never look further back than the previous
    * event. Eviction here is purely a state-size lever; it cannot
    * change what the op emits (StateEvictionSpec pins this). */
  def streamingDebounce(input: Dataset[TouchEvent], windowMicros: Long,
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[DebouncedEvent] = {
    require(windowMicros > 0, s"windowMicros=$windowMicros must be positive")
    implicit val outEnc = Encoders.product[DebouncedEvent]
    implicit val stEnc = Encoders.scalaLong
    implicit val evEnc = Encoders.product[TouchEvent]
    idleHorizonMicros.foreach(h => require(h >= windowMicros,
      s"idleHorizonMicros=$h must be >= windowMicros=$windowMicros " +
        "(the eviction-invariance precondition)"))
    perKey[String, TouchEvent, Long, DebouncedEvent](input, _.key, Encoders.STRING,
        idleHorizonMicros, delay) { (key, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
      var last = prev.getOrElse(Long.MinValue)
      val out = Seq.newBuilder[DebouncedEvent]
      sorted.foreach { r =>
        if (last == Long.MinValue || r.tsMicros - last >= windowMicros)
          out += DebouncedEvent(key, r.tsMicros, r.eventId)
        last = math.max(last, r.tsMicros)
      }
      (out.result().iterator, Some(last).filter(_ != Long.MinValue), last)
    }
  }

  final case class ZFlag(key: String, eventId: Long, value: Double,
    zSign: Int, z2e6: Long)
  /** Rolling-window state for [[streamingZscore]]: the last <= `window`
    * values in event order AS EXACT CENTS plus the latest event time
    * (public: the codegen'd state serializer instantiates it).
    *
    * STATE-SCHEMA BREAK (r13): `values` changed `Seq[Double]` (dollars)
    * → `Seq[Long]` (exact cents), and [[ZFlag]]'s output schema changed
    * with it (`z` → `zSign`/`z2e6`). A streaming checkpoint written
    * before that change is NOT resumable against this operator — Spark
    * would deserialize the old state bytes into the new encoder layout
    * (failing, or worse, silently misreading doubles as cents). Restart
    * pre-r13 queries from a FRESH checkpoint directory. */
  final case class ZWindow(values: Seq[Long], lastTs: Long)

  private def roundHalfUp(v: Double, scale: Int): Double =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Streaming rolling z-score anomaly flags — the incremental twin of
    * the batch q48: each event is scored against the mean/std of the
    * PREVIOUS `window` values for its key (strictly-before frame, the
    * batch kernel's ROWS -20..-1), flagged when the warm-up (`minN`
    * prior values) is met and the EXACT window variance is positive.
    * The score ships as the batch kernel's r13 exact-integer form —
    * zSign plus z² in round-half-away e-6 units over exact cents
    * (z² = (x·n − Σx)² / (n·Σx² − (Σx)²), an exact integer ratio) —
    * and the cut |z| > threshold becomes z2e6 > threshold²·10⁶, so the
    * two paths compare exactly with no float variance cancellation
    * and no engine-defined rounding anywhere.
    * State per key is a bounded ring of `window` doubles — O(window),
    * never O(stream). Same in-batch (ts, event_id) ordering contract
    * as [[streamingScd2]]; the mean/std are re-summed oldest→newest
    * from the ring each event (20 flops) rather than maintained as
    * running sums, so float error cannot accumulate over an unbounded
    * stream.
    *
    * Idle eviction (`idleHorizonMicros`): a key idle past the horizon
    * drops its window — a stale distribution should not score
    * tomorrow's readings. A post-horizon event re-opens the key cold:
    * nothing is flagged until `minN` fresh values warm it back up
    * (the explicit re-warm contract, pinned in StateEvictionSpec). */
  def streamingZscore(input: Dataset[TouchEvent], window: Int = 20,
      minN: Int = 10, threshold: Double = 2.5,
      idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[ZFlag] = {
    require(window > 0 && minN > 0 && minN <= window,
      s"need 0 < minN=$minN <= window=$window")
    implicit val outEnc = Encoders.product[ZFlag]
    implicit val stEnc = Encoders.product[ZWindow]
    implicit val evEnc = Encoders.product[TouchEvent]
    perKey[String, TouchEvent, ZWindow, ZFlag](input, _.key, Encoders.STRING,
        idleHorizonMicros, delay) { (key, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
      var buf = prev.fold(Vector.empty[Long])(_.values.toVector)
      var lastTs = prev.fold(Long.MinValue)(_.lastTs)
      val out = Seq.newBuilder[ZFlag]
      val cut = math.round(threshold * threshold * 1e6)
      sorted.foreach { r =>
        lastTs = math.max(lastTs, r.tsMicros)
        val x2 = math.round(r.value * 100)
        val n = buf.length.toLong
        if (n >= minN) {
          // Exact-integer kernel with LOUD overflow: the batch
          // query escapes int64 through DECIMAL(38,0); this
          // generic operator instead fails with ArithmeticException
          // the moment deviation·window leaves the int64 domain
          // (|x·n − Σx| ≳ 2.1e6 cents) rather than silently
          // wrapping into wrong/dropped flags.
          import java.lang.Math.{addExact, multiplyExact, subtractExact}
          var s1 = 0L; var s2 = 0L
          buf.foreach { v =>
            s1 = addExact(s1, v); s2 = addExact(s2, multiplyExact(v, v)) }
          val varnum =
            subtractExact(multiplyExact(n, s2), multiplyExact(s1, s1))
          if (varnum > 0) {
            val nn = subtractExact(multiplyExact(x2, n), s1)
            val z2e6 = addExact(
              multiplyExact(2000000L, multiplyExact(nn, nn)),
              varnum) / (2 * varnum)
            if (z2e6 > cut)
              out += ZFlag(key, r.eventId, roundHalfUp(r.value, 4),
                java.lang.Long.signum(nn), z2e6)
          }
        }
        buf = (buf :+ x2).takeRight(window)
      }
      (out.result().iterator, Some(ZWindow(buf, lastTs)), lastTs)
    }
  }

  final case class ShardedItem(shard: Int, item: String, tsMicros: Long)
  final case class HeavyHitter(shard: Int, item: String, estCount: Long,
    maxError: Long, asOfMicros: Long)
  /** Space-Saving counter table for [[streamingHeavyHitters]] (public:
    * the codegen'd state serializer instantiates it). */
  final case class SsState(items: Seq[(String, Long, Long)], lastTs: Long)

  /** Streaming heavy hitters — Metwally et al.'s Space-Saving sketch
    * per shard: at most `capacity` (item, count, err) counters of
    * state; a new item over capacity evicts the minimum-count counter
    * and inherits its count as `maxError`. The classic guarantees hold
    * and are spec-pinned: estCount >= true count >= estCount −
    * maxError, and while a shard has seen <= capacity distinct items
    * the counts are EXACT (maxError 0). Each micro-batch appends the
    * shard's current top-`topJ` summary stamped `asOfMicros` (latest
    * event time), so downstream reads the newest snapshot per shard —
    * the vocab/URL/user heavy-hitter monitor over an unbounded crawl
    * stream that an exact groupBy(count) could only do with unbounded
    * state. Shard by hash(item) % n upstream so one item lands on ONE
    * shard and per-shard summaries union without double counting
    * (Space-Saving summaries also merge, but that is a batch-side
    * concern). Eviction tie-breaks take the lexicographically
    * smallest min-count item; rows sort (tsMicros, item) in-batch —
    * fully deterministic.
    *
    * Idle eviction (`idleHorizonMicros`): a shard idle past the
    * horizon drops its counter table silently — every batch already
    * emitted its snapshot, so nothing is lost; a post-horizon item
    * starts a fresh sketch (re-warm, like [[streamingZscore]]). */
  def streamingHeavyHitters(input: Dataset[ShardedItem], capacity: Int,
      topJ: Int, idleHorizonMicros: Option[Long] = None,
      delay: String = "0 seconds"): Dataset[HeavyHitter] = {
    require(capacity >= 1 && topJ >= 1 && topJ <= capacity,
      s"need 1 <= topJ=$topJ <= capacity=$capacity")
    implicit val outEnc = Encoders.product[HeavyHitter]
    implicit val stEnc = Encoders.product[SsState]
    implicit val evEnc = Encoders.product[ShardedItem]
    perKey[Int, ShardedItem, SsState, HeavyHitter](input, _.shard, Encoders.scalaInt,
        idleHorizonMicros, delay) { (shard, rows, prev) =>
      val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.item))
      val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
      var lastTs = Long.MinValue
      prev.foreach { st =>
        st.items.foreach { case (i, c, e) => m(i) = (c, e) }
        lastTs = st.lastTs
      }
      sorted.foreach { r =>
        lastTs = math.max(lastTs, r.tsMicros)
        m.get(r.item) match {
          case Some((c, e)) => m(r.item) = (c + 1, e)
          case None if m.size < capacity => m(r.item) = (1L, 0L)
          case None =>
            val (minItem, (mc, _)) =
              m.minBy { case (i, (c, _)) => (c, i) }
            m -= minItem
            m(r.item) = (mc + 1, mc)
        }
      }
      if (sorted.isEmpty) (Iterator.empty, None, Long.MinValue)
      else (m.toSeq
          .sortBy { case (i, (c, _)) => (-c, i) }
          .take(topJ)
          .map { case (i, (c, e)) => HeavyHitter(shard, i, c, e, lastTs) }
          .iterator,
        Some(SsState(m.toSeq.map { case (i, (c, e)) => (i, c, e) }, lastTs)), lastTs)
    }
  }

  def streamIntervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, delay: String,
      lookback: String, lookahead: String): DataFrame = {
    require(leftTsCol != rightTsCol,
      s"left/right event-time columns must have distinct names (both '$leftTsCol')")
    val l = left.withWatermark(leftTsCol, delay)
    val r = right.withWatermark(rightTsCol, delay)
    val cond = l(keyCol) === r(keyCol) &&
      r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $lookback") &&
      r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $lookahead")
    l.join(r, cond).drop(r(keyCol))
  }
}
