package graft.streaming

import graft.config.Enums._
import graft.config.PlaybackConfig

import org.apache.spark.sql.connector.read.InputPartition

/** Wall-clock admission of the playback source: rate enforcement is a
  * property of the source, not of the trigger cadence. Without this gate
  * the rate contract depended on the writer's trigger matching `paceSec`
  * exactly — a faster trigger silently over-emitted (a continuous stream
  * at trigger 10 ms pumped 100 chunks/sec), and a micro-batch cycle that
  * overran the trigger interval ALIASED throughput to the next interval
  * boundary (a 510 ms cycle under ProcessingTime(500) halves 1M rows/sec
  * to 500k — the round-6/7 bench regression).
  *
  * Tick k falls due `(k - 1) * paceSec` after the first [[grant]] call.
  * Exactly one chunk is released per due tick; a tick that passes while
  * the engine is busy is SKIPPED, never banked, so a backlog can never
  * burst above the configured rate and a micro-batch never exceeds the
  * reference's per-burst row budget (csvplayback.py:294-318). Throughput
  * is min(sampleRate, engine capability) under any trigger. Driver-side
  * only: a restart re-anchors, and the WAL'd row offsets stay exact. */
final class Pacer(paceSec: Double, clock: () => Long = () => System.nanoTime()) {
  private val paceNanos = math.max(1L, (paceSec * 1e9).toLong)
  private var startNanos = Long.MinValue
  private var granted = 0L // the last granted tick

  /** Whether a chunk may go now: true when a tick is due past the last
    * granted one, which then becomes the latest due tick (missed ticks
    * skip). */
  def grant(): Boolean = {
    val now = clock()
    if (startNanos == Long.MinValue) startNanos = now
    val due = (now - startNanos) / paceNanos + 1
    if (granted >= due) return false
    granted = due
    true
  }
}

/** The playback file queue (FileFinder and the EOF actions,
  * csvplayback.py:442-517) and its recovery from an offset's anchor.
  * Works on the real file system; the line index comes from
  * `buildIndex`, one distributed job per file by default. */
final class FileQueue(cfg: PlaybackConfig,
    buildIndex: String => CsvPlaybackStream.FileLineIndex = f =>
      CsvPlaybackStream.buildLineIndex(org.apache.spark.SparkContext.getOrCreate(), f)) {

  private val dir = PlaybackConfig.resolveDataDir(cfg.csvDirName)
  private val replay = cfg.postProcessMethod == PostProcess.ContinuePlaying
  private val dataStart = CsvPlaybackStream.dataStartLine(cfg)

  // driver-side per-file state (the index itself is built distributed,
  // see CsvPlaybackStream.buildLineIndex; only the merged summaries
  // live here); `bytes` is the on-disk size, the anchor's identity
  private case class Loaded(path: String, bytes: Long,
      index: CsvPlaybackStream.FileLineIndex, rows: Long)
  private var current: Option[Loaded] = None
  private var fileStart: Long = 0L // totalRows when the current (or next) file began
  private var firstShape: Option[(String, String)] = None

  /** Data rows of the current file; 0 with no file. */
  def rows: Long = current.fold(0L)(_.rows)

  /** The offset at `totalRows`, anchored to the current file. */
  def offset(totalRows: Long): PlaybackOffset =
    PlaybackOffset(totalRows, current.map(_.path), fileStart, current.fold(-1L)(_.bytes))

  /** The end offset of a grant of `budget` rows from `s`: a replayed file
    * is endless (partitions wrap around it), any other ends at its last row. */
  def grant(s: Long, budget: Long): PlaybackOffset =
    offset(if (replay) s + budget else math.min(s + budget, fileStart + rows))

  /** Brings the queue to the trigger that starts at `start`: recovery
    * first, then the EOF action, then file pickup. The previous trigger
    * finished the file when `start` is past its rows (all of them planned
    * and, since triggers are sequential, already processed). The
    * reference deletes/renames eagerly at EOF too
    * (csvplayback.py:442-465) — not transactional across restarts, by
    * design. With a current file short of its end, no file-system call. */
  def poll(start: PlaybackOffset): Unit = {
    anchorFromOffset(start)
    if (!replay && current.exists(start.totalRows >= fileStart + _.rows))
      rotate(start.totalRows)
    ensureFile()
  }

  /** Reader partitions for the batch of rows [s, end.totalRows). */
  def partitions(s: Long, end: PlaybackOffset, emitTsMicros: Long): Array[InputPartition] = {
    val e = end.totalRows
    if (e <= s) return Array.empty
    // Checkpoint recovery: a batch whose offsets are already in the WAL
    // but whose commit is missing re-executes here BEFORE any
    // latestOffset call, on a freshly constructed source with no file
    // state — re-anchor from the end offset (its rows all belong to the
    // end offset's file) or the replayed batch silently emits zero rows
    // and the uncommitted range is lost forever.
    anchorFromOffset(end)
    ensureFile() // anchorless initial offsets
    if (rows == 0) return Array.empty
    val Loaded(path, _, index, fileRows) = current.get
    // Recovery where the recovered range does not lie inside the
    // current file: rows before fileStart lived in a file the
    // EOF action already deleted/renamed (s < fileStart happens
    // when the anchor re-based a successor file at the recovered
    // count), rows at/after fileStart + fileRows belong to a
    // later file — either way the range is unrecoverable by design
    // (the reference post-processes eagerly too); emit nothing rather
    // than the wrong rows.
    if (s < fileStart) return Array.empty
    if (!replay && s - fileStart >= fileRows) return Array.empty
    // Clamp the end too: a recovered range can extend past the current
    // file's rows if the file shrank between WAL write and recovery
    // (truncation the identity check can't see, e.g. same-size rewrite
    // is excluded but a shorter file is not). Without the clamp the
    // `% fileRows` wrap in the cutter would re-emit rows from the top of
    // the file inside a single non-replay batch.
    val eEff = if (replay) e else math.min(e, fileStart + fileRows)
    CsvPlaybackStream.planPartitions(path, index, dataStart, fileRows, fileStart, s, eEff,
      emitTsMicros)
  }

  /** Loads `f` as the current file: builds its line index and derives the
    * data-row count. The single entry point for file state, shared by
    * fresh pickup ([[ensureFile]]) and checkpoint recovery
    * ([[anchorFromOffset]]). In the fixed-column modes a file whose
    * [[shape]] differs from the first one loaded fails the query: the
    * stream's schema was resolved from one file, and splitting another
    * against it would drift silently. */
  private def load(f: String): Unit = {
    val index = buildIndex(f)
    shape(f).foreach { s =>
      val (f0, s0) = firstShape.getOrElse((f, s))
      require(s0 == s, s"header drift in the file queue: $f has $s, " +
        s"but $f0, the first file this source played, has $s0")
      firstShape = Some((f0, s0))
    }
    val bytes =
      try java.nio.file.Files.size(java.nio.file.Paths.get(f))
      catch { case _: java.io.IOException => -1L }
    current = Some(Loaded(f, bytes, index, index.dataRows(dataStart)))
  }

  /** The columns `f` offers the stream's schema: in PickFromFile mode the
    * line that names them; in Explicit mode the field count of the line
    * pandas' `header=0` consumes (None if `f` is too short to hold it).
    * None in ragged mode, which has no fixed columns. */
  private def shape(f: String): Option[String] =
    if (cfg.variableCols) None
    else cfg.columnMethod match {
      case ColumnMethod.PickFromFile => Some(s"columns '${PlaybackStream.columnNamesLine(cfg, f)}'")
      case ColumnMethod.Explicit =>
        val skip = CsvPlaybackStream.headerSkip(cfg)
        PlaybackIO.headLines(f, skip + 1).lift(skip)
          .map(l => s"${l.split(",", -1).length} fields on line ${skip + 1}")
    }

  private def ensureFile(): Unit = {
    if (current.isEmpty) FileQueue.first(dir, cfg.csvFileName).foreach(load)
  }

  /** Restores file state on a freshly constructed source from a
    * recovered offset's anchor (checkpoint recovery path — both the
    * WAL-replayed batch and the first post-restart latestOffset arrive
    * before any state exists). If the anchored file is still on disk,
    * the index rebuilds and `fileStart` restores exactly; if the
    * EOF action already rotated it, the next file picks up with its
    * base at the recovered row count, so the rotate check can never
    * fire against a file that was not played. No-op once state exists
    * or for fresh streams (anchorless initial offset). */
  private def anchorFromOffset(o: PlaybackOffset): Unit = {
    // path exists AND holds the same bytes the anchor was written
    // against — a same-named successor (possible after Rename frees
    // the name, or a producer re-drop) is NOT the anchored file, and
    // replaying a WAL range against its bytes would emit wrong rows
    def isAnchoredFile(f: String): Boolean = {
      val p = java.nio.file.Paths.get(f)
      java.nio.file.Files.exists(p) && (o.fileBytes < 0L ||
        (try java.nio.file.Files.size(p) == o.fileBytes
         catch { case _: java.io.IOException => false }))
    }
    if (current.isEmpty) {
      o.file match {
        case Some(f) if isAnchoredFile(f) =>
          load(f)
          fileStart = o.fileStart
        case Some(_) =>
          // the anchored file is gone (EOF action rotated it; a
          // same-named file with different bytes counts as gone):
          // whatever file comes next — found now or triggers later —
          // begins at the recovered row count. Set the base
          // unconditionally: if it waited for a file to be found, a
          // successor arriving after the restart would still see base
          // 0 and be rotated away unplayed by the `s >= base + rows`
          // check.
          fileStart = o.totalRows
          ensureFile()
        case None =>
          // between files at checkpoint time: the offset still records
          // where the next file must begin — restoring it keeps the
          // rotate check from firing against a file that never played
          fileStart = math.max(fileStart, o.fileStart)
      }
    }
  }

  private def rotate(totalNow: Long): Unit = {
    val p = java.nio.file.Paths.get(current.get.path)
    cfg.postProcessMethod match {
      case PostProcess.Delete => java.nio.file.Files.deleteIfExists(p)
      case PostProcess.Rename =>
        java.nio.file.Files.move(p,
          p.resolveSibling(p.getFileName.toString + cfg.suffixName))
      case PostProcess.ContinuePlaying => // unreachable (replay)
    }
    current = None
    fileStart = totalNow
  }
}

object FileQueue {

  /** FileFinder semantics (csvplayback.py:503-517): the alphabetically
    * first match in `dir`, None when nothing matches. The one pick of the
    * file that plays, for the stream's queue and for the schema that
    * [[PlaybackStream.readings]] resolves. */
  def first(dir: String, pattern: String): Option[String] =
    PlaybackConfig.matchingFiles(java.nio.file.Paths.get(dir), pattern).headOption.map(_.toString)
}
