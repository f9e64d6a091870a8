package graft.streaming

import graft.config.Enums._
import graft.config.PlaybackConfig

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** The custom rate-limited playback source — the one piece of real
  * engine work the reference demands (SURVEY.md §7.3): Spark's file
  * source can neither re-read a finished file forever
  * (`postProcessMethod=continue_playing`, csvplayback.py:442-474) nor
  * delete/rename it at EOF and move to the next match, nor enforce the
  * readings-per-trigger budget of the burst/continuous emission
  * contract (csvplayback.py:294-318, 773-783).
  *
  * Modeled on Spark's own `rate` source: a `MicroBatchStream` with
  * `SupportsAdmissionControl`, offset = cumulative rows emitted since
  * stream start (monotone across replays — exactly the property the
  * `use csv sample delta` style needs, csvplayback.py:726-736).
  *
  * Emitted schema (raw; the DataFrame layer parses):
  *   value STRING      one CSV data line
  *   row_idx LONG      global row index, monotone across replays
  *   pos_in_batch LONG position within this micro-batch (chunk)
  *   emit_ts TIMESTAMP batch emission wall-clock (the T1/T2 base)
  */
object CsvPlaybackStream {
  val SCHEMA: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("row_idx", LongType, nullable = false),
    StructField("pos_in_batch", LongType, nullable = false),
    StructField("emit_ts", TimestampType, nullable = false)))

  val SHORT_NAME = "csvplayback"

  /** JVM-wide admission gate for graceful bench/test teardown. While
    * set, every playback source's `latestOffset` stops granting new
    * chunks (it returns the start offset unchanged), so after one
    * trigger interval no micro-batch is in flight and `query.stop()`'s
    * thread interrupt lands on an idle stream instead of killing live
    * write tasks (which logs "DataWritingSparkTask: Aborting commit"
    * ERRORs into otherwise-green bench artifacts). Scoped to teardown:
    * set it, drain, stop the queries, clear it. */
  val quiesce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Sub-partition granularity: the seek index records the byte offset
    * of every SUB_SPLIT-th line, and a plain file's range splits into
    * partitions of at most SUB_SPLIT rows that end at those samples, so
    * readers position in O(1). */
  val SUB_SPLIT = 16384L

  /** Byte-range size for the distributed index-build job. */
  val INDEX_RANGE_BYTES: Long = 32L * 1024 * 1024

  /** Per-byte-range line summary from the index job: number of line
    * starts owned by the range, plus the byte offset of every
    * [[SUB_SPLIT]]-th of them (range-relative ordinals). */
  case class SplitLines(startByte: Long, nLines: Long, offsets: Array[Long])

  /** Seek structure for one file: total physical lines plus, per range,
    * the first physical line number it owns and its offset samples.
    * [[offsetFor]] resolves a physical line to (seekByte, linesToSkip)
    * with skip < SUB_SPLIT — same reader cost as a dense global index,
    * but built by a parallel job instead of a driver scan. */
  case class FileLineIndex(totalLines: Long,
      splits: Array[(Long, SplitLines)], compressed: Boolean) {
    /** Index of the last split whose first owned line is <= physicalLine. */
    private def splitOf(physicalLine: Long): Int = {
      var lo = 0
      var hi = splits.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (splits(mid)._1 <= physicalLine) lo = mid else hi = mid - 1
      }
      lo
    }

    def offsetFor(physicalLine: Long): Option[(Long, Long)] = {
      if (splits.isEmpty) return None
      val (startLine, s) = splits(splitOf(physicalLine))
      val relIn = physicalLine - startLine
      if (relIn >= s.nLines || s.offsets.isEmpty) return None
      val oIdx = math.min(relIn / SUB_SPLIT, s.offsets.length - 1).toInt
      Some((s.offsets(oIdx), relIn - oIdx * SUB_SPLIT))
    }

    /** The first line after `physicalLine` that has a recorded offset:
      * the next SUB_SPLIT sample of its range, or the next range's first
      * line. A reader that starts there seeks with no line skip. None
      * when the index has no samples (compressed files). */
    def nextSampleLine(physicalLine: Long): Option[Long] = {
      if (splits.isEmpty) return None
      val (startLine, s) = splits(splitOf(physicalLine))
      val relIn = physicalLine - startLine
      Some(startLine + math.min((relIn / SUB_SPLIT + 1) * SUB_SPLIT, s.nLines))
    }

    /** Data rows of the file when its data begins at physical line `dataStart`. */
    def dataRows(dataStart: Int): Long = math.max(0L, totalLines - dataStart)
  }

  /** Builds the line index with ONE Spark job over byte-range splits of
    * the file — each task scans its range for line starts (a start at
    * byte s is owned by the range containing s; tasks peek one byte
    * before their range to decide ownership of their first offset, so no
    * start is double-counted) and ships back a constant-size summary.
    * The driver merges summaries: first-trigger latency is O(file size /
    * cluster cores) + a tiny merge, not a single-threaded whole-file
    * read (the r2 verdict's top scale-killer). Compressed files are
    * unsplittable: one task streams the codec and only the line count
    * comes back (readers line-skip from 0, as before), counted by the
    * reader's own [[ByteLineReader]]. The plain scan reads
    * [[PlaybackIO.BLOCK]]-sized blocks and counts '\n' bytes only — the
    * same line rule as the reader. */
  def buildLineIndex(sc: org.apache.spark.SparkContext, path: String,
      rangeBytes: Long = INDEX_RANGE_BYTES): FileLineIndex = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fileLen = p.getFileSystem(PlaybackIO.conf).getFileStatus(p).getLen
    if (fileLen == 0)
      throw new java.io.EOFException(s"CSV file $path has zero length")
    val subSplit = SUB_SPLIT
    if (PlaybackIO.isCompressed(path)) {
      // unsplittable: one task, count only
      val n = sc.parallelize(Seq(path), 1).map { pth =>
        val lines = new ByteLineReader(PlaybackIO.open(pth, compressed = true))
        try {
          var n = 0L
          while (lines.next()) n += 1
          n
        } finally lines.close()
      }.collect().head
      FileLineIndex(n, Array.empty, compressed = true)
    } else {
      val ranges = (0L until fileLen by rangeBytes)
        .map(st => (st, math.min(st + rangeBytes, fileLen)))
      val summaries = sc.parallelize(ranges, ranges.length).map { case (st, en) =>
        // a '\n' at byte q starts a line at q + 1; the range owns the
        // starts in [st, en), so the peek byte st - 1 decides st itself
        // and a '\n' at en - 1 is left to the next range's peek
        val readFrom = if (st == 0) 0L else st - 1
        val in = PlaybackIO.open(path, compressed = false, readFrom)
        try {
          val buf = new Array[Byte](PlaybackIO.BLOCK)
          val offs = scala.collection.mutable.ArrayBuffer[Long]()
          var n = 0L
          if (st == 0) { offs += 0L; n = 1L }
          var pos = readFrom // file offset of buf(0)
          var got = 0
          while (pos < en && got >= 0) {
            got = in.read(buf, 0, math.min(buf.length.toLong, en - pos).toInt)
            var i = 0
            while (i < got) {
              if (buf(i) == '\n' && pos + i + 1 < en) {
                if (n % subSplit == 0) offs += pos + i + 1
                n += 1
              }
              i += 1
            }
            if (got > 0) pos += got
          }
          SplitLines(st, n, offs.toArray)
        } finally in.close()
      }.collect().sortBy(_.startByte)
      var acc = 0L
      val indexed = summaries.map { s =>
        val first = acc
        acc += s.nLines
        (first, s)
      }
      FileLineIndex(acc, indexed.filter(_._2.nLines > 0), compressed = false)
    }
  }

  /** Reader partitions for global rows [s, e) of `path`, whose data
    * rows begin at global row `fileStart`. The one partition cutter of
    * the micro-batch and the batch scan: a range splits at replay wrap
    * boundaries and at the index's SUB_SPLIT samples, so a large range
    * reads in parallel across cores and every partition but the first
    * (and the one after a wrap, which skips the header lines) seeks
    * straight to its first row with no line skip. A compressed file has
    * no samples and no seek, so each contiguous range is one partition:
    * a cut would make every reader decompress from byte 0. */
  def planPartitions(path: String, index: FileLineIndex, dataStart: Int,
      fileRows: Long, fileStart: Long, s: Long, e: Long,
      emitTsMicros: Long): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    var cur = s
    while (cur < e) {
      val rel = (cur - fileStart) % fileRows
      val line = dataStart + rel
      val cut = index.nextSampleLine(line).fold(Long.MaxValue)(_ - line)
      val take = math.min(math.min(e - cur, fileRows - rel), cut)
      val (seekByte, skipLines) = index.offsetFor(line).getOrElse((-1L, line))
      parts += PlaybackInputPartition(path, index.compressed, rel, rel + take, cur, s,
        emitTsMicros, seekByte, skipLines)
      cur += take
    }
    parts.toArray
  }

  /** Lines the header method skips before the column names or data. */
  def headerSkip(cfg: PlaybackConfig): Int =
    if (cfg.headerMethod == HeaderMethod.DoNotSkip) 0 else cfg.noOfRows

  /** First physical data line of the file for a config (header lines
    * consumed before data starts, csvplayback.py:579-659). */
  def dataStartLine(cfg: PlaybackConfig): Int = {
    val skip = headerSkip(cfg)
    if (cfg.variableCols) skip
    else cfg.columnMethod match {
      case ColumnMethod.Explicit => skip + 1 // pandas header=0 consumes one line
      case ColumnMethod.PickFromFile => skip + cfg.rowIndexForColumnNames + 1
    }
  }
}

class CsvPlaybackSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = CsvPlaybackStream.SHORT_NAME
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CsvPlaybackStream.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CsvPlaybackTable(PlaybackConfig.fromOptions(properties.asScala.toMap),
      Option(properties.get("path")))
}

/** The playback table. Streamed, it plays the config's file pattern; a
  * batch read (`load(path)`) reads every data row of that one file once,
  * through the same partition cutter and reader as the stream, with
  * `row_idx` = the data row and `pos_in_batch` = `row_idx`. The batch
  * file's line index is built here, once per `load`, so every action on
  * the loaded frame plans from it (a zero-byte file fails the load). */
class CsvPlaybackTable(cfg: PlaybackConfig, path: Option[String])
    extends Table with SupportsRead {
  private val batchIndex = path.map(p =>
    CsvPlaybackStream.buildLineIndex(org.apache.spark.SparkContext.getOrCreate(), p))

  override def name(): String =
    path.getOrElse(s"csvplayback(${cfg.csvDirName}/${cfg.csvFileName})")
  override def schema(): StructType = CsvPlaybackStream.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = CsvPlaybackStream.SCHEMA
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new CsvPlaybackMicroBatchStream(cfg)
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val index = batchIndex.getOrElse(
          throw new IllegalArgumentException("a batch read needs load(path)"))
        val dataStart = CsvPlaybackStream.dataStartLine(cfg)
        val rows = index.dataRows(dataStart)
        CsvPlaybackStream.planPartitions(path.get, index, dataStart, rows, 0L, 0L, rows,
          System.currentTimeMillis() * 1000L)
      }
      override def createReaderFactory(): PartitionReaderFactory = new PlaybackReaderFactory()
    }
}

/** Offset = total rows emitted since stream start, plus the file anchor
  * those rows came from (`file` + the totalRows value at which that
  * file began). The anchor makes checkpoint recovery exact: a restarted
  * source re-maps a WAL-replayed range onto the right file at the right
  * base — without it, a recovered count is ambiguous once EOF
  * post-processing has rotated files, and the rotate check could
  * delete/rename a file that was never played. */
case class PlaybackOffset(totalRows: Long, file: Option[String] = None,
    fileStart: Long = 0L, fileBytes: Long = -1L) extends Offset {
  // Spark's Offset takes equals, hashCode and toString from json(), and
  // the stream thread compares offsets on every poll, about nine json()
  // calls a poll: write the immutable offset once, not per call
  override def json(): String = text

  // a node tree, not a ListMap: the first ListMap write spends tens of
  // ms building its Scala-map serializer, inside the query's first batch
  @transient private lazy val text: String = graft.Json.mapper.writeValueAsString(file match {
    case Some(f) =>
      // fileBytes is the anchor's identity: a same-named file that
      // appears after the anchored one was rotated away must not be
      // mistaken for it on recovery (its bytes differ)
      graft.Json.mapper.createObjectNode().put("totalRows", totalRows).put("file", f)
        .put("fileStart", fileStart).put("fileBytes", fileBytes)
    case None =>
      // fileStart must survive even between files: it is where the NEXT
      // file begins, and dropping it across a restart re-bases the
      // rotate check at 0 — which would post-process an unplayed file
      graft.Json.mapper.createObjectNode().put("totalRows", totalRows).put("fileStart", fileStart)
  })
}

object PlaybackOffset {
  def parse(json: String): PlaybackOffset = {
    val o = graft.Json.mapper.readTree(json)
    PlaybackOffset(o.path("totalRows").asLong(0L),
      Option(o.get("file")).map(_.asText), o.path("fileStart").asLong(0L),
      o.path("fileBytes").asLong(-1L))
  }
}

/** The DSv2 face of the playback source: offsets in, offsets and partitions
  * out, through the source's [[FileQueue]] and [[Pacer]]. */
class CsvPlaybackMicroBatchStream(cfg: PlaybackConfig)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val queue = new FileQueue(cfg)
  private val pacer = new Pacer(cfg.paceSec)
  private var lastEmitMicros: Long = 0L

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(cfg.chunkSize)

  override def initialOffset(): Offset = PlaybackOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[PlaybackOffset]
    if (CsvPlaybackStream.quiesce.get()) return so // teardown drain
    queue.poll(so)
    // the pace schedule anchors at the first trigger with rows to play
    if (queue.rows == 0 || !pacer.grant()) return queue.offset(so.totalRows)
    val budget = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => cfg.chunkSize.toLong
    }
    lastEmitMicros = System.currentTimeMillis() * 1000L
    queue.grant(so.totalRows, budget)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    queue.partitions(start.asInstanceOf[PlaybackOffset].totalRows, end.asInstanceOf[PlaybackOffset],
      if (lastEmitMicros == 0) System.currentTimeMillis() * 1000L else lastEmitMicros)

  override def createReaderFactory(): PartitionReaderFactory =
    new PlaybackReaderFactory()

  override def commit(end: Offset): Unit = ()
  // note: MicroBatchExecution only calls commit() when a NEXT batch is
  // constructed, so EOF actions cannot live here — they'd never fire for
  // the final batch; see FileQueue.poll.

  override def deserializeOffset(json: String): Offset =
    PlaybackOffset.parse(json)

  override def stop(): Unit = ()
}

/** One reader task: file rows [fromRow, toRow) (data-relative), read
  * by seeking to `seekByte` (-1: from the top) and skipping `skipLines`
  * physical lines. `compressed` comes from the file's line index, so
  * plain readers never build a codec factory. */
case class PlaybackInputPartition(path: String, compressed: Boolean,
    fromRow: Long, toRow: Long, globalStart: Long, batchStart: Long,
    emitTsMicros: Long, seekByte: Long, skipLines: Long) extends InputPartition

class PlaybackReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PlaybackPartitionReader(partition.asInstanceOf[PlaybackInputPartition])
}

/** Reads a partition's lines as bytes and writes each row straight into
  * one reused `UnsafeRow`. A line ends at '\n' with one trailing '\r'
  * stripped, the rule the line index counts by, so row N of the index is
  * row N here. A file that shrank
  * underneath the reader ends the partition early (`next()` is false). */
private[streaming] class PlaybackPartitionReader(p: PlaybackInputPartition)
    extends PartitionReader[InternalRow] {
  private val lines = new ByteLineReader(PlaybackIO.open(p.path, p.compressed, p.seekByte))
  lines.skip(p.skipLines)
  private val writer = new UnsafeRowWriter(4)
  private var produced = 0L

  override def next(): Boolean = {
    if (p.fromRow + produced >= p.toRow || !lines.next()) return false
    val globalIdx = p.globalStart + produced
    produced += 1
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, lines.bytes, lines.start, lines.length)
    writer.write(1, globalIdx)
    writer.write(2, globalIdx - p.batchStart)
    writer.write(3, p.emitTsMicros)
    true
  }

  override def get(): InternalRow = writer.getRow

  override def close(): Unit = lines.close()
}

/** Hadoop I/O shared by every playback task in a JVM. One
  * `Configuration` serves all of them: a fresh one re-parses its XML
  * resources on first use, which cost a reader task more than opening,
  * seeking and reading its bytes. Reads go through the Hadoop
  * `FileSystem` stream, so Spark's input metrics count their bytes. */
private[streaming] object PlaybackIO {
  lazy val conf = new org.apache.hadoop.conf.Configuration()
  private lazy val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)

  /** Read block size of the index scans. */
  val BLOCK: Int = 1 << 20

  def isCompressed(path: String): Boolean =
    codecs.getCodec(new org.apache.hadoop.fs.Path(path)) != null

  /** The file's decompressing stream, or its raw stream positioned at
    * `seekByte` (compressed streams cannot seek). */
  def open(path: String, compressed: Boolean, seekByte: Long = 0L): java.io.InputStream = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val raw = hp.getFileSystem(conf).open(hp)
    if (compressed) codecs.getCodec(hp).createInputStream(raw)
    else { if (seekByte > 0) raw.seek(seekByte); raw }
  }

  /** The file's first `n` lines as UTF-8 strings, split by the same
    * rule as the index and the reader ([[ByteLineReader]]), so the
    * driver's header, sample and meta reads see the lines the stream
    * plays. */
  def headLines(path: String, n: Int): Seq[String] = {
    val r = new ByteLineReader(open(path, isCompressed(path)))
    try {
      val out = Seq.newBuilder[String]
      var k = 0
      while (k < n && r.next()) {
        out += new String(r.bytes, r.start, r.length, java.nio.charset.StandardCharsets.UTF_8)
        k += 1
      }
      out.result()
    } finally r.close()
  }
}

/** Splits a byte stream into lines in a reused buffer: a line ends at
  * '\n' (one trailing '\r' is stripped), and a last line without a
  * newline still counts. After `next()` the line is
  * `bytes[start, start + length)`, valid until the next call. */
private[streaming] final class ByteLineReader(in: java.io.InputStream) {
  private var buf = new Array[Byte](64 * 1024)
  private var pos = 0 // first unconsumed byte
  private var lim = 0 // end of the bytes read so far
  private var eof = false
  private var lineStart = 0
  private var lineLen = 0

  def bytes: Array[Byte] = buf
  def start: Int = lineStart
  def length: Int = lineLen

  def next(): Boolean = {
    var i = pos
    while (true) {
      while (i < lim && buf(i) != '\n') i += 1
      if (i < lim || (eof && pos < lim)) {
        lineStart = pos
        lineLen = (if (i > pos && buf(i - 1) == '\r') i - 1 else i) - pos
        pos = math.min(i + 1, lim)
        return true
      }
      if (eof) return false
      val scanned = i - pos
      fill()
      i = pos + scanned
    }
    false
  }

  def skip(n: Long): Unit = {
    var k = 0L
    while (k < n && next()) k += 1
  }

  /** Moves the unconsumed tail to the front (growing the buffer when a
    * line fills it) and appends one read. */
  private def fill(): Unit = {
    val rest = lim - pos
    if (pos > 0) System.arraycopy(buf, pos, buf, 0, rest)
    else if (rest == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    pos = 0
    lim = rest
    val got = in.read(buf, lim, buf.length - lim)
    if (got < 0) eof = true else lim += got
  }

  def close(): Unit = in.close()
}
