package graft

import graft.config.PlaybackConfig
import graft.streaming.{CsvPlaybackMicroBatchStream, CsvPlaybackStream, PlaybackInputPartition,
  PlaybackOffset, PlaybackReaderFactory}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Pins the playback reader end to end through the source's own
  * surface: `latestOffset` grants a chunk, `planInputPartitions` cuts
  * it, and every partition's reader runs in-process. The emitted
  * `(row_idx, value)` sequence must equal a naive split of the file
  * (lines end at '\n', one trailing '\r' stripped), across line-ending
  * variants, multibyte UTF-8, replay wraps, chunk sizes on both sides
  * of SUB_SPLIT and a gzip twin (one partition per contiguous range). */
class PlaybackReaderSpec extends SparkSpec {

  /** Physical lines of `content` under the playback line rule. */
  private def naiveLines(content: String): IndexedSeq[String] = {
    val pieces = content.split("\n", -1).toIndexedSeq
    val lines = if (pieces.last.isEmpty) pieces.init else pieces
    lines.map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
  }

  private def stage(name: String, content: String): Path = {
    val dir = Files.createTempDirectory("playreader")
    val bytes = content.getBytes("UTF-8")
    if (name.endsWith(".gz")) {
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve(name)))
      try out.write(bytes) finally out.close()
    } else Files.write(dir.resolve(name), bytes)
    dir
  }

  private case class Played(rows: Seq[(Long, String)],
      batches: Seq[(Long, Long, Seq[PlaybackInputPartition])])

  /** Plays at least `minRows` rows in `chunk`-row batches, reading
    * every planned partition with the source's reader factory. */
  private def play(dir: Path, cfg0: PlaybackConfig, chunk: Int, minRows: Long): Played = {
    val cfg = cfg0.copy(csvDirName = dir.toString, burstInterval = 1)
    spark // the source builds its line index through the active SparkContext
    val src = new CsvPlaybackMicroBatchStream(cfg)
    val limit = ReadLimit.maxRows(chunk)
    val factory = new PlaybackReaderFactory()
    val rows = ArrayBuffer[(Long, String)]()
    val batches = ArrayBuffer[(Long, Long, Seq[PlaybackInputPartition])]()
    var start = src.initialOffset().asInstanceOf[PlaybackOffset]
    val deadline = System.currentTimeMillis() + 120000
    while (start.totalRows < minRows) {
      assert(System.currentTimeMillis() < deadline, "source stopped granting")
      val end = src.latestOffset(start, limit).asInstanceOf[PlaybackOffset]
      if (end.totalRows == start.totalRows) Thread.sleep(1)
      else {
        val parts = src.planInputPartitions(start, end).toSeq
          .map(_.asInstanceOf[PlaybackInputPartition])
        batches += ((start.totalRows, end.totalRows, parts))
        for (p <- parts) {
          val r = factory.createReader(p)
          try while (r.next()) {
            val row = r.get()
            assert(row.getLong(2) == row.getLong(1) - start.totalRows, "pos_in_batch")
            assert(row.getLong(3) == p.emitTsMicros, "emit_ts")
            rows += ((row.getLong(1), row.getUTF8String(0).toString))
          } finally r.close()
        }
        start = end
      }
    }
    Played(rows.toSeq, batches.toSeq)
  }

  /** Plays `content` and checks the rows against the naive split, the
    * partition tiling and where line skips may occur. */
  private def check(name: String, content: String, chunk: Int, minRows: Long,
      cfg: PlaybackConfig = PlaybackConfig(csvFileName = "play")): Unit = {
    val dataStart = CsvPlaybackStream.dataStartLine(cfg)
    val expected = naiveLines(content).drop(dataStart)
    val played = play(stage(name, content), cfg, chunk, minRows)
    val what = s"$name chunk=$chunk"
    val total = played.batches.last._2
    assert(played.rows.map(_._1) == (0L until total), s"$what: row_idx gapless")
    played.rows.foreach { case (idx, v) =>
      val want = expected((idx % expected.length).toInt)
      assert(v == want, s"$what: row $idx = '$v', want '$want'")
    }
    val compressed = name.endsWith(".gz")
    for ((s, e, parts) <- played.batches) {
      assert(parts.map(_.globalStart) == parts.scanLeft(s)((at, p) => at + p.toRow - p.fromRow).init,
        s"$what: partitions tile the batch")
      assert(parts.map(p => p.toRow - p.fromRow).sum == e - s)
      assert(parts.forall(_.compressed == compressed))
      if (compressed) {
        // no seek: one partition per contiguous file range, so a cut
        // falls only at a replay wrap (file row 0)
        assert(parts.tail.forall(_.fromRow == 0), s"$what: compressed cuts only at a wrap")
      } else {
        assert(parts.forall(p => p.toRow - p.fromRow <= CsvPlaybackStream.SUB_SPLIT),
          s"$what: at most SUB_SPLIT rows")
        // cuts sit on index samples: after the batch's first partition
        // only a replay wrap (file row 0) skips, and only the header
        parts.tail.foreach { p =>
          val allowed = if (p.fromRow == 0) dataStart.toLong else 0L
          assert(p.skipLines == allowed, s"$what: partition at file row ${p.fromRow} " +
            s"skips ${p.skipLines} lines")
        }
      }
    }
  }

  private val header = "ts,channel1,note\n"

  test("LF, CRLF, no trailing newline and multibyte UTF-8 read as the naive split") {
    val files = Seq(
      "lf.csv" -> (header + "1,0.5,a\n2,0.6,b\n3,0.7,c\n"),
      "crlf.csv" -> (header.replace("\n", "\r\n") + "1,0.5,a\r\n2,0.6,b\r\n3,0.7,c\r\n"),
      "nonl.csv" -> (header + "1,0.5,a\n2,0.6,b\n3,0.7,c"),
      "nonl-crlf.csv" -> (header + "1,0.5,a\r\n2,0.6,b\r\n3,0.7,c\r"),
      "utf8.csv" -> (header + "1,0.5,é\n2,0.6,Grüße\n3,0.7,測定値\n4,0.8,😀x\n"),
      "empty-lines.csv" -> (header + "1,0.5,a\n\n2,0.6,b\n\r\n"),
      // lines longer than the reader's 64 KB buffer
      "long.csv" -> (header + "1,0.5," + "x" * 200000 + "\r\n2,0.6,y\n3,0.7," + "é" * 70000))
    for ((name, content) <- files; chunk <- Seq(1, 2, 5))
      check(name.replace(".csv", "-play.csv"), content, chunk, minRows = 12)
  }

  test("a lone '\\r' stays inside its line: the reader splits like the index") {
    val cfg = PlaybackConfig(csvFileName = "play", variableCols = true) // no header line
    assert(CsvPlaybackStream.dataStartLine(cfg) == 0)
    val played = play(stage("lone-cr-play.csv", "a\rb,1\n2,3\n"), cfg, chunk = 2, minRows = 2)
    assert(played.rows == Seq(0L -> "a\rb,1", 1L -> "2,3"))
  }

  // 40k physical lines: three SUB_SPLIT samples, a mix of LF and CRLF
  // endings and multibyte cells, so chunks straddle samples and wraps
  private val big = header + (1 until 40000).map { i =>
    val eol = if (i % 3 == 0) "\r\n" else "\n"
    s"$i,${i * 7 % 1000}.25,${if (i % 5 == 0) "ü" * (i % 4 + 1) else "v" + i}$eol"
  }.mkString

  test("40k-line file: chunks 1000/16384/16385/50000 with replay wrap equal a naive split") {
    val fileRows = 40000L - 1
    for (chunk <- Seq(1000, 16384, 16385, 50000))
      check("big-play.csv", big, chunk, minRows = 2 * fileRows + 1)
  }

  test("gzip twin of the 40k-line file reads the same rows") {
    val fileRows = 40000L - 1
    for (chunk <- Seq(1000, 16384, 16385, 50000))
      check("big-play.csv.gz", big, chunk, minRows = 2 * fileRows + 1)
  }
}
