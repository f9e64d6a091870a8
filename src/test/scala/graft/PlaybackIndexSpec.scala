package graft

import graft.streaming.CsvPlaybackStream
import java.nio.file.Files

/** Pins the distributed line-index build: every byte-range boundary
  * case (range starting mid-line, range starting exactly on a line
  * start, '\n' as a range's last byte, trailing line with and without
  * newline, ranges owning zero line starts) cross-checked against a
  * naive single-pass scan, across range sizes from pathological (1
  * byte) to larger-than-file. */
class PlaybackIndexSpec extends SparkSpec {

  private def naiveLineStarts(bytes: Array[Byte]): Seq[Long] = {
    if (bytes.isEmpty) return Nil
    val starts = scala.collection.mutable.ArrayBuffer(0L)
    bytes.zipWithIndex.foreach { case (b, i) =>
      if (b == '\n' && i + 1 < bytes.length) starts += (i + 1).toLong
    }
    starts.toSeq
  }

  private def write(content: String): String = {
    val f = Files.createTempFile("lineindex", ".csv")
    Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  private def check(content: String, rangeBytes: Long): Unit = {
    val path = write(content)
    val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, path, rangeBytes)
    val starts = naiveLineStarts(content.getBytes("UTF-8"))
    assert(idx.totalLines == starts.length,
      s"range=$rangeBytes content=${content.replace("\n", "\\n")}: " +
        s"${idx.totalLines} lines vs naive ${starts.length}")
    // offsetFor must return the exact byte offset of every line (skip
    // residual 0 here: files are far below SUB_SPLIT lines)
    starts.zipWithIndex.foreach { case (off, line) =>
      idx.offsetFor(line.toLong) match {
        case Some((seek, skip)) =>
          // seek + skipped lines must land on this line's start
          val landed = starts(starts.indexOf(seek).ensuring(_ >= 0,
            s"seek $seek is a recorded line start") + skip.toInt)
          assert(landed == off,
            s"range=$rangeBytes line=$line: seek=$seek skip=$skip lands $landed, want $off")
        case None => fail(s"range=$rangeBytes: no offset for line $line")
      }
    }
  }

  private val contents = Seq(
    "a,b,c\n1,2,3\n4,5,6\n",   // trailing newline
    "a,b,c\n1,2,3\n4,5,6",     // no trailing newline
    "x\n\n\ny\n",              // empty lines
    "single line no newline",
    "\nleading empty line\n",
    (1 to 50).map(i => s"row$i,val$i").mkString("\n") + "\n",
    "a,b\r\n1,2\r\n3,4\r\n",     // CRLF
    "a,b\r\n1,2\r\n3,4",         // CRLF, no trailing newline
    "a\rb,1\n2,3\n",             // a lone '\r' is not a line end
    "ts,note\n1,é\n2,Grüße\n3,測定値\n4,😀\n", // multibyte UTF-8
    "ts,note\n1,測定値")

  test("range-scan line index matches a naive scan at every range size") {
    for (content <- contents; range <- Seq(1L, 2L, 3L, 5L, 7L, 16L, 1024L))
      check(content, range)
  }

  test("offsetFor beyond SUB_SPLIT: seek sample + residual skip lands exactly") {
    // 40k lines > 2×SUB_SPLIT exercises the sampled-offset + skip path
    val n = 40000
    val content = (0 until n).map(i => s"r$i").mkString("\n") + "\n"
    val path = write(content)
    val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, path, 64 * 1024L)
    assert(idx.totalLines == n)
    val starts = naiveLineStarts(content.getBytes("UTF-8"))
    val startToLine = starts.zipWithIndex.toMap
    for (line <- Seq(0, 1, 16383, 16384, 16385, 32768, 39999)) {
      val Some((seek, skip)) = idx.offsetFor(line.toLong)
      val seekLine = startToLine(seek)
      assert(skip < CsvPlaybackStream.SUB_SPLIT, s"line $line: skip $skip bounded")
      assert(seekLine + skip == line, s"line $line: seek line $seekLine + skip $skip")
    }
  }

  test("nextSampleLine is the next line that seeks with no skip, at every range size") {
    val big = (0 until 40000).map(i => s"r$i").mkString("\n") + "\n"
    val cases = contents.map(_ -> Seq(1L, 7L, 1024L)) :+ (big -> Seq(16 * 1024L, 64 * 1024L))
    for ((content, ranges) <- cases; range <- ranges) {
      val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, write(content), range)
      val zeroSkip = (0L until idx.totalLines).filter(l => idx.offsetFor(l).exists(_._2 == 0L))
      val expected = (0L until idx.totalLines).map { line =>
        zeroSkip.find(_ > line).getOrElse(idx.totalLines)
      }
      val got = (0L until idx.totalLines).map(l => idx.nextSampleLine(l).get)
      assert(got == expected, s"range=$range lines=${idx.totalLines}")
    }
  }

  test("empty file still raises EOF (S6 guard)") {
    val path = write("")
    intercept[java.io.EOFException] {
      CsvPlaybackStream.buildLineIndex(spark.sparkContext, path, 4L)
    }
  }

  test("compressed file: count-only index, no seek offsets") {
    val gz = fixture("vibration.csv.gz")
    val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, gz, 4L)
    assert(idx.totalLines == 4, "header + 3 data lines")
    assert(idx.splits.isEmpty, "compressed: readers line-skip from 0")
    assert(idx.offsetFor(0L).isEmpty)
    assert(idx.compressed && idx.nextSampleLine(0L).isEmpty)
  }

  test("gz line count matches the naive scan, with and without a trailing newline") {
    def gz(content: String): String = {
      val f = Files.createTempFile("lineindex", ".csv.gz")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
      try out.write(content.getBytes("UTF-8")) finally out.close()
      f.toString
    }
    // ~2.6 MB of lines spans several of the scan's 1 MB blocks
    val long = (0 until 200000).map(i => s"$i,v$i").mkString("\n")
    for (content <- contents ++ Seq(long, long + "\n", "\n", "\n\n")) {
      val idx = CsvPlaybackStream.buildLineIndex(spark.sparkContext, gz(content), 4L)
      val naive = naiveLineStarts(content.getBytes("UTF-8")).length
      assert(idx.totalLines == naive, s"gz ${content.take(20).replace("\n", "\\n")}")
      assert(idx.compressed && idx.splits.isEmpty)
    }
  }
}
