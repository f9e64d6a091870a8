package graft

import graft.config.{Enums, PlaybackConfig}
import Enums._
import graft.streaming.{CsvPlaybackStream, FileQueue, Pacer, PlaybackInputPartition, PlaybackOffset}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The playback source's core without Spark: the [[Pacer]] on a fake
  * clock, the [[FileQueue]] on a temp directory with a line-counting
  * index builder in place of the distributed index job. No SparkSession,
  * no sleeps. */
class PlaybackCoreSpec extends AnyFunSuite {

  private val PaceNanos = 1000000000L
  private val Ms = 1000000L

  /** A pacer of one tick per second on a clock the test moves. */
  private class Clocked {
    var now = 77L * PaceNanos + 123L // an arbitrary epoch: ticks are relative
    private val t0 = now
    val pacer = new Pacer(1.0, () => now)
    def at(offsetNanos: Long): Boolean = { now = t0 + offsetNanos; pacer.grant() }
  }

  test("Pacer grants on its first call, then once per due tick") {
    val c = new Clocked
    assert(c.at(0L), "the first call anchors the schedule and grants tick 1")
    assert(!c.at(0L) && !c.at(PaceNanos - 1), "tick 2 is not due yet")
    assert(c.at(PaceNanos), "tick 2 falls due one pace later")
    assert(!c.at(PaceNanos + 1))
  }

  test("Pacer skips the ticks a stall missed, never banks them") {
    for (k <- Seq(1, 2, 5)) {
      val c = new Clocked
      assert(c.at(0L))
      // ticks 2 .. k + 1 fall due during the stall; the call after it gets one grant
      assert(c.at(k * PaceNanos + 10 * Ms), s"k=$k: one chunk after the stall")
      assert(!c.at(k * PaceNanos + 11 * Ms) && !c.at((k + 1) * PaceNanos - 1),
        s"k=$k: the missed ticks are not banked")
      assert(c.at((k + 1) * PaceNanos), s"k=$k: the next tick grants on time")
    }
  }

  test("Pacer: a catch-up grant within 5 ms of the next tick takes the late tick, not the next") {
    val c = new Clocked
    assert(c.at(0L))
    // tick 2 is missed; the grant lands 4 ms before tick 4 falls due, so it
    // releases tick 3, and tick 4 still grants when it falls due
    assert(c.at(3 * PaceNanos - 4 * Ms), "the late grant")
    assert(!c.at(3 * PaceNanos - 1))
    assert(c.at(3 * PaceNanos + 1 * Ms), "tick 4 is its own grant")
    assert(!c.at(3 * PaceNanos + 2 * Ms))
  }

  // ---- FileQueue -------------------------------------------------------

  /** A temp dir, a Delete/Rename config over files named `*vib*.csv`,
    * and a queue whose index counts lines with no Spark job. */
  private class Queue(post: PostProcess = PostProcess.Delete) {
    val dir: Path = Files.createTempDirectory("queue")
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "vib",
      postProcessMethod = post)
    var builds = 0
    def index(f: String): CsvPlaybackStream.FileLineIndex = {
      builds += 1
      CsvPlaybackStream.FileLineIndex(Files.readAllLines(Path.of(f)).size.toLong,
        Array.empty, compressed = false)
    }
    def queue() = new FileQueue(cfg, index)
    /** Writes `name` with a header line and `rows` data rows. */
    def put(name: String, rows: Int, header: String = "c1,c2"): String = {
      val p = dir.resolve(name)
      Files.writeString(p, (header +: (1 to rows).map(i => s"$i,${i * 10}")).mkString("", "\n", "\n"))
      p.toString
    }
    def bytes(f: String): Long = Files.size(Path.of(f))
  }

  private def rowsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
    parts.map { case p: PlaybackInputPartition => (p.globalStart, p.toRow - p.fromRow) }.toSeq

  test("FileQueue: a Delete rotation plays the next match from where the last one ended") {
    val t = new Queue()
    val a = t.put("a_vib.csv", 2)
    val b = t.put("b_vib.csv", 3)
    val q = t.queue()
    q.poll(PlaybackOffset(0L))
    assert(q.offset(0L) == PlaybackOffset(0L, Some(a), 0L, t.bytes(a)), "the first match plays")
    assert(q.rows == 2 && t.builds == 1)
    val end = q.grant(0L, 10L)
    assert(end == PlaybackOffset(2L, Some(a), 0L, t.bytes(a)), "a grant ends at the file's last row")
    assert(rowsOf(q.partitions(0L, end, 1L)) == Seq((0L, 2L)))
    // short of the end a poll keeps the file and builds nothing
    q.poll(PlaybackOffset(1L, Some(a), 0L, t.bytes(a)))
    assert(q.offset(1L).file.contains(a) && t.builds == 1)
    q.poll(end)
    assert(!Files.exists(Path.of(a)), "EOF deletes the played file")
    assert(q.offset(2L) == PlaybackOffset(2L, Some(b), 2L, t.bytes(b)))
    val end2 = q.grant(2L, 2L)
    assert(end2.totalRows == 4L && rowsOf(q.partitions(2L, end2, 1L)) == Seq((2L, 2L)))
    q.poll(q.grant(4L, 5L))
    assert(!Files.exists(Path.of(b)) && q.offset(5L) == PlaybackOffset(5L, None, 5L), "queue drained")
  }

  test("FileQueue: a Rename rotation moves the file aside under its suffix") {
    val t = new Queue(PostProcess.Rename)
    val a = t.put("a_vib.csv", 1)
    val q = t.queue()
    q.poll(PlaybackOffset(0L))
    q.poll(q.grant(0L, 8000L))
    assert(!Files.exists(Path.of(a)) && Files.exists(Path.of(a + ".tmp")))
    assert(q.offset(1L) == PlaybackOffset(1L, None, 1L) && q.rows == 0L)
  }

  test("FileQueue: a restart between files keeps where the next file begins") {
    val t = new Queue()
    // the checkpoint was written after the first file's 4 rows were
    // played and it was deleted, before the next file arrived
    val b = t.put("b_vib.csv", 2)
    val q = t.queue()
    q.poll(PlaybackOffset(4L, None, 4L))
    assert(q.offset(4L) == PlaybackOffset(4L, Some(b), 4L, t.bytes(b)),
      "the arriving file begins at the recovered count")
    q.poll(PlaybackOffset(4L, Some(b), 4L, t.bytes(b)))
    assert(Files.exists(Path.of(b)), "an unplayed file is never rotated")
    assert(rowsOf(q.partitions(4L, q.grant(4L, 10L), 1L)) == Seq((4L, 2L)))
  }

  test("FileQueue: an anchored file that is gone re-bases its successor at the recovered count") {
    val t = new Queue()
    val gone = t.dir.resolve("a_vib.csv").toString
    val q = t.queue()
    q.poll(PlaybackOffset(7L, Some(gone), 3L, 99L))
    assert(q.offset(7L) == PlaybackOffset(7L, None, 7L) && t.builds == 0)
    val b = t.put("b_vib.csv", 2)
    q.poll(PlaybackOffset(7L, Some(gone), 3L, 99L))
    assert(q.offset(7L) == PlaybackOffset(7L, Some(b), 7L, t.bytes(b)))
    // a WAL-replayed range of the gone file is unrecoverable: nothing, not b's rows
    val replayed = t.queue()
    assert(replayed.partitions(3L, PlaybackOffset(7L, Some(gone), 3L, 99L), 1L).isEmpty)
  }

  test("FileQueue: a same-named file with other bytes is not the anchored file") {
    val t = new Queue()
    val a = t.put("a_vib.csv", 3)
    val wrong = t.queue()
    assert(wrong.partitions(0L, PlaybackOffset(3L, Some(a), 0L, t.bytes(a) + 7), 1L).isEmpty,
      "mismatched identity must not replay")
    assert(wrong.offset(3L).fileStart == 3L, "the same-named file plays as a successor")
    val right = t.queue()
    assert(rowsOf(right.partitions(0L, PlaybackOffset(3L, Some(a), 0L, t.bytes(a)), 1L)) ==
      Seq((0L, 3L)))
  }

  test("FileQueue: a queued file that names other columns fails with both files and headers") {
    val t = new Queue()
    val a = t.put("a_vib.csv", 1)
    val b = t.put("b_vib.csv", 1, header = "c1,c3")
    val q = t.queue()
    q.poll(PlaybackOffset(0L))
    val ex = intercept[IllegalArgumentException](q.poll(q.grant(0L, 10L)))
    Seq(a, b, "'c1,c2'", "'c1,c3'").foreach(s => assert(ex.getMessage.contains(s), ex.getMessage))
  }

  test("FileQueue: in Explicit mode a queued file with another field count fails with both files and counts") {
    val t = new Queue()
    val cfg = t.cfg.copy(columnMethod = ColumnMethod.Explicit, useColumns = "c1:int,c2:int")
    val a = t.put("a_vib.csv", 1)
    val b = t.put("b_vib.csv", 2, header = "x,y")
    val c = t.put("c_vib.csv", 1, header = "c1,c2,c3")
    val q = new FileQueue(cfg, t.index)
    q.poll(PlaybackOffset(0L))
    q.poll(q.grant(0L, 10L))
    assert(q.offset(1L).file.contains(b) && q.rows == 2L, "same field count, other names: no drift")
    val ex = intercept[IllegalArgumentException](q.poll(q.grant(1L, 10L)))
    Seq(a, c, "3 fields", "2 fields").foreach(s => assert(ex.getMessage.contains(s), ex.getMessage))
  }

  test("FileQueue.first is the alphabetically first match") {
    val t = new Queue()
    assert(FileQueue.first(t.dir.toString, "vib").isEmpty)
    t.put("b_vib.csv", 1)
    val a = t.put("a_vib.csv", 1)
    t.put("a_vib.txt", 1)
    assert(FileQueue.first(t.dir.toString, "vib").contains(a))
  }
}
