package graft

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.streaming.{LocalCheckpointFileManager, Playback, PlaybackStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Counts its instances, so a spec can tell which manager a query used. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.made.incrementAndGet()
}

object CountingCheckpointFileManager {
  val made = new AtomicInteger
}

/** The playback facade's checkpoint file manager: what it writes, that
  * it leaves the caller's conf as it was and yields to a manager the
  * caller names, that a checkpoint moves between it and Spark's default
  * manager in both directions with no lost and no repeated row, and
  * that its batches start no child process. */
class CheckpointManagerSpec extends SparkSpec {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def playFile(): PlaybackConfig = {
    val dir = Files.createTempDirectory("ckmgr")
    Files.write(dir.resolve("rows.csv"), ("a,b" +: (0 until 40).map(k => s"$k,${k * 0.5}"))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    PlaybackConfig(csvDirName = dir.toString, csvFileName = "rows", ingestMode = IngestMode.Burst,
      sampleRate = 400, burstInterval = 50, postProcessMethod = PostProcess.ContinuePlaying)
  }

  /** Runs `q` until it has committed `batches` non-empty batches. */
  private def play(q: StreamingQuery, batches: Int = 3): Unit =
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (q.recentProgress.count(_.numInputRows > 0) < batches &&
          System.currentTimeMillis() < deadline) {
        q.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
      assert(q.recentProgress.count(_.numInputRows > 0) >= batches, "no progress within 120 s")
    } finally q.stop()

  private def files(dir: JPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private def sessionHasKey: Boolean =
    spark.conf.getOption(Key).isDefined || spark.sparkContext.hadoopConfiguration.get(Key) != null

  test("a playback query's offsets/ and commits/ are written with no .crc siblings") {
    val ck = Files.createTempDirectory("ck")
    play(Playback.startTo(spark, playFile(), "noop", Map("checkpointLocation" -> ck.toString)))
    for (log <- Seq("offsets", "commits")) {
      val names = files(ck.resolve(log))
      assert(names.exists(_.forall(_.isDigit)), s"$log holds no batch file: $names")
      assert(names.forall(_.forall(_.isDigit)), s"$log holds a sibling: $names")
    }
    assert(!sessionHasKey, "the caller's conf must read unset after start()")
  }

  test("a manager the caller names wins, in the session conf or the Hadoop conf") {
    val name = classOf[CountingCheckpointFileManager].getName
    def run(): Unit = {
      val before = CountingCheckpointFileManager.made.get
      val ck = Files.createTempDirectory("ck")
      play(Playback.startTo(spark, playFile(), "noop", Map("checkpointLocation" -> ck.toString)), 1)
      assert(CountingCheckpointFileManager.made.get > before, "the caller's manager was not used")
      assert(files(ck.resolve("offsets")).exists(_.endsWith(".crc")),
        "Spark's file-system manager writes .crc siblings")
    }
    spark.conf.set(Key, name)
    try run() finally {
      assert(spark.conf.get(Key) == name, "the caller's conf must be left as set")
      spark.conf.unset(Key)
    }
    spark.sparkContext.hadoopConfiguration.set(Key, name)
    try run() finally {
      assert(spark.sparkContext.hadoopConfiguration.get(Key) == name)
      spark.sparkContext.hadoopConfiguration.unset(Key)
    }
    assert(!sessionHasKey)
  }

  test("a checkpoint restarts between this manager and Spark's default with no lost or repeated row") {
    val cfg = playFile()
    val ck = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("out").toString
    val opts = Map("path" -> out, "checkpointLocation" -> ck)
    def local(): StreamingQuery = Playback.startTo(spark, cfg, "parquet", opts)
    def default(): StreamingQuery =
      PlaybackStream.readings(spark, cfg).writeStream.format("parquet").options(opts).start()
    Seq(local _, default _, local _).foreach(start => play(start(), 2))
    val idx = spark.read.parquet(out).select("row_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx.length >= 6)
    assert(idx == idx.indices.map(_.toLong), "row_idx must be gap-free and unrepeated")
  }

  test("cancel() leaves no temp file, and an existing batch file is not overwritten") {
    val dir = Files.createTempDirectory("ckfiles")
    val m = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val cancelled = m.createAtomic(new Path(dir.toUri.toString, "0"), overwriteIfPossible = false)
    cancelled.write(Array[Byte](1, 2, 3))
    cancelled.cancel()
    assert(files(dir).isEmpty)
    val first = m.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    first.write("first".getBytes(StandardCharsets.UTF_8))
    first.close()
    val second = m.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    second.write("second".getBytes(StandardCharsets.UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    assert(files(dir) == Seq("1"))
    assert(Files.readString(dir.resolve("1")) == "first")
    val third = m.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = true)
    third.write("third".getBytes(StandardCharsets.UTF_8))
    third.close()
    assert(files(dir) == Seq("1"))
    assert(Files.readString(dir.resolve("1")) == "third")
  }

  test("an overwrite drops the replaced file's .crc, so the new bytes read back") {
    val dir = Files.createTempDirectory("ckfiles")
    val target = new Path(dir.toUri.toString, "0")
    val hadoop = new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val old = hadoop.createAtomic(target, overwriteIfPossible = false)
    old.write("old bytes".getBytes(StandardCharsets.UTF_8))
    old.close()
    assert(files(dir) == Seq(".0.crc", "0"), "Hadoop's local file system writes a checksum")
    val m = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val fresh = m.createAtomic(target, overwriteIfPossible = true)
    fresh.write("new".getBytes(StandardCharsets.UTF_8))
    fresh.close()
    assert(files(dir) == Seq("0"))
    val in = m.open(target)
    try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) == "new") finally in.close()
  }

  test("a playback query's stream thread starts no child process") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val ck = Files.createTempDirectory("ck")
    try play(Playback.startTo(spark, playFile(), "noop", Map("checkpointLocation" -> ck.toString)))
    finally rec.stop()
    val dump = Files.createTempFile("ck", ".jfr")
    rec.dump(dump)
    rec.close()
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(e => Option(e.getThread).exists(_.getJavaName.startsWith("stream execution thread")))
      .map(_.getString("command"))
    assert(started.isEmpty, s"processes started by the stream thread: $started")
  }
}
