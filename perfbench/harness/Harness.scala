package perfbench

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.streaming.{CsvPlaybackStream, Playback, PlaybackStream}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. Drives the engine only through its public
  * entry points and records raw observations (progress events, task
  * ends, callback times, check results) as one JSON document; every
  * metric is derived from that document by `perfbench/metrics.py`.
  *
  *   Harness run      <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>
  *   Harness truncate <seed> <workDir> <out.json>   (row-loss self-test)
  */
object Harness {

  // ---------------------------------------------------------------- clock
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds with sub-ms resolution, on the same base as the
    * `timestamp` field of Spark's progress events. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  // ------------------------------------------------------------ workloads
  val PlainRows = 1750000L // ≈ 112 MB: four 32 MB index ranges
  val GzRows = 400000L
  val ContinuousRate = 100000
  val Warmup = 3.0 // seconds of play between the first cold start and its measured window
  val Starts = 5 // cold starts per untraced run; the window is split among them

  final case class Workload(name: String, file: String, rows: Long, cfg: PlaybackConfig)

  def burstCfg(dir: String): PlaybackConfig = PlaybackConfig(
    csvDirName = dir, csvFileName = "play", ingestMode = IngestMode.Burst,
    sampleRate = 1000000, burstInterval = 500,
    timestampStyle = TimestampStyle.CurrentTime,
    postProcessMethod = PostProcess.ContinuePlaying)

  def continuousCfg(dir: String, rate: Int, style: TimestampStyle): PlaybackConfig =
    PlaybackConfig(
      csvDirName = dir, csvFileName = "play", ingestMode = IngestMode.Continuous,
      sampleRate = rate, timestampStyle = style,
      timestampCol = if (style == TimestampStyle.CurrentTime) "" else "user_ts",
      postProcessMethod = PostProcess.ContinuePlaying)

  def workload(name: String, work: Path): Workload = {
    val plain = work.resolve("data/plain").toString
    val gz = work.resolve("data/gz").toString
    name match {
      case "burst-max" => Workload(name, s"$plain/play.csv", PlainRows, burstCfg(plain))
      case "continuous-callback" => Workload(name, s"$plain/play.csv", PlainRows,
        continuousCfg(plain, ContinuousRate, TimestampStyle.CopyCsvValue))
      // traced-run leg only: burst-max over a gzip file
      case "burst-max-gz" => Workload(name, s"$gz/play.csv.gz", GzRows, burstCfg(gz))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  // ------------------------------------------------------------- recorders
  final case class BatchRec(runId: String, id: Long, rows: Long, startMs: Long,
      dur: Map[String, Long], so: String, eo: String)

  /** Non-empty progress events of every playback query, by run id. */
  final class ProgressRecorder extends StreamingQueryListener {
    import StreamingQueryListener._
    val batches = new ConcurrentLinkedQueue[BatchRec]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      val so = src.map(_.startOffset).orNull
      val eo = src.map(_.endOffset).orNull
      if (p.numInputRows > 0 || (eo != null && eo != so))
        batches.add(BatchRec(p.runId.toString, p.batchId, p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, so, eo))
    }
    def of(q: StreamingQuery): Seq[BatchRec] =
      batches.asScala.filter(_.runId == q.runId.toString).toSeq.sortBy(_.id)
  }

  final case class TaskRec(queryId: String, batchId: Long, group: String,
      launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      deserMs: Long, serMs: Long, resultMs: Long, bytesRead: Long, recordsRead: Long)

  /** Task ends, tagged with the streaming query/batch (or job group)
    * of the job that ran them. Registered only in traced legs. */
  final class TaskRecorder extends SparkListener {
    private val stageJob = new ConcurrentHashMap[Int, (String, Long, String)]()
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    /** (query id, batch id, submission time) of every job. */
    val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val tag = (prop("sql.streaming.queryId").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.jobGroup.id").getOrElse(""))
      e.stageIds.foreach(s => stageJob.put(s, tag))
      jobs.add((tag._1, tag._2, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (q, b, g) = Option(stageJob.get(e.stageId)).getOrElse(("", -1L, ""))
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(q, b, g, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
          m.resultSerializationTime,
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  /** Driver heap used after each GC while armed, and the live heap
    * after one full collection at the end of the window. */
  final class HeapWatch {
    @volatile private var armed = false
    @volatile private var peak = 0.0
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum / 1048576.0
          if (used > peak) peak = used
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    def arm(): Unit = { peak = 0.0; armed = true }
    /** (peak after-GC MB over the window, live MB after a full GC). */
    def disarm(): (Double, Double) = {
      armed = false
      System.gc()
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      (peak, mem.getHeapMemoryUsage.getUsed / 1048576.0)
    }
  }

  // ---------------------------------------------------------------- checks

  /** Checks delivered readings against the generator: contiguous
    * `row_idx` (wrapping over the file's rows), every column value, the
    * position in the batch, and the timestamp style's output. */
  final class Checker(seed: Long, fileRows: Long, copyTs: Boolean) {
    var nextIdx = 0L
    var readings = 0L
    var bad = 0L
    var batches = 0L
    var gapBatches = 0L
    var firstError: String = null

    /** A new query plays from row 0 again. */
    def restart(): Unit = synchronized { nextIdx = 0L }

    def check(rows: Seq[Row]): Unit = if (rows.nonEmpty) synchronized {
      batches += 1
      val sch = rows.head.schema
      val Seq(iC1, iC2, iTs, iCnt, iTag, iIdx, iPos, iEmit, iT) = Seq("channel1", "channel2",
        "user_ts", "counter", "tag", "row_idx", "pos_in_batch", "emit_ts", "timestamp")
        .map(sch.fieldIndex)
      val batchStart = rows.head.getLong(iIdx)
      var gap = false
      rows.foreach { r =>
        readings += 1
        val ok = try {
          val idx = r.getLong(iIdx)
          if (idx != nextIdx) gap = true
          nextIdx = idx + 1
          val fr = Math.floorMod(idx, fileRows)
          val tsOk =
            if (copyTs) micros(r.getTimestamp(iT)) == Gen.tsMicros(seed, fr)
            else r.getTimestamp(iT) == r.getTimestamp(iEmit)
          r.getDouble(iC1) == Gen.channel(seed, fr, 0) &&
            r.getDouble(iC2) == Gen.channel(seed, fr, 1) &&
            r.getString(iTs) == Gen.tsStr(Gen.tsMicros(seed, fr)) &&
            r.getInt(iCnt) == Gen.counter(seed, fr) &&
            r.getString(iTag) == Gen.tag(seed, fr) &&
            r.getLong(iPos) == idx - batchStart && tsOk
        } catch { case _: Exception => false }
        if (!ok) {
          bad += 1
          if (firstError == null) firstError = s"row ${r.mkString(",")}"
        }
      }
      if (gap) {
        gapBatches += 1
        if (firstError == null) firstError = s"row_idx gap in batch starting at $batchStart"
      }
    }

    def json: Map[String, Any] = synchronized(Map("readings" -> readings, "bad" -> bad,
      "batches" -> batches, "gap_batches" -> gapBatches, "first_error" -> firstError))
  }

  def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  // ------------------------------------------------------------------ legs

  sealed trait Sink
  case object RawNoop extends Sink
  case object ReadingsNoop extends Sink
  final case class Facade(ingest: Seq[Row] => Unit, restart: () => Unit = () => ()) extends Sink

  final class Ctx(val spark: SparkSession) {
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val heap = new HeapWatch
  }

  private def pollTrigger(cfg: PlaybackConfig): Trigger =
    Trigger.ProcessingTime(math.max(1L, (cfg.paceSec * 1000 / 4).toLong))

  /** Closes the source's admission gate and waits until the query's
    * in-flight batch (if any) has finished. */
  def drain(q: StreamingQuery): Unit = {
    CsvPlaybackStream.quiesce.set(true)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q.isActive && q.status.isTriggerActive && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  /** Stops a playback query without interrupting an in-flight batch. */
  def stopGracefully(q: StreamingQuery): Unit =
    try { drain(q); q.stop() } finally CsvPlaybackStream.quiesce.set(false)

  /** One playback leg: `reps` runs of the query, each from a cold
    * start (timed from the public start call to its first delivered
    * non-empty batch), then unmeasured play (`warmup` seconds after the
    * first start, while the JIT still compiles the read and parse path;
    * 1 s after later ones), then a measured window of `seconds / reps`.
    * Spreading the window over several starts also spreads the phase of
    * the 250 ms poll trigger against the pace ticks, which is fixed for
    * the life of one query. With `tasks`, the
    * task listener is on for the middle half of each window only
    * (untraced, traced, untraced: a linear drift hits both alike), so
    * tracing overhead is measured in the same query. Each window ends
    * with the live driver heap: admission closed, the last batch
    * drained, one full GC, query still running. */
  def runLeg(ctx: Ctx, cfg: PlaybackConfig, sink: Sink, seconds: Double, reps: Int,
      warmup: Double, tasks: Option[TaskRecorder] = None): Map[String, Any] = {
    val spark = ctx.spark
    val callbacks = new ConcurrentLinkedQueue[Array[Double]]()
    def start(): StreamingQuery = sink match {
      case RawNoop =>
        PlaybackStream.raw(spark, cfg).writeStream.format("noop")
          .trigger(pollTrigger(cfg)).start()
      case ReadingsNoop => Playback.startTo(spark, cfg, "noop")
      case Facade(ingest, _) => Playback.start(spark, cfg) { rows =>
        val t0 = nowMs
        ingest(rows)
        val first = if (rows.isEmpty) -1L else rows.head.getAs[Long]("row_idx")
        callbacks.add(Array(t0, rows.size.toDouble, first.toDouble, nowMs - t0))
      }
    }
    def firstDelivered(q: StreamingQuery): Option[Double] = sink match {
      case Facade(_, _) => callbacks.asScala.find(_(1) > 0).map(_(0))
      case _ => ctx.progress.of(q).find(_.rows > 0)
        .map(b => (b.startMs + b.dur.getOrElse("triggerExecution", 0L)).toDouble)
    }
    val span = seconds / reps
    val pollMs = math.max(1.0, cfg.paceSec * 1000 / 4)
    val runs = (1 to reps).map { rep =>
      callbacks.clear()
      sink match { case Facade(_, restart) => restart(); case _ => }
      // The poll trigger fires on wall-clock multiples of its interval,
      // so where the pace ticks fall between two polls (a delay of up
      // to one interval on every batch) is fixed by when the query
      // started. Back-to-back starts would all land at much the same
      // phase; step the start through the interval instead, so the
      // starts of one run sample that delay evenly.
      val phase = (rep - 1) * pollMs / reps
      val waitMs = ((phase - nowMs % pollMs) % pollMs + pollMs) % pollMs
      Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
      val tCall = nowMs
      val q = start()
      val tRet = nowMs
      val deadline = tCall + 120000
      var first: Option[Double] = None
      while (first.isEmpty) {
        q.exception.foreach(e => throw e)
        if (nowMs > deadline) throw new IllegalStateException("no batch within 120 s")
        Thread.sleep(2)
        first = firstDelivered(q)
      }
      val w0 = first.get + (if (rep == 1) warmup else math.min(1.0, warmup)) * 1000
      val w1 = w0 + span * 1000
      val (ta, tb) = (w0 + span * 250, w0 + span * 750)
      def until(t: Double): Unit = while (nowMs < t && q.isActive) Thread.sleep(10)
      until(w0)
      ctx.heap.arm()
      tasks.foreach { t =>
        until(ta)
        spark.sparkContext.addSparkListener(t)
        until(tb)
        Thread.sleep(300) // task ends of batches finished by tb reach the listener
        spark.sparkContext.removeSparkListener(t)
      }
      until(w1)
      val err = q.exception.map(_.toString)
      drain(q)
      val (heapPeak, heapLive) = ctx.heap.disarm()
      stopGracefully(q)
      Thread.sleep(300) // let the listener bus deliver the last progress events
      val qid = q.id.toString
      Map(
        "setup" -> Seq(tCall, tRet, first.get), "window" -> Seq(w0, w1),
        "traced" -> tasks.map(_ => Seq(ta, tb)).orNull,
        "batches" -> ctx.progress.of(q).map(b => Map("id" -> b.id, "rows" -> b.rows,
          "start_ms" -> b.startMs, "dur" -> b.dur, "so" -> b.so, "eo" -> b.eo)),
        "callbacks" -> callbacks.asScala.toSeq.map(_.toSeq),
        "heap_peak_mb" -> heapPeak, "heap_live_mb" -> heapLive,
        "tasks" -> tasks.map(_.tasks.asScala.toSeq.filter(_.queryId == qid).map(t => Seq(
          t.batchId, t.launchMs, t.finishMs, t.runMs, t.cpuNs, t.gcMs, t.deserMs, t.serMs,
          t.resultMs, t.bytesRead, t.recordsRead))).getOrElse(Nil),
        "jobs" -> tasks.map(_.jobs.asScala.toSeq.filter(_._1 == qid).map(j => Seq(j._2, j._3)))
          .getOrElse(Nil),
        "error" -> err.orNull)
    }
    Map("rate" -> cfg.sampleRate, "pace_ms" -> cfg.paceSec * 1000, "chunk" -> cfg.chunkSize,
      "runs" -> runs)
  }

  /** The burst workloads' untimed output check: two batches through the
    * `Playback.start` foreachBatch facade at the workload's config. */
  def checkLeg(ctx: Ctx, w: Workload, seed: Long): Map[String, Any] = {
    val chk = new Checker(seed, w.rows, copyTs = false)
    val q = Playback.start(ctx.spark, w.cfg)(chk.check)
    val deadline = nowMs + 120000
    while (chk.synchronized(chk.batches) < 2 && nowMs < deadline && q.exception.isEmpty)
      Thread.sleep(10)
    val err = q.exception.map(_.toString)
    stopGracefully(q)
    Thread.sleep(300)
    chk.json ++ Map("error" -> err.orNull, "batches_rec" -> ctx.progress.of(q).map(b =>
      Map("id" -> b.id, "rows" -> b.rows, "so" -> b.so, "eo" -> b.eo)))
  }

  // --------------------------------------------------------------- probes

  /** Fixed-work CPU probe: `threads` threads each run the same xorshift
    * loop; the wall seconds say how fast this host runs CPU work now. */
  def cpuProbe(threads: Int, iters: Long = 1L << 26): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (1 to threads).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var acc = 0L
        var i = 0L
        while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc ^= x; i += 1 }
        sink.addAndGet(acc)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of
    * time the hypervisor gave this machine's CPUs to someone else. */
  def cpuTicks(): Seq[Long] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      Seq(if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => Seq(0L, 0L) }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  // ---------------------------------------------------------------- session

  def session(master: String, work: Path): SparkSession = {
    val s = SparkSession.builder().master(master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.last)
    val result: Map[String, Any] = args.head match {
      case "run" => run(args(1), args(2).toLong, args(3).toDouble, args(4) == "1", Paths.get(args(5)))
      case "truncate" => truncate(args(1).toLong, Paths.get(args(2)))
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
    Files.writeString(out, new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def generate(w: Workload, seed: Long): Unit = {
    val p = Paths.get(w.file)
    if (!Files.exists(p)) Gen.write(p, seed, w.rows)
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Map[String, Any] = {
    val nproc = Runtime.getRuntime.availableProcessors
    val w = workload(name, work)
    val phases = scala.collection.mutable.LinkedHashMap[String, Any]()
    def phase[T](n: String)(body: => T): T = { val (r, ms) = timedMs(body); phases(n) = ms / 1000; r }
    phase("generate")(generate(w, seed))
    val loadBefore = loadAvg()
    val probeBefore = cpuProbe(nproc)
    val ticksBefore = cpuTicks()
    val ctx = phase("session")(new Ctx(session(s"local[$nproc]", work)))
    val isFacade = name == "continuous-callback"
    val mainChk = new Checker(seed, w.rows, copyTs = true)
    val mainSink: Sink = if (isFacade) Facade(mainChk.check, mainChk.restart) else ReadingsNoop
    val res = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "nproc" -> nproc, "file_rows" -> w.rows,
      "file_bytes" -> Files.size(Paths.get(w.file)), "rate" -> w.cfg.sampleRate)
    val legs = scala.collection.mutable.LinkedHashMap[String, Any]()
    // the traced run reports no setup_s, so one cold start is enough
    legs("main") = phase("main")(runLeg(ctx, w.cfg, mainSink, seconds,
      reps = if (trace) 1 else Starts, Warmup, if (trace) Some(new TaskRecorder) else None))
    if (isFacade) res("main_check") = mainChk.json
    else res("check") = phase("check")(checkLeg(ctx, w, seed))
    if (trace) phase("trace") {
      val spark = ctx.spark
      val sc = spark.sparkContext
      val tr = new TaskRecorder
      sc.addSparkListener(tr)
      val parseNames = Seq("channel1", "channel2", "user_ts", "counter", "tag")
      res("schema_resolve_ms") = (1 to 3).map(_ => timedMs {
        PlaybackStream.resolveColumns(spark, w.cfg, w.file)
        PlaybackStream.inferDtypes(spark, w.cfg, w.file, parseNames)
      }._2)
      def indexBuild(file: String, group: String): Double = {
        sc.setJobGroup(group, "index build")
        try timedMs(CsvPlaybackStream.buildLineIndex(sc, file))._2 finally sc.clearJobGroup()
      }
      res("index_build_ms") = (1 to 3).map(i => indexBuild(w.file, s"perfbench-index-$i"))
      val gz = workload("burst-max-gz", work)
      generate(gz, seed)
      res("gz_index_build_ms") = indexBuild(gz.file, "perfbench-index-gz")
      Thread.sleep(300)
      sc.removeSparkListener(tr)
      res("index_tasks") = tr.tasks.asScala.count(_.group == "perfbench-index-1")
      res("gz_index_tasks") = tr.tasks.asScala.count(_.group == "perfbench-index-gz")
      // layer-prefix legs over the same file: raw and T1 at the burst
      // config, T2/T3 and the facade at a continuous config of the same
      // chunk size, so every difference is one layer
      val dir = Paths.get(w.file).getParent.toString
      val legSec = math.max(2.0, seconds / 5)
      val burst = burstCfg(dir)
      val t2 = continuousCfg(dir, burst.chunkSize, TimestampStyle.CurrentTime)
      val t3 = continuousCfg(dir, burst.chunkSize, TimestampStyle.CopyCsvValue)
      legs("raw") = runLeg(ctx, burst, RawNoop, legSec, reps = 1, warmup = 1)
      legs("t1") = runLeg(ctx, burst, ReadingsNoop, legSec, reps = 1, warmup = 1)
      legs("t2") = runLeg(ctx, t2, ReadingsNoop, legSec, reps = 1, warmup = 1)
      legs("t3") = runLeg(ctx, t3, ReadingsNoop, legSec, reps = 1, warmup = 1)
      legs("callback") = runLeg(ctx, t3, Facade(_ => ()), legSec, reps = 1, warmup = 1)
      legs("gz") = runLeg(ctx, gz.cfg, ReadingsNoop, legSec, reps = 1, warmup = 1)
      res("clean") = cleanStep(spark, work, seed)
      // the single-thread baseline: burst-max's query on a local[1] context
      spark.stop()
      val one = new Ctx(session("local[1]", work))
      legs("single") = runLeg(one, burst, ReadingsNoop, seconds / 2, reps = 1, warmup = 1)
    }
    res("legs") = legs.toMap
    res("phase_s") = phases.toMap
    res("load_before") = loadBefore
    res("probe_s_before") = probeBefore
    res("load_after") = loadAvg()
    res("cpu_ticks") = Seq(ticksBefore, cpuTicks())
    res("probe_s_after") = cpuProbe(nproc)
    res.toMap
  }

  /** The preprocessing twin's batch path: `CsvPlayback.readFile` then
    * `CleanCsv.interpolateLinear` over a generated file whose channel1
    * is blank on every 7th row. Each blank lies between two known rows,
    * so its expected value is their midpoint, exact for multiples of
    * 1/1024; every other row must keep its generated value. The file is
    * small because the fill's unbounded-following window frame costs
    * time quadratic in the rows of its one partition (200k rows did not
    * finish in two minutes). */
  def cleanStep(spark: SparkSession, work: Path, seed: Long): Map[String, Any] = {
    val rows = 10000L
    val dir = work.resolve("data/clean")
    Gen.write(dir.resolve("clean.csv"), seed, rows, blankEvery = 7)
    val cfg = PlaybackConfig(csvDirName = dir.toString, csvFileName = "clean")
    val (got, ms) = timedMs {
      graft.preprocess.CleanCsv.interpolateLinear(
        graft.sources.CsvPlayback.readFile(spark, cfg, dir.resolve("clean.csv").toString),
        "channel1")
        .select(graft.sources.CsvPlayback.RowIdx, "channel1").collect()
    }
    val bad = got.count { r =>
      val i = r.getLong(0)
      val want =
        if (i % 7 == 1) {
          val (a, b) = (Gen.channel(seed, i - 1, 0), Gen.channel(seed, i + 1, 0))
          a + (b - a) * 1.0 / 2.0
        } else Gen.channel(seed, i, 0)
      r.isNullAt(1) || r.getDouble(1) != want
    }
    Map("ms" -> ms, "rows" -> got.length, "expected_rows" -> rows, "bad" -> bad)
  }

  /** Row-loss self-test: plays a scratch copy and, after the first
    * batch, cuts the file's last 1000 rows. Every seek target stays
    * inside the shortened file, so the partition over the file's tail
    * just reads short: the batch delivers fewer rows than its offset
    * range and the offsets advance anyway, with no error. The progress
    * accounting must see the difference. */
  def truncate(seed: Long, work: Path): Map[String, Any] = {
    val dir = work.resolve("data/trunc")
    val file = dir.resolve("play.csv")
    val rows = 200000L
    Gen.write(file, seed, rows)
    val ctx = new Ctx(session("local[2]", work))
    val cfg = burstCfg(dir.toString).copy(sampleRate = 200000) // 100k-row bursts
    val q = Playback.startTo(ctx.spark, cfg, "noop")
    def batches = ctx.progress.of(q)
    val deadline = nowMs + 120000
    def running = nowMs < deadline && q.exception.isEmpty
    while (!batches.exists(_.rows > 0) && running) Thread.sleep(5)
    // byte offset of data row rows - 1000 (line 0 is the header)
    val cut = {
      val in = new java.io.BufferedInputStream(Files.newInputStream(file), 1 << 20)
      try {
        var pos = 0L
        var lines = 0L
        while (lines < rows - 1000 + 1) { if (in.read() == '\n') lines += 1; pos += 1 }
        pos
      } finally in.close()
    }
    val ch = java.nio.channels.FileChannel.open(file, java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(cut) finally ch.close()
    while (batches.count(_.rows > 0) < 6 && running) Thread.sleep(5)
    val err = q.exception.map(_.toString)
    stopGracefully(q)
    Thread.sleep(300)
    Map("file_rows" -> rows, "legs" -> Map("truncated" -> Map("error" -> err.orNull,
      "batches" -> batches.map(b => Map("id" -> b.id, "rows" -> b.rows, "so" -> b.so, "eo" -> b.eo)))))
  }
}
