package graft.streaming

import graft.config.PlaybackConfig
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Plugin-lifecycle facade: the reference's entry points
  * (plugin_init / plugin_start / plugin_poll / plugin_reconfigure /
  * plugin_shutdown, csvplayback.py:258-474) mapped onto Structured
  * Streaming's query lifecycle.
  *
  * | reference                      | here                            |
  * |--------------------------------|---------------------------------|
  * | plugin_init(config)            | `PlaybackConfig(...).validated` |
  * | plugin_start + ingest callback | [[start]] with a row callback   |
  * | plugin_poll ticks              | micro-batch triggers            |
  * | plugin_reconfigure             | [[reconfigure]] (stop + start)  |
  * | plugin_shutdown                | `query.stop()`                  |
  * | TIME_IT throughput prints      | [[ThroughputListener]] (E5)     |
  *
  * The reference's hand-rolled producer/consumer bounded queue
  * (csvplayback.py:787-930, E4) has no equivalent code here: the
  * source's admission control IS that backpressure.
  */
object Playback {

  /** plugin_start + async ingest callback (K1, csvplayback.py:907-912):
    * each micro-batch is delivered to `ingest` as reading rows. The
    * callback runs on the driver (like the reference's C callback);
    * heavy sinks should use `writeStream` directly instead. */
  def start(spark: SparkSession, cfg: PlaybackConfig)
      (ingest: Seq[Row] => Unit): StreamingQuery = {
    val writer = PlaybackStream.readings(spark, cfg.validated).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingest(batch.collect().toSeq)
      }
    withLocalCheckpoints(spark)(writer.start())
  }

  /** Burst/continuous emission into an arbitrary sink format.
    *
    * Neither entry point sets a trigger. The source's wall-clock
    * admission (`PlaybackConfig.paceSec`, one chunk per due tick) alone
    * sets the emission cadence, and Spark's default trigger asks for
    * the next chunk as soon as a batch commits, waiting only
    * `spark.sql.streaming.pollingDelay` (10 ms) between empty polls. A
    * chunk is thus granted within ~10 ms of its tick; a slower poll
    * grid would only add its own phase to every batch's lag. */
  def startTo(spark: SparkSession, cfg: PlaybackConfig, format: String,
      options: Map[String, String] = Map.empty): StreamingQuery = {
    val writer = PlaybackStream.readings(spark, cfg.validated)
      .writeStream.format(format).options(options)
    withLocalCheckpoints(spark)(writer.start())
  }

  /** Spark's conf naming the checkpoint file manager class. */
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Runs `start` with [[LocalCheckpointFileManager]] as the checkpoint
    * file manager, unless the caller has named one in the session or the
    * Hadoop conf. The conf is set only for the `start()` call:
    * `StreamExecution` clones the session in its constructor, so the
    * query keeps the manager and the caller's conf reads unset again once
    * `start()` returns. Starts are serialised so that two playback starts
    * on one session do not unset each other's manager. */
  private def withLocalCheckpoints(spark: SparkSession)(start: => StreamingQuery)
      : StreamingQuery = synchronized {
    if (spark.conf.getOption(ManagerKey).isDefined ||
        spark.sparkContext.hadoopConfiguration.get(ManagerKey) != null) start
    else {
      spark.conf.set(ManagerKey, classOf[LocalCheckpointFileManager].getName)
      try start finally spark.conf.unset(ManagerKey)
    }
  }

  /** plugin_reconfigure (csvplayback.py:336-353): stop, swap config,
    * start — without the reference's hard-coded 10 s sleep (stop() is
    * synchronous here). */
  def reconfigure(spark: SparkSession, running: StreamingQuery,
      newCfg: PlaybackConfig)(ingest: Seq[Row] => Unit): StreamingQuery = {
    running.stop()
    start(spark, newCfg)(ingest)
  }

  /** E5 (TIME_IT, csvplayback.py:916-922): throughput instrumentation —
    * total readings, readings/sec, batches/sec — over the streaming
    * progress events, logging every `every` readings. */
  class ThroughputListener(every: Long = 10000, log: String => Unit = println)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    private val total = new java.util.concurrent.atomic.AtomicLong
    private val batches = new java.util.concurrent.atomic.AtomicLong
    private val startNanos = System.nanoTime()
    private val lastReport = new java.util.concurrent.atomic.AtomicLong

    def totalReadings: Long = total.get()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val t = total.addAndGet(e.progress.numInputRows)
      val b = batches.incrementAndGet()
      if (t - lastReport.get() >= every) {
        lastReport.set(t)
        val sec = (System.nanoTime() - startNanos) / 1e9
        log(f"[playback] total=$t readings in $sec%.1f s · " +
          f"${t / sec}%.0f readings/s · ${b / sec}%.1f batches/s")
      }
    }
  }
}
