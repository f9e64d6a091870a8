package graft.tools

import graft.QueryRegistry
import org.apache.spark.scheduler._

/** Structural cost probe (dev scratch): runs each named query once and
  * reports scheduler-level counts — jobs, stages, tasks, shuffle bytes
  * read/written — via a listener. Wall clock on this host swings ±20%
  * between "identical" runs (co-tenant windows), but job/stage/shuffle
  * counts are deterministic per code version, so optimization claims
  * ("one fewer job per round", "halved shuffle bytes") are checked
  * against THESE numbers and the plan dumps, with the full interleaved
  * bench only confirming direction. */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.names.foreach(n => graft.Tables(spark, sfDir, n).count())

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    for (name <- args; pass <- 1 to 2) { // pass 2 = post-JIT, the comparable one
      jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0); shufWrite.set(0)
      val t0 = System.nanoTime()
      QueryRegistry.queryMap(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // let straggling listener events drain before reading the counters
      Thread.sleep(300)
      println(f"[jobstats] $name pass$pass: jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} shufRead=${shufRead.get} shufWrite=${shufWrite.get} " +
        f"wall=$sec%.2f")
      graft.operators.OpCaches.release(spark)
    }
    spark.stop()
  }
}
