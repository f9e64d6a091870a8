package graft

import graft.operators.{GraphOps, LoopSession}

/** Loop sessions plan under the caller's SQL semantics: a clone keeps
  * the runtime confs the caller set (ANSI mode, session time zone), its
  * own loop confs stay inside it, and a loop operator's result is the
  * same frame it would be in the caller's session. */
class LoopSessionSpec extends SparkSpec {

  test("a loop session keeps the caller's runtime confs and leaks none back") {
    // a fresh session, so the shared suite session's conf is untouched
    val caller = spark.newSession()
    caller.conf.set("spark.sql.ansi.enabled", "false")
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")

    val loop = LoopSession.nonAdaptive(caller, 5L)
    assert(loop ne caller)
    assert(loop.conf.get("spark.sql.ansi.enabled") == "false")
    assert(loop.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    // non-ANSI division by zero is null, not an error, inside the loop too
    assert(loop.sql("SELECT 1 / 0 AS q").head().isNullAt(0))
    assert(loop.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(loop.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(caller.conf.get("spark.sql.shuffle.partitions") == "4")

    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (2L, 4L))
    def ranks(s: org.apache.spark.sql.SparkSession) = {
      val edges = s.createDataFrame(es).toDF("src", "dst")
      val pr = GraphOps.pageRank(s, edges, "src", "dst", 25, 0.85)
      assert(pr.sparkSession eq s, "the result is bound to the caller's session")
      pr.orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(ranks(caller) == ranks(spark))
    assert(caller.conf.get("spark.sql.ansi.enabled") == "false")
    assert(caller.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
