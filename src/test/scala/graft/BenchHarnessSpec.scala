package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's failure-accounting contract: a query that fails
  * (analysis error, runtime error) must surface as FAILED in the output
  * JSON — timing −1, named in the `failed` list, excluded from the
  * total — never as a fast wall-clock "win" recorded from the time it
  * took to throw. (Round 8 shipped three 0.05 s fast-fail artifacts as
  * timings; this pins the fix.) Pure harness logic, no SparkSession.
  */
class BenchHarnessSpec extends AnyFunSuite {

  test("a query failing every run reports timing -1, never its fast-fail wall time") {
    val once: String => Long = {
      case "bad" => -1L // Bench.once returns -1 when the query throws
      case _     => 42L
    }
    val results = Bench.measure(Seq("good", "bad"), once).toMap
    assert(!results("good").failed && results("good").sec >= 0)
    assert(results("bad").failed && results("bad").sec == -1.0)
  }

  test("a query failing only in a timing round is still marked failed") {
    var calls = 0
    val once: String => Long = { _ =>
      calls += 1
      if (calls == 3) -1L else 7L // warmup ok, second timing round fails
    }
    val results = Bench.measure(Seq("flaky"), once).toMap
    assert(results("flaky").failed,
      "one bad sample must fail the query: its min would otherwise hide the failure")
  }

  test("renderJson excludes failures from the total and names them") {
    val rs = Seq(
      "q_ok" -> Bench.QueryResult(1.5, 100L),
      "q_broken" -> Bench.QueryResult(-1.0, -1L),
      "q_ok2" -> Bench.QueryResult(0.5, 10L))
    val json = Bench.renderJson(rs, 1000.0, 8000.0, "/tmp/sf")
    assert(json.contains(""""value":2.000"""), json) // 1.5 + 0.5, not + (-1)
    assert(json.contains(""""failed":["q_broken"]"""), json)
    assert(json.contains(""""bench_failures":1"""), json)
    assert(json.contains(""""q_broken":-1.000"""), json)
  }

  test("all-green run emits an empty failed list and zero failure count") {
    val json = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf")
    assert(json.contains(""""failed":[]"""), json)
    assert(json.contains(""""bench_failures":0"""), json)
  }

  test("renderJson emits the in-band scaling contract (cpus/master/sf_dir)") {
    val json = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf",
      cpus = Some(32), master = "local[32]")
    assert(json.contains(""""cpus":32"""), json)
    assert(json.contains(""""master":"local[32]""""), json)
    assert(json.contains(""""sf_dir":"/tmp/sf""""), json)
    // legacy callers (no cpus) keep the old shape — no dangling comma
    val legacy = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf")
    assert(!legacy.contains(""""cpus""""), legacy)
    assert(legacy.contains(""""unit":"sec","queries""""), legacy)
  }

  test("renderJson writes cpus as a number and escapes env-supplied strings") {
    val numeric = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.renderJson(Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf",
        cpus = Some(8), master = "local[8]"))
    assert(numeric.get("cpus").isInt && numeric.get("cpus").asInt == 8)
    // control characters and quotes in env-supplied strings are escaped
    val odd = "/tmp/s\tf\"x"
    val escaped = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.renderJson(Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, odd,
        cpus = Some(8), master = "local[8]"))
    assert(escaped.get("sf_dir").asText == odd && escaped.get("sf").asText == odd)
  }

  test("renderJson carries the parallelism sentinel and task accounting verbatim") {
    // the fields the r12 sentinel redesign added are the driver's only
    // window into a degraded measurement — pin their presence and that
    // host_scaling_ratio is the WORST (max) bracketing snapshot, so a
    // contended after-probe can't be averaged away by a quiet before
    val sents = Seq(
      PlaybackBench.HostSentinel(0.28, 0.33, 32, 0.33 / 0.28, 32, 1.5),
      PlaybackBench.HostSentinel(0.29, 1.16, 32, 4.0, 32, 65.2))
    val json = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), 1000.0, 8000.0, "/tmp/sf",
      probes = Seq(0.27, 0.29), sentinels = sents,
      stopInterrupts = 2L, taskFailed = 3L, taskKilled = 1L)
    assert(json.contains(""""host_scaling_ratio":4.00"""), json)
    assert(json.contains(""""playback_stop_interrupts":2"""), json)
    assert(json.contains(""""task_failed":3"""), json)
    assert(json.contains(""""task_killed":1"""), json)
    assert(json.contains(""""loadavg_1m":65.20"""), json)
    assert(json.contains(""""available_processors":32"""), json)
    // and the whole line must stay machine-parseable JSON: quick
    // structural check via the most fragile nesting (array of objects)
    assert(json.contains(""""host_sentinel":[{"""), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), json)
  }

  test("phase sampler attributes a phase's own window and rides the JSON") {
    // the r12 agg8 lesson: bracketing sentinels can read quiet around a
    // phase whose contention arrived and left inside it. The sampler
    // must (a) capture at least one loadavg+probe sample even for a
    // short phase (first tick does both), (b) fold them into stats with
    // a positive probe median, (c) land under "phase_contention" keyed
    // by phase name in the bench JSON.
    val (result, stats) = PlaybackBench.sampledPhase {
      Thread.sleep(1200); 42
    }
    assert(result == 42)
    assert(stats.samples >= 1, stats)
    assert(stats.probeMedSec > 0, stats)
    assert(stats.loadMax >= stats.loadMin)
    assert(stats.probeFactor > 0, stats)
    val json = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf",
      phases = Seq("agg8" -> stats))
    assert(json.contains(""""phase_contention":{"agg8":{"""), json)
    assert(json.contains(""""probe_med_sec":"""), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), json)
  }

  test("per-query contention buckets: marked samples land on their query") {
    val s = new PlaybackBench.PhaseSampler()
    s.mark("q_one"); s.mark("q_one"); s.mark("q_two")
    s.stop()
    val by = s.labelStats
    assert(by.keySet == Set("q_one", "q_two"), by)
    assert(by("q_one").samples >= 2, by)
    assert(by("q_two").samples >= 1, by)
    assert(by("q_two").probeFactor > 0, by)
    val json = Bench.renderJson(
      Seq("q_one" -> Bench.QueryResult(1.0, 5L),
        "q_two" -> Bench.QueryResult(2.0, 5L)),
      -1.0, -1.0, "/tmp/sf", queryContention = by)
    assert(json.contains(""""query_contention":{"q_one":{"""), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), json)
  }

  test("measure calls beforeEach outside the timed region, every pass") {
    val marks = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = Bench.measure(Seq("a", "b"),
      once = _ => 1L, rounds = 3, beforeEach = marks += _)
    assert(r.forall(!_._2.failed))
    assert(marks.count(_ == "a") == 4 && marks.count(_ == "b") == 4) // warmup + 3
  }

  test("prior-round regression annotation: ratio > 1.3 only, with its window") {
    val prior = Bench.parsePriorQueries(
      """{"metric":"total","queries":{"fast":0.500,"slow":1.000,"gone":2.0},"sf":"x"}""")
    assert(prior == Map("fast" -> 0.5, "slow" -> 1.0, "gone" -> 2.0))
    val json = Bench.renderJson(
      Seq("fast" -> Bench.QueryResult(0.55, 5L), // 1.1× — quiet
        "slow" -> Bench.QueryResult(1.70, 5L), // 1.7× — annotated
        "fresh" -> Bench.QueryResult(9.0, 5L)), // no prior — skipped
      -1.0, -1.0, "/tmp/sf", prior = prior)
    assert(json.contains(""""regressions":[{"query":"slow""""), json)
    assert(json.contains(""""ratio":1.70""") || json.contains(""""ratio":1.7"""), json)
    assert(!json.contains("\"query\":\"fast\""), json)
    assert(!json.contains("\"query\":\"fresh\""), json)
    assert(json.count(_ == '{') == json.count(_ == '}'), json)
  }
}
