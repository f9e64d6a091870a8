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

  test("renderJson emits the in-band scaling contract (cpus/master/sf)") {
    val json = Bench.renderJson(
      Seq("a" -> Bench.QueryResult(1.0, 5L)), -1.0, -1.0, "/tmp/sf",
      cpus = Some(32), master = "local[32]")
    assert(json.contains(""""cpus":32"""), json)
    assert(json.contains(""""master":"local[32]""""), json)
    assert(json.contains(""""sf":"/tmp/sf""""), json)
    assert(!json.contains(""""sf_dir""""), json)
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
    assert(escaped.get("sf").asText == odd)
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

  test("renderJson keeps every key, its order and its decimals byte for byte") {
    val st = PlaybackBench.PhaseStats(3, 0.5, 1.125, 2.0, 0.00812345, 0.0125)
    val json = Bench.renderJson(
      Seq("q1" -> Bench.QueryResult(1.23456, 10L, 4.5),
        "t39_bpe_wide_train" -> Bench.QueryResult(0.5, 3L, 60.0),
        "bad" -> Bench.QueryResult(-1.0, -1L)),
      1015234.5, 3.9e6, "/tmp/sf",
      probes = Seq(0.27, 0.2915),
      sentinels = Seq(PlaybackBench.HostSentinel(0.28, 0.33, 4, 0.33 / 0.28, 4, 1.5)),
      stopInterrupts = 1L, taskFailed = 2L, taskKilled = 3L,
      phases = Seq("playback" -> st), queryContention = Map("q1" -> st),
      prior = Map("q1" -> 0.5), priorName = Some("./BENCH_r16.json"),
      cpus = Some(4), master = "local[4]")
    val stats = """{"samples":3,"loadavg_min":0.50,"loadavg_mean":1.13,"loadavg_max":2.00,""" +
      """"probe_med_sec":0.0081,"probe_max_sec":0.0125,"probe_factor":0.98}"""
    assert(json ==
      """{"metric":"total","value":1.735,"unit":"sec","cpus":4,"master":"local[4]",""" +
      """"queries":{"q1":1.235,"t39_bpe_wide_train":0.500,"bad":-1.000},""" +
      """"warmup_queries":{"q1":4.500,"t39_bpe_wide_train":60.000},""" +
      """"memoized":["t39_bpe_wide_train"],"failed":["bad"],"bench_failures":1,""" +
      """"playback_rps":1015235,"playback_rps_agg8":3900000,"host_probe_sec":[0.270,0.292],""" +
      """"host_noise_factor":1.10,"host_sentinel":[{"probe1_sec":0.280,"probeN_sec":0.330,""" +
      """"n_threads":4,"scaling_ratio":1.18,"available_processors":4,"loadavg_1m":1.50}],""" +
      s""""host_scaling_ratio":1.18,"phase_contention":{"playback":$stats},""" +
      s""""query_contention":{"q1":$stats},"regressions":[{"query":"q1","prev_sec":0.500,""" +
      """"sec":1.235,"ratio":2.47,"probe_factor":0.98,"loadavg_mean":1.13}],""" +
      """"prior_bench":"./BENCH_r16.json","playback_stop_interrupts":1,"task_failed":2,""" +
      """"task_killed":3,"sf":"/tmp/sf"}""", json)
  }

  test("prior-round regression annotation: ratio > 1.3 only, with its window") {
    val prior = Bench.parsePriorQueries(
      """{"metric":"total","queries":{"fast":0.500,"slow":1.000,"gone":2.0},"sf":"x"}""")
    assert(prior == Map("fast" -> 0.5, "slow" -> 1.0, "gone" -> 2.0))
    // the committed BENCH_r*.json files are the driver's pretty-printed
    // wrapper, the line itself under "parsed"
    val wrapped =
      """{
        |  "n": 16,
        |  "rc": 0,
        |  "tail": "... \"queries\":{\"stale\":9.0} ...",
        |  "parsed": {
        |    "metric": "total",
        |    "queries": {
        |      "fast": 0.5,
        |      "slow": 1.0,
        |      "gone": 2.0
        |    },
        |    "warmup_queries": {
        |      "fast": 3.0
        |    }
        |  }
        |}""".stripMargin
    assert(Bench.parsePriorQueries(wrapped) == prior)
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
