"""Pure metric logic of the playback benchmark.

Everything here works on the raw observations the JVM harness records
(progress events, task ends, callback times, check counts) and has no
side effects, so it is unit-tested without Spark (perfbench/tests).
Times are epoch milliseconds, as in Spark's progress events.
"""
import json
import statistics

# progress-event phases of one micro-batch, in the order
# MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail(values, min_beyond=10):
    """The sample at the highest percentile that still has at least
    `min_beyond` samples above it: (value, percentile, n). With too few
    samples for any percentile to qualify, the minimum is returned at
    percentile 0, so the figure never rests on fewer than `min_beyond`
    samples beyond it unless there are none at all."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    k = max(0, n - 1 - min_beyond)
    pct = 100.0 * k / (n - 1) if n > 1 else 0.0
    return xs[k], pct, n


def parse_offset(text):
    """A `PlaybackOffset` JSON as it appears in a progress event's
    `sources[0].startOffset/endOffset` (None for the initial offset)."""
    if text is None:
        return {"totalRows": 0, "file": None, "fileStart": 0, "fileBytes": -1}
    d = json.loads(text, strict=False)
    return {"totalRows": int(d.get("totalRows", 0)), "file": d.get("file"),
            "fileStart": int(d.get("fileStart", 0)), "fileBytes": int(d.get("fileBytes", -1))}


def offset_rows(batch):
    """Rows the batch's offset range promises: endOffset - startOffset."""
    return parse_offset(batch["eo"])["totalRows"] - parse_offset(batch["so"])["totalRows"]


def row_loss(batches):
    """(rows lost, batches whose delivered count differs from their
    offset range) over progress records with `so`, `eo` and `rows`."""
    lost = mismatched = 0
    for b in batches:
        want = offset_rows(b)
        if want != b["rows"]:
            mismatched += 1
            lost += max(0, want - b["rows"])
    return lost, mismatched


def completion_ms(batch):
    return batch["start_ms"] + batch["dur"].get("triggerExecution", 0)


def grant_ms(batch):
    """When the source admitted the batch's rows: the end of its
    latestOffset call."""
    return batch["start_ms"] + batch["dur"].get("latestOffset", 0)


def in_window(batches, window):
    """Batches after the first one (the start-up batch, billed to set-up)
    whose trigger started inside the measured window. The start picks
    them, not the completion: if a batch's own duration decided whether
    it counts, the window would keep late finishers at its start and
    early finishers at its end, shortening the measured span while the
    rows stay the same, and throughput would read high."""
    w0, w1 = window
    return [b for b in batches[1:] if w0 <= b["start_ms"] < w1]


def segments_throughput(segments):
    """Whole-batch throughput over several disjoint runs of batches:
    the rows of every batch but the last over the time from the first
    batch's trigger start to the last one's. A micro-batch starts only
    after the one before it has completed, so that span holds those
    batches whole. Trigger starts, unlike completions, carry no batch's
    own duration jitter: on a paced source they sit on the poll grid
    and read the pace, and in a closed loop each one follows the
    previous completion."""
    rows = secs = 0.0
    for seg in segments:
        if len(seg) > 1:
            rows += sum(b["rows"] for b in seg[:-1])
            secs += (seg[-1]["start_ms"] - seg[0]["start_ms"]) / 1000.0
    return rows / secs if secs > 0 else None


def due_ticks(t0_ms, pace_ms, grants, slack_ms=5.0):
    """When each granted chunk fell due under the source's pacing rule:
    one chunk per pace tick from t0, and a tick that passes while the
    engine is busy is dropped, never banked, so a late chunk falls due
    at the tick in which it was granted. `grants` are the grant times of
    the chunks after the first (which is due at t0). Where no tick is
    skipped, chunk k is due at t0 + k * pace, the configured schedule.
    The source never grants before a tick; `slack_ms` absorbs the
    millisecond rounding of progress timestamps around one."""
    due, prev = [], t0_ms
    for g in grants:
        tick = t0_ms + ((g - t0_ms + slack_ms) // pace_ms) * pace_ms
        prev = max(prev + pace_ms, tick)
        due.append(prev)
    return due


def ticks_skipped(grants, pace_ms):
    """Pace ticks elapsed from the first grant to the last, minus the
    grants made: > 0 means the engine, not the pace, set the rate."""
    if not grants:
        return 0
    elapsed = int((grants[-1] - grants[0]) // pace_ms) + 1
    return max(0, elapsed - len(grants))


def intervals(times):
    return [b - a for a, b in zip(times, times[1:])]


def union_ms(intervals_, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals_):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --------------------------------------------------------------- legs

class Run:
    """One run of a leg's query in the harness document: its cold start,
    measured window, non-empty batches, callbacks (facade legs) and task
    ends (traced legs)."""

    TASK_FIELDS = ("batch", "launch", "finish", "run", "cpu_ns", "gc", "deser", "ser",
                   "result", "bytes", "records")

    def __init__(self, doc, leg):
        self.doc = doc
        self.batches = doc["batches"]
        self.window = doc["window"]
        self.rate = leg["rate"]
        self.pace_ms = leg["pace_ms"]
        self.callbacks = [c for c in doc["callbacks"] if c[1] > 0]
        self.tasks = [dict(zip(self.TASK_FIELDS, t)) for t in doc.get("tasks", [])]

    def setup_s(self):
        call, _, first = self.doc["setup"]
        return (first - call) / 1000.0

    def measured(self):
        return in_window(self.batches, self.window)

    def phase_throughput(self):
        """Whole-batch throughput (untraced, traced) by batch start: the
        traced span is the middle of the window, untraced its ends."""
        ta, tb = self.doc["traced"]
        m = self.measured()
        return (segments_throughput([[b for b in m if b["start_ms"] < ta],
                                     [b for b in m if b["start_ms"] >= tb]]),
                segments_throughput([[b for b in m if ta <= b["start_ms"] < tb]]))

    def traced(self):
        """Measured batches that ran wholly while the task listener was on."""
        ta, tb = self.doc["traced"]
        return [b for b in self.measured() if b["start_ms"] >= ta and completion_ms(b) <= tb]

    def throughput(self):
        return segments_throughput([self.measured()])

    def delivered_ms(self, batch):
        """When the batch reached its sink: the callback entry for facade
        legs, the end of the batch otherwise."""
        first = parse_offset(batch["so"])["totalRows"]
        for c in self.callbacks:
            if int(c[2]) == first:
                return c[0]
        return completion_ms(batch)

    def due_ms(self):
        """{batch id: when its first reading fell due}, see due_ticks."""
        t0 = grant_ms(self.batches[0])
        rest = self.batches[1:]
        return dict(zip([b["id"] for b in rest],
                        due_ticks(t0, self.pace_ms, [grant_ms(b) for b in rest])))

    def lags(self):
        due = self.due_ms()
        return [self.delivered_ms(b) - due[b["id"]] for b in self.measured()]

    def ns_per_row(self):
        """Engine wall time per row: addBatch over rows of the measured
        batches."""
        bs = self.measured() or self.batches[1:]
        rows = sum(b["rows"] for b in bs)
        return sum(b["dur"].get("addBatch", 0) for b in bs) * 1e6 / rows if rows else None

    def callback_ms(self):
        return [c[3] for c in self.callbacks]

    def tasks_by_batch(self):
        out = {}
        for t in self.tasks:
            out.setdefault(t["batch"], []).append(t)
        return out


def runs(leg):
    return [Run(r, leg) for r in leg["runs"]]


def phase_median(run, key):
    return median([b["dur"].get(key, 0) for b in run.measured()])


LAG_PARTS = ("pace_wait", "engine", "prepare", "schedule", "tasks", "driver")


def lag_parts(run, batches):
    """Split each traced batch's lag into named layers, in time order:
    pace wait (due -> trigger start), engine phases before the write
    (latestOffset, walCommit, getBatch, queryPlanning), write prepare
    (addBatch start -> job submitted), schedule (-> first task launch),
    the write job's task span, and driver (last task end -> delivery).
    The parts tile the lag: prepare (sink-side planning before the job)
    starts where the summed pre-write phase durations end, so it also
    holds whatever time the progress phases leave between them. That
    unnamed time is at most the trigger's time outside all its named
    phases, which the share counts as unattributed:
    attributed share = 1 - sum(trigger - named phases) / sum(lag)."""
    by_batch = run.tasks_by_batch()
    job_at = {}
    for batch, t in run.doc.get("jobs", []):
        job_at[batch] = min(t, job_at.get(batch, t))
    due = run.due_ms()
    parts = {k: [] for k in LAG_PARTS}
    lag_sum = residual = 0.0
    for b in batches:
        ts = by_batch.get(b["id"], [])
        if not ts or b["id"] not in job_at:
            continue
        delivered = run.delivered_ms(b)
        engine = sum(b["dur"].get(k, 0) for k in PHASES[:4])
        launch, finish = min(t["launch"] for t in ts), max(t["finish"] for t in ts)
        p = {"pace_wait": b["start_ms"] - due[b["id"]], "engine": engine,
             "prepare": job_at[b["id"]] - (b["start_ms"] + engine),
             "schedule": launch - job_at[b["id"]],
             "tasks": finish - launch, "driver": delivered - finish}
        for k, v in p.items():
            parts[k].append(v)
        lag_sum += delivered - due[b["id"]]
        residual += max(0, b["dur"].get("triggerExecution", 0) - sum(b["dur"].get(k, 0)
                                                                     for k in PHASES))
    share = 1.0 - residual / lag_sum if lag_sum > 0 else None
    return {k: median(v) for k, v in parts.items()}, share


# ------------------------------------------------------------ summary

def steal_share(doc):
    """Share of CPU time the hypervisor stole between the run's start
    and end (from /proc/stat)."""
    (s0, t0), (s1, t1) = doc["cpu_ticks"]
    return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def check_counts(doc):
    """(attempted, failed, detail) over the run's output checks and the
    row-loss accounting of every recorded batch."""
    main = runs(doc["legs"]["main"])
    batches = [b for r in main for b in r.batches]
    lost, mism = row_loss(batches)
    attempted = sum(len(r.measured()) for r in main)
    failed = mism
    chk = doc.get("main_check") or doc.get("check")
    attempted += chk["readings"]
    failed += chk["bad"] + chk["gap_batches"]
    if "check" in doc:
        c_lost, c_mism = row_loss(doc["check"]["batches_rec"])
        lost += c_lost
        failed += c_mism
        if chk["batches"] < 2:
            failed += 1
    clean = doc.get("clean")  # traced runs: the CleanCsv batch step
    if clean:
        attempted += clean["expected_rows"]
        failed += clean["bad"] + abs(clean["expected_rows"] - clean["rows"])
    errors = [e for e in [r.doc.get("error") for r in main] + [chk.get("error")] if e]
    failed += len(errors)
    detail = {"rows_lost": lost, "mismatched_batches": mism, "bad_readings": chk["bad"],
              "gap_batches": chk["gap_batches"], "readings_checked": chk["readings"],
              "first_error": chk.get("first_error"), "errors": errors}
    return max(1, attempted), failed, detail


def end_to_end(doc):
    """The untraced figures: {name: (value, unit)} plus the check detail.
    Throughput and lags pool the windows of all the leg's runs. The lag
    tail goes with the detail, not the figures: a run measures 15 to 22
    batches, so the highest percentile with 10 beyond is about p29-p52,
    a second median rather than a tail, and it is printed with its
    percentile but not bounded."""
    main = runs(doc["legs"]["main"])
    lags = [x for r in main for x in r.lags()]
    lag_tail, lag_pct, lag_n = tail(lags)
    attempted, failed, detail = check_counts(doc)
    m = {
        "setup_s": (median([r.setup_s() for r in main]), "s"),
        "throughput_rps": (segments_throughput([r.measured() for r in main]), "readings/s"),
        "lag_p50_ms": (median(lags), "ms"),
        "heap_live_mb": (median([r.doc["heap_live_mb"] for r in main]), "MB"),
    }
    info = {"lag_tail_ms": lag_tail, "lag_tail_pct": lag_pct, "lag_n": lag_n,
            "error_rate": failed / attempted, "attempted": attempted, "failed": failed, "check": detail,
            "configured_rps": main[0].rate, "batches": sum(len(r.measured()) for r in main)}
    return m, info


def per_layer(doc):
    """The traced run's per-layer figures: {name: (value, unit)}. Task
    figures come from the batches that ran wholly while the task
    listener was on (the middle half of the main leg's window)."""
    legs = {k: runs(v)[0] for k, v in doc["legs"].items()}
    main = legs["main"]
    traced = main.traced()
    m = {}
    m["schema.resolve_ms"] = (median(doc["schema_resolve_ms"]), "ms")
    m["index.build_ms"] = (median(doc["index_build_ms"]), "ms")
    m["index.tasks"] = (doc["index_tasks"], "count")

    by_batch = main.tasks_by_batch()
    tb = [(b, by_batch[b["id"]]) for b in traced if b["id"] in by_batch]
    m["reader.ns_per_row"] = (legs["raw"].ns_per_row(), "ns")
    records = sum(t["records"] for t in main.tasks)
    m["reader.bytes_per_row"] = (sum(t["bytes"] for t in main.tasks) / records
                                 if records else None, "B")
    m["parse.ns_per_row"] = (legs["t1"].ns_per_row() - legs["raw"].ns_per_row(), "ns")
    m["ts.ns_per_row"] = (legs["t3"].ns_per_row() - legs["t2"].ns_per_row(), "ns")

    measured = main.measured()
    m["source.ticks_skipped"] = (ticks_skipped([grant_ms(b) for b in measured], main.pace_ms),
                                 "count")
    m["source.rows_lost"] = (row_loss(main.batches)[0], "rows")
    m["batch.rows"] = (median([b["rows"] for b in measured]), "rows")

    for name, key in (("latest_offset", "latestOffset"), ("query_planning", "queryPlanning"),
                      ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                      ("trigger", "triggerExecution")):
        m["batch.%s_ms" % name] = (phase_median(main, key), "ms")
    gaps = intervals([completion_ms(b) for b in measured])
    m["batch.interval_ms_p50"] = (median(gaps), "ms")
    m["batch.interval_ms_tail"] = (tail(gaps)[0], "ms")

    m["task.count_per_batch"] = (median([len(ts) for _, ts in tb]), "count")
    m["task.run_ms_per_krow"] = (median([sum(t["run"] for t in ts) * 1000.0 / b["rows"]
                                         for b, ts in tb]), "ms")
    m["task.cpu_ms_per_krow"] = (median([sum(t["cpu_ns"] for t in ts) / 1e3 / b["rows"]
                                         for b, ts in tb]), "ms")
    m["task.scheduler_delay_ms"] = (median([
        max(0, t["finish"] - t["launch"] - t["run"] - t["deser"] - t["ser"] - t["result"])
        for _, ts in tb for t in ts]), "ms")
    m["task.gc_ms_per_batch"] = (median([sum(t["gc"] for t in ts) for _, ts in tb]), "ms")

    # self time of add_batch: its span minus the union of its tasks
    add_self, other = [], []
    for b, ts in tb:
        d = b["dur"]
        a0 = b["start_ms"] + sum(d.get(k, 0) for k in PHASES[:4])
        a1 = a0 + d.get("addBatch", 0)
        add_self.append(d.get("addBatch", 0) - union_ms([(t["launch"], t["finish"]) for t in ts],
                                                        a0, a1))
        other.append(d.get("triggerExecution", 0) - sum(d.get(k, 0) for k in PHASES))
    m["self.add_batch_driver_ms"] = (median(add_self), "ms")
    m["self.batch_other_ms"] = (median(other), "ms")
    trig = sum(b["dur"].get("triggerExecution", 0) for b, _ in tb)
    named = sum(sum(b["dur"].get(k, 0) for k in PHASES) for b, _ in tb)
    m["trace.trigger_attributed_share"] = (named / trig if trig else None, "fraction")

    parts, share = lag_parts(main, traced)
    for k, v in parts.items():
        m["lag.%s_ms" % k] = (v, "ms")
    m["trace.lag_attributed_share"] = (share, "fraction")

    cb, t3 = legs["callback"], legs["t3"]
    cb_rows = sum(b["rows"] for b in cb.batches[1:])
    cb_cost = sum(b["dur"].get("addBatch", 0) for b in cb.batches[1:]) - sum(cb.callback_ms()[1:])
    m["sink.collect_ns_per_row"] = (cb_cost * 1e6 / cb_rows - t3.ns_per_row() if cb_rows else None,
                                    "ns")
    m["sink.callback_ms"] = (median(main.callback_ms() or cb.callback_ms()), "ms")

    m["host.loadavg_1m"] = ((doc["load_before"] + doc["load_after"]) / 2, "load")
    m["host.probe_s"] = ((doc["probe_s_before"] + doc["probe_s_after"]) / 2, "s")
    m["host.steal_share"] = (steal_share(doc), "fraction")

    untraced, with_trace = main.phase_throughput()
    m["trace.overhead_share"] = ((untraced - with_trace) / untraced
                                 if untraced and with_trace else None, "fraction")
    m["single.throughput_rps"] = (legs["single"].throughput(), "readings/s")
    m["clean.read_interpolate_ms"] = (doc["clean"]["ms"], "ms")
    m["heap.peak_after_gc_mb"] = (main.doc["heap_peak_mb"], "MB")
    m["gz.index_build_ms"] = (doc["gz_index_build_ms"], "ms")
    m["gz.index_tasks"] = (doc["gz_index_tasks"], "count")
    m["gz.ns_per_row"] = (legs["gz"].ns_per_row(), "ns")
    attempted, failed, _ = check_counts(doc)
    m["error_rate"] = (failed / attempted, "fraction")
    return m


def spans(doc):
    """The traced run as spans {id, name, start, end, parent}: setup →
    query.start (→ schema.resolve), first_batch (→ index.build); each
    batch → its progress phases, add_batch → task and callback. The
    durations of schema.resolve and index.build come from timed direct
    calls of the same functions on the same file."""
    out = []

    def add(name, start, end, parent=None):
        out.append({"id": len(out), "name": name, "start": start, "end": end, "parent": parent})
        return len(out) - 1

    leg = runs(doc["legs"]["main"])[0]
    call, ret, first = leg.doc["setup"]
    s = add("setup", call, first)
    qs = add("query.start", call, ret, s)
    add("schema.resolve", call, call + median(doc["schema_resolve_ms"]), qs)
    fb = add("first_batch", ret, first, s)
    if leg.batches:
        lo0 = leg.batches[0]["start_ms"]
        add("index.build", lo0, lo0 + median(doc["index_build_ms"]), fb)
    by_batch = leg.tasks_by_batch()
    cb = {int(c[2]): c for c in leg.callbacks}
    for b in leg.batches:
        t = b["start_ms"]
        bs = add("batch", t, t + b["dur"].get("triggerExecution", 0))
        for k in PHASES:
            d = b["dur"].get(k, 0)
            name = {"latestOffset": "latest_offset", "walCommit": "wal_commit",
                    "getBatch": "get_batch", "queryPlanning": "query_planning",
                    "addBatch": "add_batch", "commitOffsets": "commit_offsets"}[k]
            ps = add(name, t, t + d, bs)
            if k == "addBatch":
                for task in by_batch.get(b["id"], []):
                    add("task", task["launch"], task["finish"], ps)
                c = cb.get(parse_offset(b["so"])["totalRows"])
                if c:
                    add("callback", c[0], c[0] + c[3], ps)
            t += d
    return out


def self_times(span_list):
    """Total self time per span name: duration minus the union of its
    children's intervals."""
    kids = {}
    for sp in span_list:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in span_list:
        covered = union_ms(kids.get(sp["id"], []), sp["start"], sp["end"])
        out[sp["name"]] = out.get(sp["name"], 0.0) + (sp["end"] - sp["start"]) - covered
    return out
