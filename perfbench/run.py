"""Playback benchmark: one command per workload run.

    python3 perfbench/run.py --workload burst-max --seed 1 --seconds 15 --trace 0

Builds the repository and the JVM harness (cached under .bench_build/),
generates the workload's CSV from the seed, plays it through the
engine's public entry points, checks every output the run produces and
prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The traced run
also writes its spans to .bench_build/perfbench/traces/.
See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("burst-max", "continuous-callback")
BUDGET_S = 175  # whole run, builds excluded


def run_harness(built, args, work, deadline):
    out = os.path.join(work, "out-%s.json" % args[0])
    log = os.path.join(work, "jvm-%s.log" % args[0])
    cmd = build.java_cmd(built) + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                       "perfbench.Harness"] + args + [out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "a timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError("harness %s ended with %s" % (args[0], rc))
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        built = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    deadline = time.time() + BUDGET_S

    work = os.path.join(build.OUT, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        doc = run_harness(built, ["run", a.workload, str(a.seed), str(a.seconds),
                                      str(a.trace), work], work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = metrics.end_to_end(doc)
    attempted, failed = info["attempted"], info["failed"]
    print("perfbench %s seed=%d window: loadavg %.2f -> %.2f, probe %.3f s -> %.3f s "
          "(%d threads), cpu steal %.1f%%"
          % (a.workload, a.seed, doc["load_before"], doc["load_after"], doc["probe_s_before"],
             doc["probe_s_after"], doc["nproc"], 100 * metrics.steal_share(doc)))
    for name, (v, unit) in e2e.items():
        print("  %-16s %14.4f %s" % (name, v if v is not None else float("nan"), unit))
    print("  %-16s %14.6f fraction  (%d failed of %d; %s)"
          % ("error_rate", info["error_rate"], failed, attempted, json.dumps(info["check"])))
    print("  phases (s): %s" % json.dumps({k: round(v, 2) for k, v in doc.get("phase_s", {}).items()}))
    print("  %-16s %14.4f ms (p%.1f of %d batches, not a tail at this count; not bounded)"
          % ("lag_tail_ms", info["lag_tail_ms"] if info["lag_tail_ms"] is not None
             else float("nan"), info["lag_tail_pct"] or 0, info["lag_n"]))
    print("  %d batches measured at configured %d readings/s"
          % (info["batches"], info["configured_rps"]))

    if a.trace:
        layer = metrics.per_layer(doc)
        trace_dir = os.path.join(build.OUT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        sp = metrics.spans(doc)
        path = os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))
        with open(path, "w") as fh:
            json.dump({"spans": sp, "self_ms": metrics.self_times(sp)}, fh)
        for name, (v, unit) in layer.items():
            print("  %-32s %14.4f %s" % (name, v if v is not None else float("nan"), unit))
        print("  spans: %s" % path)
        out = layer
    else:
        out = e2e
    missing = [k for k, (v, _) in out.items() if v is None]
    if missing:
        print("perfbench: no value for %s" % ", ".join(missing), file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
