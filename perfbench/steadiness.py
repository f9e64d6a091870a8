"""Steadiness check: runs one workload over several seeds and prints,
per end-to-end metric, the median and the spread (interquartile range
as a share of the median, from statistics.quantiles(n=4)) next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload burst-max --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values = {}
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print("seed %d: exit %d" % (s, r.returncode))
            continue
        res = json.loads(last)
        print("seed %d: correct=%s failed=%d %s" % (s, res["correct"], res["failed"], " ".join(
            "%s=%.6g" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-16s n=%2d median=%.6g spread=%.4f bound=%s" % (k, len(xs), med, spread,
                                                                 bounds.get(k)))


if __name__ == "__main__":
    sys.exit(main())
