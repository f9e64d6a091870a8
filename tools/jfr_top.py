"""Summarise a JFR recording: where each thread family spends its CPU
samples, and which child processes the JVM started and from where.

    jfr print --json --stack-depth 64 --events jdk.ExecutionSample,jdk.ProcessStart rec.jfr > rec.json
    python3 tools/jfr_top.py rec.json [--top 15] [--threads "Executor task"]

Prints, per thread-name prefix (the name up to its first digit, `[`,
`(`, `#` or " for "), the top frames by self samples (the sampled leaf
frame) and by inclusive samples (each method counted once per sample
whose stack holds it), as shares of that prefix's samples. Then it
counts `jdk.ProcessStart` events by command (the executable's name), by
starting thread prefix and by Spark caller (the innermost
`org.apache.spark.` frame of the starting stack). `jfr print` keeps 5
frames per stack unless given `--stack-depth`, and the recording itself
64 unless started with `-XX:FlightRecorderOptions=stackdepth=N`.
"""
import argparse
import collections
import json
import re
import sys


def thread_prefix(name):
    return re.split(r"[\d\[(#]| for ", name or "?")[0].strip(" -:") or "?"


def frame_name(frame):
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return "%s.%s" % (cls, m.get("name", "?"))


def frames(event):
    return [frame_name(f) for f in ((event.get("stackTrace") or {}).get("frames") or [])]


def thread_of(event, key):
    t = event.get(key) or {}
    return t.get("javaName") or t.get("osName") or "?"


def load(path):
    with open(path) as fh:
        doc = json.load(fh)
    return [(e.get("type"), e.get("values", {})) for e in doc["recording"]["events"]]


def samples_by_prefix(events, only=None):
    """{prefix: (n, Counter self, Counter inclusive)} over the execution samples."""
    out = {}
    for kind, v in events:
        if kind != "jdk.ExecutionSample":
            continue
        prefix = thread_prefix(thread_of(v, "sampledThread"))
        if only and not prefix.startswith(only):
            continue
        stack = frames(v)
        if not stack:
            continue
        n, own, incl = out.setdefault(prefix, [0, collections.Counter(), collections.Counter()])
        out[prefix][0] = n + 1
        own[stack[0]] += 1
        incl.update(set(stack))
    return out


def process_starts(events):
    """Counters of process starts by command, by thread prefix and by Spark caller."""
    by_cmd, by_thread, by_caller = (collections.Counter() for _ in range(3))
    for kind, v in events:
        if kind != "jdk.ProcessStart":
            continue
        cmd = (v.get("command") or "?").split()
        by_cmd[cmd[0].rsplit("/", 1)[-1] if cmd else "?"] += 1
        by_thread[thread_prefix(thread_of(v, "eventThread"))] += 1
        spark = [f for f in frames(v) if f.startswith("org.apache.spark.")]
        by_caller[spark[0] if spark else "(no Spark frame in the recorded stack)"] += 1
    return by_cmd, by_thread, by_caller


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump", help="output of `jfr print --json`")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--threads", default=None, help="only thread prefixes starting with this")
    a = ap.parse_args(argv)
    events = load(a.dump)
    groups = samples_by_prefix(events, a.threads)
    for prefix, (n, own, incl) in sorted(groups.items(), key=lambda kv: -kv[1][0]):
        print("== %s: %d samples" % (prefix, n))
        for title, counts in (("self", own), ("inclusive", incl)):
            print("  -- %s" % title)
            for name, c in counts.most_common(a.top):
                print("  %6.1f %%  %s" % (100.0 * c / n, name))
    by_cmd, by_thread, by_caller = process_starts(events)
    print("== jdk.ProcessStart: %d" % sum(by_cmd.values()))
    for title, counts in (("command", by_cmd), ("thread", by_thread), ("Spark caller", by_caller)):
        print("  -- by %s" % title)
        for name, c in counts.most_common():
            print("  %6d  %s" % (c, name))
    return 0


if __name__ == "__main__":
    sys.exit(main())
