#!/usr/bin/env python3
"""CPU samples of a Java Flight Recorder file, as three tables.

    tools/jfr_top.py <recording.jfr> [frame-substring ...] [--top N]

Reads the recording's jdk.ExecutionSample events (one per sampled Java
thread that was running Java code) through `jfr print --json` and prints:
  - samples per thread group: thread names with their numbers collapsed,
    so every Spark task thread ("Executor task launch worker for task N.N
    in stage N.N (TID N)") lands in one group;
  - the top leaf frames (the method a sample was running), over all threads;
  - for each frame substring given, the samples with a frame containing it
    anywhere on the stack ("under X"), in all and per thread group, as
    counts and as a share of all samples, then the top callers of the
    leaf-most such frame (who reaches X).
A frame reads `package.Class.method` (a Scala object's class ends in `$`),
so `from_json`'s parse is under `JsonToStructs`, and
`UTF8String.fromString` matches that method alone.
Record with a deep stack, or the "under" counts miss deep frames:

  JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/abs/run.jfr,settings=profile,dumponexit=true -XX:FlightRecorderOptions=stackdepth=256" \\
    python3 perfbench/run.py --workload publish_roundtrip --seed 1
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def thread_group(name):
    if name.startswith("Executor task launch worker"):
        return "executor tasks"
    return re.sub(r"\d+", "N", name) or "?"


def frame_name(frame):
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{method.get('name') or '?'}"


def samples(path):
    """(thread group, frames leaf first) per execution sample."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "1024",
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = v.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or "?"
        frames = ((v.get("stackTrace") or {}).get("frames")) or []
        yield thread_group(name), [frame_name(f) for f in frames]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("substrings", nargs="*", metavar="frame-substring")
    ap.add_argument("--top", type=int, default=25, help="leaf frames to list")
    args = ap.parse_args()

    rows = list(samples(args.recording))
    total = len(rows)
    if total == 0:
        sys.exit(f"{args.recording}: no jdk.ExecutionSample events")
    by_group = collections.Counter(g for g, _ in rows)
    leaves = collections.Counter(fs[0] for _, fs in rows if fs)
    groups = [g for g, _ in by_group.most_common()]

    def share(n):
        return f"{100.0 * n / total:5.1f}%"

    print(f"{total} CPU samples (jdk.ExecutionSample) in {args.recording}")
    print("\n== samples per thread group")
    for g, n in by_group.most_common():
        print(f"{n:8d} {share(n)}  {g}")
    print(f"\n== top {args.top} leaf frames, all threads")
    for f, n in leaves.most_common(args.top):
        print(f"{n:8d} {share(n)}  {f}")
    if args.substrings:
        shown = groups[:4]
        print("\n== samples with a frame containing X anywhere on the stack")
        width = max(len(s) for s in args.substrings + ["X"])
        print(f"{'X':<{width}}  {'all':>8} {'share':>6}  " +
              "  ".join(f"{g[:22]:>22}" for g in shown))
        for s in args.substrings:
            hit, callers = collections.Counter(), collections.Counter()
            for g, fs in rows:
                i = next((i for i, f in enumerate(fs) if s in f), None)
                if i is not None:
                    hit[g] += 1
                    callers[fs[i + 1] if i + 1 < len(fs) else "(stack end)"] += 1
            n = sum(hit.values())
            print(f"{s:<{width}}  {n:8d} {share(n)}  " +
                  "  ".join(f"{hit[g]:>22d}" for g in shown))
            for f, c in callers.most_common(3):
                print(f"{'':<{width}}  {c:8d}         called by {f}")


if __name__ == "__main__":
    main()
