#!/usr/bin/env python3
"""Per-stage task timings from Spark event logs.

    python3 tools/eventlog_tasks.py <event-log-dir-or-file>

Reads every event log under the argument (plain JSON lines, or `.zstd`
through the `zstd` binary; rolling `eventlog_v2_*` directories included).
For each log it lists, per SQL execution, every job and stage that ran
tasks with

    tasks    the stage's task count
    launch   stage submission -> first task launch, ms
    deser    Executor Deserialize Time, ms
    run      Executor Run Time, ms
    cpu      Executor CPU Time, ms

(task figures are medians over the stage's tasks). Jobs outside any SQL
execution are listed last. A summary follows: one row per call site (the
stage name, e.g. `runJob at BatchParquetWriter.scala:69`) with the number
of stages and the median and max of each figure over them. Record a log
with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/abs/dir" \\
        python3 perfbench/run.py --workload queue_stream_ingest --seed 51
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path


def log_files(root):
    root = Path(root)
    if root.is_file():
        return [root]
    return sorted(p for p in root.rglob("*")
                  if p.is_file() and not p.name.startswith(".") and "appstatus" not in p.name)


def events(path):
    if path.suffix == ".zstd":
        out = subprocess.run(["zstd", "-dc", str(path)], check=True, capture_output=True).stdout
        lines = out.decode("utf-8").splitlines()
    elif path.suffix in (".lz4", ".lzf", ".snappy"):
        sys.exit(f"{path}: only plain and .zstd logs are read (set spark.eventLog.compression.codec=zstd)")
    else:
        lines = path.read_text(encoding="utf-8").splitlines()
    for line in lines:
        if line.strip():
            yield json.loads(line)


class Stage:
    def __init__(self, sid, name, n):
        self.sid, self.name, self.n = sid, name, n
        self.submitted = None
        self.launches, self.deser, self.run, self.cpu = [], [], [], []

    def launch_ms(self):
        if self.submitted is None or not self.launches:
            return None
        return min(self.launches) - self.submitted

    def figures(self):
        med = lambda xs: statistics.median(xs) if xs else None
        return {"tasks": self.n, "launch": self.launch_ms(), "deser": med(self.deser),
                "run": med(self.run), "cpu": med(self.cpu)}


def parse(path):
    """(executions, jobs, stages): execution id -> description, job list, stage id -> Stage."""
    executions, jobs, stages = {}, [], {}
    for e in events(path):
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            executions[e["executionId"]] = e.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            for info in e.get("Stage Infos", []):
                sid = info["Stage ID"]
                stages.setdefault(sid, Stage(sid, info.get("Stage Name", "?"), info.get("Number of Tasks", 0)))
            jobs.append((int(ex) if ex is not None else None, e["Job ID"], e.get("Stage IDs", [])))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], info.get("Stage Name", "?"),
                                                           info.get("Number of Tasks", 0)))
            st.submitted = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            if st is None or not m:
                continue
            st.launches.append(e["Task Info"]["Launch Time"])
            st.deser.append(m.get("Executor Deserialize Time", 0))
            st.run.append(m.get("Executor Run Time", 0))
            st.cpu.append(m.get("Executor CPU Time", 0) / 1e6)
    return executions, jobs, stages


def fmt(x):
    return "-" if x is None else f"{x:.1f}" if isinstance(x, float) and x != int(x) else f"{int(x)}"


def report(path):
    executions, jobs, stages = parse(path)
    print(f"== {path}")
    ran = [st for st in stages.values() if st.launches]
    by_ex = defaultdict(list)
    for ex, job, sids in jobs:
        by_ex[ex].append((job, sids))
    for ex in sorted(by_ex, key=lambda k: (k is None, k)):
        desc = " ".join(executions.get(ex, "").split()) if ex is not None else "(no SQL execution)"
        print(f"execution {ex}: {desc[:120]}")
        for job, sids in by_ex[ex]:
            for sid in sids:
                st = stages.get(sid)
                if st is None or not st.launches:
                    continue
                f = st.figures()
                print(f"  job {job} stage {sid} {st.name}: tasks {f['tasks']}, launch {fmt(f['launch'])} ms, "
                      f"deser {fmt(f['deser'])} ms, run {fmt(f['run'])} ms, cpu {fmt(f['cpu'])} ms")
    print("summary by call site (per-stage figures, median/max over stages)")
    by_site = defaultdict(list)
    for st in ran:
        by_site[st.name].append(st.figures())
    cols = ["tasks", "launch", "deser", "run", "cpu"]
    width = max([len("call site")] + [len(k) for k in by_site])
    print(f"{'call site':<{width}}  stages  " + "  ".join(f"{c + ' p50/max':>15}" for c in cols))
    for site, figs in sorted(by_site.items(), key=lambda kv: -len(kv[1])):
        cells = []
        for c in cols:
            xs = [f[c] for f in figs if f[c] is not None]
            cells.append(f"{fmt(statistics.median(xs)) + '/' + fmt(max(xs)) if xs else '-':>15}")
        print(f"{site:<{width}}  {len(figs):>6}  " + "  ".join(cells))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("path")
    args = ap.parse_args()
    files = log_files(args.path)
    if not files:
        sys.exit(f"no event log under {args.path}")
    for f in files:
        report(f)


if __name__ == "__main__":
    main()
