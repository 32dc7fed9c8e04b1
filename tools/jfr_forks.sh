#!/usr/bin/env bash
# Counts the child processes a JVM started, from a Java Flight Recorder file.
#
#   tools/jfr_forks.sh <recording.jfr>
#
# Reads the recording's jdk.ProcessStart events (JDK 15+, on in the default
# and profile settings) and prints their counts three ways:
#   - by command (the program, e.g. chmod, readlink, rm);
#   - by origin: the first graft.* or perfbench.* frame of the recorded
#     stack; task threads and deep driver stacks often have none;
#   - by the directory the command worked on: the parent of its last
#     absolute-path argument (`file:` stripped), with UUIDs, perfbench run
#     ids and digits collapsed so per-batch and per-run directories group
#     together, and shown relative to the directory this script runs in;
#     without such an argument, the process's work dir.
# Record a perfbench run with, for example:
#   JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/abs/run.jfr,settings=profile,dumponexit=true -XX:FlightRecorderOptions=stackdepth=256" \
#     python3 perfbench/run.py --workload queue_stream_ingest --seed 1
# (build once first without the variable, so only the harness JVM records).
set -euo pipefail
if [ $# -ne 1 ] || [ ! -f "$1" ]; then
  echo "usage: $0 <recording.jfr>" >&2
  exit 2
fi
jfr print --json --stack-depth 256 --events jdk.ProcessStart "$1" | python3 -c '
import collections, json, os, re, sys

events = json.load(sys.stdin)["recording"]["events"]

def collapse(path):
    path = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>", path)
    path = re.sub(r"\d{8}-\d{6}-[0-9a-f]{8}", "<run>", path)
    return re.sub(r"\d+", "N", path)

here = os.getcwd()
by_cmd, by_origin, by_dir = (collections.Counter() for _ in range(3))
for e in events:
    v = e["values"]
    words = (v.get("command") or "").split()
    prog = os.path.basename(words[0]) if words else "?"
    frames = ((v.get("stackTrace") or {}).get("frames")) or []
    origin = "(none)"
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"]
        if cls.startswith(("graft.", "perfbench.")):
            origin = "%s.%s" % (re.sub(r"\$\$Lambda.*", "$$Lambda", cls), m["name"])
            break
    paths = [w[len("file:"):] if w.startswith("file:") else w for w in words[1:]]
    paths = [w for w in paths if w.startswith("/")]
    where = os.path.dirname(paths[-1]) if paths else (v.get("directory") or "?")
    if where.startswith(here + "/"):
        where = "." + where[len(here):]
    by_cmd[prog] += 1
    by_origin[prog + "  " + origin] += 1
    by_dir[prog + "  " + collapse(where)] += 1

print("jdk.ProcessStart events: %d" % len(events))
for title, c in (("by command", by_cmd), ("by command and first graft./perfbench. frame", by_origin),
                 ("by command and directory", by_dir)):
    print("\n%s:" % title)
    for k, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0])):
        print("  %6d  %s" % (n, k))
'
