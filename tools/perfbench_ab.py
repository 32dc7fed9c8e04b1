#!/usr/bin/env python3
"""A/B the working tree against its HEAD commit with perfbench.

    python3 tools/perfbench_ab.py --pr <n> --workload publish_roundtrip \\
        --seeds 3-12 [--traced-seeds 7]

The parent is HEAD's committed files, written with `git archive HEAD` into a
temporary directory; the change is a copy of the working tree's files that
git tracks or would add (tracked files still on disk and untracked files
that are not ignored), made into a sibling directory when the script
starts. Both sides thus build and run from fresh directories next to each
other, and later edits to the working tree do not reach the runs. The
directory is removed when the script ends. Both sides run at perfbench's
default length. For every seed
one parent run and one change run of `perfbench/run.py` follow each other;
the side that runs first alternates from pair to pair, so a drift of the
machine's load over the session does not favour one side. Traced runs
(`--trace 1`) are paired the same way and reported separately: their
per-layer metrics explain a difference, the untraced ones measure it.

The result goes to AB_PR<n>_<workload>.json at the root of the checkout and
is rewritten after every run, so an interrupted session keeps what it ran;
`--resume` with the same arguments runs only the pairs still missing.
For each end-to-end metric of BENCHMARK.json it holds per-side quartiles
over the untraced runs, how many pairs the change won, whether the gap
between the medians exceeds the parent's interquartile range, whether the
change median stays within the metric's bound, and the claim verdict: at
least ten pairs, the change better in at least nine of every ten, and the
median gap beyond the parent's interquartile range. Next to it, per side,
the quartiles of the per-iteration walls (`per_iteration_*`) and of the
retained heap at each stage boundary the harness samples (`heap_mb_*`).
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 900  # includes a first build of the side's sources


def seeds(spec):
    """"3-12" or "1,4,9" or a mix of both."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def quartiles(xs):
    if len(xs) == 1:
        return {"q1": xs[0], "median": xs[0], "q3": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"q1": q1, "median": med, "q3": q3}


def copy_worktree(dest):
    """Copies the working tree's tracked and untracked non-ignored files
    (as they are on disk) into `dest`."""
    listed = subprocess.run(
        ["git", "-C", str(ROOT), "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"], capture_output=True, check=True).stdout
    for rel in sorted({f for f in listed.decode().split("\0") if f}):
        src = ROOT / rel
        if src.is_file() or src.is_symlink():
            (dest / rel).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / rel, follow_symlinks=False)


def run_once(checkout, workload, seed, trace):
    """One perfbench run; returns its record (without side/pair fields)."""
    started = time.strftime("%H:%M:%S", time.gmtime())
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        stamp = json.loads(lines[-2])["perfbench"]
    except (IndexError, ValueError, KeyError):
        raise SystemExit(f"perfbench_ab: run in {checkout} printed no result "
                         f"(exit {r.returncode}):\n{r.stderr[-2000:]}")
    return {
        "trace": bool(trace),
        "started_utc": started,
        "commit": stamp.get("commit"),
        "load_avg_start": stamp.get("load_avg_start"),
        "load_avg_end": stamp.get("load_avg_end"),
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "detail": stamp.get("detail", {}),
    }


def summarize(runs, end_to_end):
    """Per-metric comparison over the untraced pairs."""
    untraced = [r for r in runs if not r["trace"]]
    by_pair = {}
    for r in untraced:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in by_pair.values() if len(p) == 2]
    out = {}
    for m in end_to_end if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name] for p in pairs]
        chg = [p["change"]["metrics"][name] for p in pairs]

        def better(a, b):
            return a < b if lower else a > b
        wins = sum(better(c, p) for c, p in zip(chg, par))
        pq, cq = quartiles(par), quartiles(chg)
        rel = (cq["median"] - pq["median"]) / pq["median"] if pq["median"] else 0.0
        gap_beyond_iqr = (better(cq["median"], pq["median"])
                          and abs(cq["median"] - pq["median"]) > pq["q3"] - pq["q1"])
        worse_rel = rel if lower else -rel
        out[name] = {
            "better": m["better"],
            "bound": m["bound"],
            "pairs": len(pairs),
            "change_wins": wins,
            "parent": pq,
            "change": cq,
            "median_change_rel": rel,
            "median_gap_exceeds_parent_iqr": gap_beyond_iqr,
            "all_change_better_than_all_parent":
                all(better(c, p) for c in chg for p in par),
            "within_bound": worse_rel <= m["bound"],
            "claim_holds": (len(pairs) >= 10
                            and wins >= math.ceil(0.9 * len(pairs))
                            and gap_beyond_iqr),
        }
    # per-iteration walls the harness lists in its detail record, as
    # quartiles over the per-run medians
    for key in sorted({k for r in untraced for k in r["detail"]}):
        if not key.endswith("_ms"):
            continue
        sides = {}
        for side in ("parent", "change"):
            meds = [statistics.median(float(x) for x in r["detail"][key].split())
                    for r in untraced if r["side"] == side and r["detail"].get(key)]
            if meds:
                sides[side] = quartiles(meds)
        out[f"per_iteration_{key}"] = sides
    # retained heap per stage boundary, from the harness's
    # "heap_mb_median_max" detail ("after_publish=102.0/130.4 ..."): the
    # quartiles over the runs of each run's median at that boundary, so a
    # heap claim shows which boundary moved
    heap = {side: [heap_medians(r["detail"].get("heap_mb_median_max", ""))
                   for r in untraced if r["side"] == side]
            for side in ("parent", "change")}
    for b in sorted({b for hs in heap.values() for h in hs for b in h}):
        out[f"heap_mb_{b}"] = {side: quartiles([h[b] for h in hs if b in h])
                               for side, hs in heap.items() if any(b in h for h in hs)}
    return out


def heap_medians(detail):
    """{"after_publish": 102.0, ...} from "after_publish=102.0/130.4 ..."."""
    out = {}
    for item in detail.split():
        name, _, vals = item.partition("=")
        if vals:
            out[name] = float(vals.split("/")[0])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--pr", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='untraced pairs, e.g. "3-12"')
    ap.add_argument("--traced-seeds", default="", help="traced pairs, e.g. 7")
    ap.add_argument("--resume", action="store_true",
                    help="keep the runs already in the result file and run the rest")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"perfbench_ab: unknown workload {a.workload}")
    parent_rev = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                capture_output=True, text=True, check=True).stdout.strip()
    out_path = ROOT / f"AB_PR{a.pr}_{a.workload}.json"
    plan = [(s, 0) for s in seeds(a.seeds)]
    plan += [(s, 1) for s in seeds(a.traced_seeds)] if a.traced_seeds else []
    planned = {(pair, seed, trace) for pair, (seed, trace) in enumerate(plan)}

    runs = []
    if a.resume and out_path.exists():
        prev = json.loads(out_path.read_text())
        if prev["parent"] != parent_rev:
            raise SystemExit(f"perfbench_ab: {out_path.name} compares against "
                             f"{prev['parent']}, not {parent_rev}")
        runs = prev["runs"]
        stray = [r for r in runs if (r["pair"], r["seed"], int(r["trace"])) not in planned]
        if stray:
            raise SystemExit(f"perfbench_ab: {out_path.name} holds {len(stray)} runs "
                             "outside --seeds/--traced-seeds; resume with the arguments "
                             "that wrote it")
    tmp = Path(tempfile.mkdtemp(prefix="perfbench-ab-"))
    parent_dir, change_dir = tmp / "parent", tmp / "change"
    try:
        parent_dir.mkdir()
        change_dir.mkdir()
        copy_worktree(change_dir)
        archive = subprocess.run(["git", "-C", str(ROOT), "archive", parent_rev],
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", str(parent_dir)], input=archive, check=True)
        for pair, (seed, trace) in enumerate(plan):
            order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
            for i, side in enumerate(order):
                if any(r["pair"] == pair and r["side"] == side for r in runs):
                    continue
                checkout = parent_dir if side == "parent" else change_dir
                rec = run_once(checkout, a.workload, seed, trace)
                runs.append({"side": side, "seed": seed, "pair": pair,
                             "ran_first": i == 0, **rec})
                print(f"pair {pair} seed {seed} trace {trace} {side}: "
                      + " ".join(f"{m['name']}={rec['metrics'][m['name']]:.4g}"
                                 for m in bench["end_to_end"]
                                 if m["name"] in rec["metrics"]), flush=True)
                doc = {
                    "workload": a.workload,
                    "parent": parent_rev,
                    "parent_checkout": f"git archive {parent_rev}",
                    "change_checkout": "copy of the working tree's tracked and "
                                       "untracked non-ignored files",
                    "command": f"python3 perfbench/run.py --workload {a.workload} "
                               "--seed <seed> --trace <0|1>",
                    "pairing": "one parent and one change run per seed, "
                               "alternating which side runs first",
                    "nproc": os.cpu_count(),
                    "all_correct_none_failed":
                        all(r["correct"] and r["failed"] == 0 for r in runs),
                    "summary_untraced": summarize(runs, bench["end_to_end"]),
                    "traced_layers": {
                        side: [r["metrics"] for r in runs
                               if r["trace"] and r["side"] == side]
                        for side in ("parent", "change")},
                    "runs": runs,
                }
                out_path.write_text(json.dumps(doc, indent=1) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
