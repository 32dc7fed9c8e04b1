#!/usr/bin/env python3
"""Build and run the benchmark from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first call compiles the repo's main sources together with the harness in
perfbench/src (sbt, output under .bench_build/), and later calls reuse the
classes while the sources are unchanged. Each run gets its own directory
under .bench_run/ for temporary files, Spark scratch space, inputs, sinks and
checkpoints; it is deleted when the run ends. The span file of a traced run
and the JVM's log are kept under .bench_out/.

Standard output ends with one JSON line: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUNS = ROOT / ".bench_run"
OUT = ROOT / ".bench_out"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 165
SELF_TEST_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def tree_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def commit():
    """HEAD of the checkout when it is a git work tree of its own, else
    "none" (the source-tree hash identifies the code either way)."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and Path(top).resolve() == ROOT:
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def run_child(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def spark_home():
    """The installed Spark whose jars the build compiles against."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and any((Path(home) / "jars").glob("spark-core_*.jar")):
            return home
    die("no Spark installation found: set SPARK_HOME or put Spark's bin/ on PATH")


def build(src_hash):
    cp_file, hash_file = BUILD / "classpath.txt", BUILD / "source.sha256"
    if cp_file.exists() and hash_file.exists() and hash_file.read_text() == src_hash:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Compile/fullClasspath"],
        BENCH, env, BUILD_TIMEOUT_S, log)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (exit {code}):\n{out[-2000:]}\n{tail(log)}")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    cp_file.write_text(lines[-1].strip())
    hash_file.write_text(src_hash)
    return lines[-1].strip()


def java_cmd(cp, run_dir, main_args, src_hash):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dperfbench.commit={commit()} tree={src_hash[:16]}",
            "-cp", cp, "perfbench.Main", "--run-dir", str(run_dir), *main_args]


def launch(cp, main_args, src_hash, timeout):
    """Runs the harness JVM in a fresh run directory and returns its stdout
    lines; the run directory is removed afterwards."""
    run_id = f"{time.strftime('%Y%m%d-%H%M%S')}-{uuid.uuid4().hex[:8]}"
    run_dir = RUNS / run_id
    for d in ("tmp", "local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    OUT.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    log = OUT / f"{run_id}.log"
    try:
        code, out = run_child(java_cmd(cp, run_dir, main_args, src_hash), ROOT, env, timeout, log)
        spans = run_dir / "spans.json"
        if spans.exists():
            shutil.move(str(spans), str(OUT / f"{run_id}.spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()
        except OSError:
            pass
    if code != 0:
        why = "timed out" if code is None else f"exited with {code}"
        die(f"harness {why}; log {log}:\n{tail(log)}")
    return [ln for ln in out.splitlines() if ln.strip()]


def self_test(cp, src_hash):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    workloads = {w["name"] for w in spec["workloads"]}
    lines = launch(cp, ["--self-test", "1"], src_hash, SELF_TEST_TIMEOUT_S)
    cases = [json.loads(ln) for ln in lines if ln.startswith('{"case"')]
    errors = []
    seen = set()
    for c in cases:
        res, name = c["result"], c["case"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} problems={c['problems']}")
        if res["correct"] != c["expect_correct"]:
            errors.append(f"{name}: correct={res['correct']}, expected {c['expect_correct']}")
        if not c["expect_correct"]:
            continue
        workload, trace = name.split("/trace=")
        seen.add(workload)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want[int(trace)]:
            errors.append(f"{name}: metrics {sorted(got.items())} differ from BENCHMARK.json")
        if res["failed"] != 0:
            errors.append(f"{name}: {res['failed']} failed operations")
    if seen != workloads:
        errors.append(f"workloads run {sorted(seen)}, BENCHMARK.json names {sorted(workloads)}")
    if not any(not c["expect_correct"] for c in cases):
        errors.append("no fault-injection case ran")
    for e in errors:
        print(f"FAIL {e}")
    print("self-test passed" if not errors else "self-test failed")
    return 0 if not errors else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}; "
            "run from a full checkout of the repository")
    if not a.self_test and not a.workload:
        die("--workload is required")
    if not 1 <= a.seconds <= 120:
        die("--seconds must be between 1 and 120")
    src_hash = tree_hash()
    cp = build(src_hash)
    if a.self_test:
        sys.exit(self_test(cp, src_hash))
    lines = launch(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                        str(a.seconds), "--trace", str(a.trace)], src_hash, RUN_TIMEOUT_S)
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"harness printed no result line:\n{lines[-3:]}")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
