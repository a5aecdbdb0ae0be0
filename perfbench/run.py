#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness (perfbench/harness, an sbt build that depends on the root build)
and keeps the classpath under .perfbench/; later runs reuse it until a
source file changes. Inputs come from the fixture in perfbench/data/sf0.01
(checked against its SHA256SUMS); rendered dumps are cached per seed under
.perfbench/cache.
Prints one line per metric and, as the last line, the JSON result:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
WORKLOADS = ("dump_bulk", "ops_mix")
FIXTURE = os.path.join(BENCH, "data", "sf0.01")
# a fixed heap (-Xms = -Xmx): G1 growing it from a small start moved
# convert latency by up to 25 % between runs
HEAP = "2g"
CACHED_DUMPS = 8  # rendered dumps kept per checkout, newest first
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
CHECK_TIMEOUT_S = 15  # with JVM_TIMEOUT_S, keeps a run under 180 s
# Layers a workload never reaches report 0: the layer did no work there.
UNREACHED = {"ops_mix": ("StatementReader.", "DumpParser.", "DumpConverter."),
             "dump_bulk": ("ops.", "stores.", "Ops.", "Queries.")}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    for base in ("src/main", "perfbench/harness/src", "perfbench/harness/project"):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    files.append("perfbench/harness/build.sbt")
    for f in files:
        p = os.path.join(root, f)
        if os.path.isfile(p) and "/target/" not in p:
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the program and the harness once; returns the classpath."""
    stamp_file = os.path.join(state, "build", "stamp")
    cp_file = os.path.join(state, "build", "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if "perfbench-harness" in l or "harness/target" in l]
    cp = [l for l in lines if not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def prune_cache(cache):
    """Keep the newest CACHED_DUMPS rendered dumps; each seed renders its own."""
    dumps = sorted(glob.glob(os.path.join(cache, "dump_*.sql*")), key=os.path.getmtime, reverse=True)
    for d in dumps[CACHED_DUMPS:]:
        for f in (d, d.rsplit(".sql", 1)[0] + ".expect"):
            if os.path.exists(f):
                os.remove(f)


def check_fixture():
    """The fixture's files against their recorded SHA256 sums."""
    with open(os.path.join(FIXTURE, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(FIXTURE, name), "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != digest:
                    die(f"fixture file {name} does not match SHA256SUMS")


def oracle_check(check_dir):
    """tools/check.py over the warm-up pass's outputs: each query against
    its oracle SQL in DuckDB. Returns {query: problem}."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    try:
        p = subprocess.run([sys.executable, os.path.join("tools", "check.py"), FIXTURE, check_dir],
                           capture_output=True, text=True, timeout=CHECK_TIMEOUT_S)
        out, err = p.stdout.splitlines(), p.stderr[-300:]
    except subprocess.TimeoutExpired:
        out, err = [], "check timed out"
    ok = {l.split()[1] for l in out if l.startswith("OK ")}
    fails = dict(l[len("FAIL "):].split(": ", 1) for l in out if l.startswith("FAIL "))
    print(f"perfbench oracle check: {len(ok)}/{len(names)} queries match")
    return {n: fails.get(n, err or "no output") for n in names if n not in ok}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        die("run from the repository root: the program's sources are missing")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    state = os.path.join(root, ".perfbench")
    classpath = build(root, state)
    prune_cache(os.path.join(state, "cache"))
    t0 = time.time()  # set-up starts once the build is in place
    check_fixture()

    work = os.path.join(state, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    result_file = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cache", os.path.join(state, "cache"),
            "--traces", os.path.join(state, "traces"), "--fixture", FIXTURE,
            "--t0", str(int(t0 * 1000)), "--result", result_file])
    try:
        try:
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("run timed out")
        if p.returncode != 0 or not os.path.exists(result_file):
            sys.stderr.write(p.stderr[-4000:])
            die(f"harness exited with {p.returncode}")
        with open(result_file) as f:
            rec = json.load(f)
        failed, problems = rec["failed"], dict(rec["problems"])
        if a.workload == "ops_mix":
            # DuckDB runs only now, after the JVM and its timing have ended
            for q, why in oracle_check(os.path.join(work, "check")).items():
                problems.setdefault(q, why)
                failed += rec["op_counts"].get(q, 0)
        failed = min(failed, rec["attempted"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = rec["metrics"]
    if a.trace:
        for m in units:
            if m not in metrics and any(x in m for x in UNREACHED[a.workload]):
                metrics[m] = 0.0
    missing = [m for m in units if metrics.get(m) is None]
    if missing:
        die(f"metrics not measured: {missing}")
    run = {k: rec[k] for k in ("workload", "seed", "trace", "master", "nproc", "heap_mb",
                               "load_at_start", "cpu_util", "window_s", "passes", "stages_s")}
    run["op_s"] = [f'{o["pass"]}:{o["name"]}:{o["s"]:.3f}' for o in rec["ops"]]
    print("perfbench run " + json.dumps(run))
    for q, why in problems.items():
        print(f"perfbench problem {q}: {why}")
    for m, u in units.items():
        print(f"{m} = {metrics[m]:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()}}))


if __name__ == "__main__":
    main()
