#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload corpus-index --seed 1 --seconds 8 --trace 0

The first run in a checkout builds the engine and the harness from source
(sbt, offline) and generates the inputs (perfbench/gen_data.py); both are
cached under .bench_build/perfbench/ and rebuilt only when their sources
change. A run then
  1. times set-up (process start until a SparkSession is ready with the
     graft functions registered) in three fresh JVMs and keeps the median,
  2. runs one cold pass and warm passes for --seconds in one JVM,
     interleaving the calibration canary between warm queries,
  3. hashes every query's result (untimed) against perfbench/golden.json.
--trace 1 instead reports the per-layer metrics of a traced run.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The whole record (per-query medians,
canary, contended passes, digests, layers) is appended to
.bench_build/perfbench/results.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 150
# local[CPUS]: at most 4 cores, fewer on a smaller box
CPUS = min(4, os.cpu_count() or 1)
RESULTS = os.path.join(STATE, "results.jsonl")
SETUP_SAMPLES = 3
HEAP = "2g"
# every end-to-end figure a run reports on stderr, with its unit; the
# final JSON line carries the BENCHMARK.json subset (the raw wall and CPU
# times swing with host load, so they are reported, not gated)
SUMMARY = {"setup_s": "s", "first_pass_s": "s", "wall_s": "s",
           "wall_norm": "ratio", "cpu_s": "s", "peak_heap_mb": "MB",
           "fail_frac": "ratio"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def tree_digest(paths):
    """sha256 over the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def engine_sources():
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(ROOT, "project", "build.properties")]
    for p in srcs:
        if not os.path.exists(p):
            fail(f"engine source {os.path.relpath(p, ROOT)} not found: "
                 "run from a full checkout of the repository")
    return srcs + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src"),
                   os.path.join(HERE, "project", "build.properties")]


def cached(name, sources, build):
    """Run `build()` unless the stamp `name` matches the sources' digest."""
    stamp = os.path.join(STATE, name + ".stamp")
    digest = tree_digest(sources)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    build()
    with open(stamp, "w") as fh:
        fh.write(digest)


def build_classpath():
    """Compile engine + harness with sbt; save the runtime classpath."""
    def build():
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        log("building engine and harness (sbt)")
        t0 = time.time()
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=700)
        if out.returncode != 0:
            sys.stderr.write(out.stdout[-4000:])
            fail("build failed")
        cp = out.stdout.strip().splitlines()[-1]
        with open(os.path.join(STATE, "classpath"), "w") as fh:
            fh.write(cp)
        log(f"built in {time.time() - t0:.0f} s")
    cached("build", engine_sources(), build)
    return open(os.path.join(STATE, "classpath")).read().strip()


def ensure_data():
    data = os.path.join(STATE, "data")
    sources = [os.path.join(HERE, "gen_data.py"),
               os.path.join(ROOT, "tools", "make_scale_fixture.py")]

    def build():
        log("generating inputs")
        subprocess.run([sys.executable, sources[0], data], check=True)
    cached("data", sources, build)
    return data


def java_cmd(classpath, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ReservedCodeCacheSize=1g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graftbench.Main", "--work", work,
            "--cpus", str(CPUS), *args]


def launch(classpath, args, logname, deadline):
    """Start the harness JVM; return (process, seconds until it was ready).

    A reader thread drains the JVM's stdout until it closes, so waiting
    for the ready marker and for the exit can both time out."""
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    errlog = open(os.path.join(STATE, "logs", logname), "w")
    t0 = time.perf_counter()
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its scratch
    # files inside the checkout whatever the caller's environment says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(java_cmd(classpath, work, args), cwd=STATE, env=env,
                            stdout=subprocess.PIPE, stderr=errlog, text=True)
    ready, closed = threading.Event(), threading.Event()

    def drain():
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_READY":
                ready.set()
        closed.set()
    threading.Thread(target=drain, daemon=True).start()
    while not ready.wait(0.05):
        if closed.is_set() or time.time() > deadline:
            stop(proc)
            fail(f"harness did not start; see {os.path.relpath(errlog.name, ROOT)}")
    return proc, time.perf_counter() - t0


def stop(proc):
    if proc.poll() is None:
        proc.kill()
    proc.wait()


def finish(proc, deadline, logname):
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        tail = open(os.path.join(STATE, "logs", logname)).read()[-3000:]
        sys.stderr.write(tail)
        fail(f"harness exited with code {proc.returncode}")


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--golden", default=os.path.join(HERE, "golden.json"),
                    help="golden digests to check results against")
    a = ap.parse_args()

    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    classpath = build_classpath()
    data = ensure_data()

    deadline = time.time() + RUN_TIMEOUT_S
    setups = []
    if not a.trace:
        for _ in range(SETUP_SAMPLES - 1):
            proc, s = launch(classpath, ["--mode", "setup"], "setup.log", deadline)
            finish(proc, deadline, "setup.log")
            setups.append(s)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(STATE, "logs", tag + ".json")
    args = ["--mode", "run", "--workload", a.workload, "--data", data,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--bound", str(bounds["wall_norm"]), "--golden", a.golden, "--out", out,
            "--trace-out", os.path.join(STATE, "logs", tag + ".spans.json")]
    proc, s = launch(classpath, args, tag + ".log", deadline)
    setups.append(s)
    finish(proc, deadline, tag + ".log")
    r = json.load(open(out))

    if a.trace:
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "first_pass_s": r["first_pass_s"],
            "wall_s": r["wall_s"],
            "wall_norm": r["wall_norm"],
            "cpu_s": r["cpu_s"],
            "peak_heap_mb": r["peak_heap_mb"],
            "fail_frac": r["failed"] / r["attempted"],
            "ok_frac": 1.0 - r["failed"] / r["attempted"],
        }
        for name in SUMMARY:
            log(f"{a.workload:14s} {name:13s} {values[name]:12.4f} {SUMMARY[name]}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for e in r["errors"]:
        log(e)
    if r["contended_passes"]:
        log(f"{r['contended_passes']} contended warm passes excluded")
    record = dict(r, setup_samples_s=setups, metrics=metrics)
    with open(RESULTS, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
