#!/usr/bin/env python3
"""Record the golden result digests the benchmark checks every run against.

Usage (from the repository root):
  python3 perfbench/record_golden.py [--workload NAME ...]

For each workload the harness writes every query's result as parquet
(with the queries' oracle SQL beside it), then the repository's unchanged
DuckDB oracle, tools/check.py, must pass on exactly those files before
their digests are written to perfbench/golden.json. A workload whose
oracle check fails is not recorded and the script exits non-zero.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import run

GOLDEN = os.path.join(run.HERE, "golden.json")


def main():
    names = [w["name"] for w in run.bench_spec()["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()
    os.makedirs(os.path.join(run.STATE, "logs"), exist_ok=True)
    classpath = run.build_classpath()
    data = run.ensure_data()
    golden = json.load(open(GOLDEN)) if os.path.exists(GOLDEN) else {}
    ok = True
    for name in a.workload or names:
        dump = os.path.join(run.STATE, "golden-dump", name)
        out = dump + ".json"
        shutil.rmtree(dump, ignore_errors=True)
        proc, _ = run.launch(classpath, [
            "--mode", "golden", "--workload", name, "--data", data,
            "--dump", dump, "--out", out], f"golden-{name}.log",
            time.time() + 600)
        run.finish(proc, time.time() + 600, f"golden-{name}.log")
        r = json.load(open(out))
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
             os.path.join(data, r["input"]), dump])
        if check.returncode != 0:
            run.log(f"{name}: DuckDB oracle check failed; not recorded")
            ok = False
            continue
        golden[name] = r["digests"]
        run.log(f"{name}: {len(r['digests'])} digests recorded")
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
