"""Smoke test of the benchmark itself, at tiny input size.

    python3 perfbench/smoke.py        # from the root of a checkout; exit 0 = pass

1. Every workload runs once untraced and once traced with all output
   checks passing, and the metric names each run prints match
   BENCHMARK.json (end_to_end untraced, per_layer traced).
2. With one expected row deliberately corrupted, every workload reports a
   failed op: the checks bite.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check_runs(spec) -> list:
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            tag = f"{w['name']} trace={trace}"
            if out.returncode != 0 or not lines:
                errors.append(f"{tag}: exit {out.returncode}")
                continue
            res = json.loads(lines[-1])
            want = [m["name"] for m in spec[key]]
            if list(res["metrics"]) != want:
                errors.append(f"{tag}: printed {sorted(res['metrics'])}, spec has {sorted(want)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{tag}: {res['failed']}/{res['attempted']} ops failed")
            print(f"ok  {tag}: {res['attempted']} ops, {len(res['metrics'])} metrics", flush=True)
    return errors


def check_corruption(spec) -> list:
    """One session; per workload, corrupt one expected row and run one
    iteration: at least one op must be reported failed."""
    sys.path.insert(0, HERE)
    import run as R
    from tracing import Tracer
    from workloads import WORKLOADS

    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"smoke-{os.getpid()}")
    R.prepare_env(root, work)
    spark = R.start_session(work, "smoke", trace=False)
    errors = []
    try:
        for w in spec["workloads"]:
            wl = WORKLOADS[w["name"]](os.path.join(work, w["name"]), 7, "tiny")
            wl.generate()
            wl.expect()
            wl.corrupt_expected()
            failed = [r for r in wl.iteration(spark, Tracer(enabled=False)) if r.error]
            if failed:
                print(f"ok  {w['name']} corrupted: {failed[0].error}", flush=True)
            else:
                errors.append(f"{w['name']}: a corrupted expected row was not reported")
    finally:
        R.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = check_runs(spec) + check_corruption(spec)
    for e in errors:
        print("FAIL", e)
    print("smoke: PASS" if not errors else f"smoke: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
