"""Seeded spatial-engine benchmark.

    python3 perfbench/run.py --workload geo_tiles --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one table

Run from the root of a checkout: the engine (``shapefile_rs_spark``) is
imported from the working directory, and every file the run writes stays
under ``.perfbench_work/`` there.  The load is a closed loop with one
client: a single driver process on ``local[<cores>]`` runs the workload's
ops back to back for ``--seconds``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
is the separate traced run that prints the per-layer metrics.  The last
line of standard output is one JSON object: correct, attempted, failed,
metrics.  See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
MIN_ITERATIONS = 2
# fixed so plans do not change with the host's core count
SHUFFLE_PARTITIONS = 8
# driver JVM heap: fixed and small so peak memory is comparable across
# commits and the benchmark stays light on a shared host
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- session lifetime ---------------------------------------------------------


def prepare_env(root: str, work: str) -> None:
    """Keep the JVM, its Python workers and Spark's scratch space inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work: str, name: str, trace: bool):
    from shapefile_rs_spark.session import get_spark

    from tracing import EVENT_LOG_CONF

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (the JVM, the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    from tracing import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on EOF
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    _reap(procs)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids, timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


# -- one run ---------------------------------------------------------------------


def run(args, root: str) -> dict:
    work = os.path.join(
        root, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> dict:
    from tracing import EventLog, RssSampler, Tracer, host_canary
    from workloads import WORKLOADS

    import layers

    prepare_env(root, work)
    raw = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "size": args.size, "cores": cores()}
    raw["canary_pre_s"] = host_canary()

    wl = WORKLOADS[args.workload](os.path.join(work, "inputs"), args.seed, args.size)
    t0 = time.time()
    wl.generate()
    raw["generate_s"] = time.time() - t0
    t0 = time.time()
    wl.expect()
    raw["expect_s"] = time.time() - t0
    raw["rows_per_iteration"] = wl.rows

    rss = RssSampler()
    ops = []  # (iteration, traced, OpResult)
    iters = []  # (traced, rows_per_s)
    off = Tracer(enabled=False)
    tracer = None
    extras = {}
    rss.start()
    t_setup = time.time()
    spark = start_session(work, args.workload, bool(args.trace))
    try:
        raw["session_s"] = time.time() - t_setup
        ops += [(0, False, r) for r in wl.iteration(spark, off)]  # warm-up
        setup_s = time.time() - t_setup

        tracer = Tracer(spark) if args.trace else None
        t_loop = time.time()
        i = 0
        while True:
            i += 1
            traced = bool(args.trace) and i % 2 == 1
            tr = tracer if traced else off
            if traced:
                tr.new_trace()
            res = wl.iteration(spark, tr)
            ops += [(i, traced, r) for r in res]
            iters.append((traced, wl.rows / sum(r.seconds for r in res)))
            # at least MIN_ITERATIONS (a traced run needs one traced and one
            # untraced iteration)
            if time.time() - t_loop >= args.seconds and i >= MIN_ITERATIONS:
                break
        raw["loop_s"] = time.time() - t_loop
        peak_mb = rss.stop()
        if args.trace:
            tracer.new_trace()
            extras = wl.layers(spark, tracer)
    finally:
        rss.stop()
        t0 = time.time()
        stop_session(spark)
        raw["stop_s"] = time.time() - t0
    raw["canary_post_s"] = host_canary()

    failed = [(i, t, r) for i, t, r in ops if r.error]
    for i, _, r in failed:
        print(f"FAILED op {r.name} (iteration {i}): {r.error}", file=sys.stderr)
    raw["ops"] = [
        {"iteration": i, "traced": t, "name": r.name, "seconds": r.seconds, "error": r.error}
        for i, t, r in ops
    ]
    raw["iterations"] = [{"traced": t, "rows_per_s": v} for t, v in iters]

    untraced = [v for t, v in iters if not t]
    if args.trace:
        evlog = EventLog.in_dir(os.path.join(work, "eventlog"))
        traced = [v for t, v in iters if t]
        metrics, profiles = layers.per_layer(wl, tracer, evlog, extras, ops)
        metrics["trace.overhead_share"] = 1.0 - _median(traced) / _median(untraced)
        raw["spans"] = tracer.to_records(profiles)
        samples = {"trace.overhead_share": (len(traced), len(untraced))}
    else:
        metrics = {
            "rows_per_s": _median(untraced),
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
        }
        samples = {"rows_per_s": len(untraced), "setup_s": 1, "peak_rss_mb": rss.samples}
    raw["metrics"] = metrics
    raw["samples"] = samples

    out_dir = os.path.join(root, ".perfbench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"), "w"
    ) as fh:
        json.dump(raw, fh, indent=1, default=str)
    return {"raw": raw, "metrics": metrics, "samples": samples,
            "attempted": len(ops), "failed": len(failed)}


def emit(args, res: dict, spec: dict) -> None:
    """Human-readable lines, then the result JSON as the last line."""
    raw = res["raw"]
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={raw['cores']} rows/iteration={raw['rows_per_iteration']}")
    print(f"  host canary pre={raw['canary_pre_s']:.4f}s post={raw['canary_post_s']:.4f}s "
          f"(healthy ~0.1s)  generate={raw['generate_s']:.2f}s expect={raw['expect_s']:.2f}s")
    for name in units:
        n = res["samples"].get(name)
        tail = f"  n={n}" if n is not None else ""
        print(f"  {name:34s} {res['metrics'][name]:>14.4f} {units[name]}{tail}")
    print(f"  failed_op_share {res['failed']}/{res['attempted']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()},
    }))


def run_all(args) -> int:
    """Every workload in its own process, then one table."""
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    table = {}
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if out.returncode != 0 or not lines:
            print(f"{w['name']}: exit {out.returncode}", file=sys.stderr)
            return 1
        table[w["name"]] = json.loads(lines[-1])
    print(json.dumps(table))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import shapefile_rs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {root}: {exc}", file=sys.stderr)
        return 2
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    emit(args, run(args, root), spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
