"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query_suite,rounds} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One Python process, one local[nproc] Spark
session from engine.session.get_spark. The run generates its inputs from the
seed (untimed), sets up SETUP_REPS times (setup_s is the median), runs whole
passes of the workload's operations until --seconds have elapsed (at least
one pass), checks every output, and prints one JSON object as the last line
of stdout. Everything it writes goes under .perfbench_work/ in the checkout
and is removed at exit.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same passes with
spans on, prints the per-layer metrics, and writes the spans and the
workload's module-named layer figures to perfbench_trace/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout;
    give Python workers the checkout on their import path."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too: temp files in the work dir,
    # no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark(work: str):
    from engine.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(ops, setups: list[float]) -> dict:
    passes = sorted({op.pass_no for op in ops})
    walls = [op.wall for op in ops]
    per_pass = [[op.wall for op in ops if op.pass_no == k] for k in passes]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (statistics.median(sum(p) for p in per_pass), "s"),
        "op_geomean_s": (statistics.geometric_mean(walls), "s"),
    }


def per_layer(tracer, ops) -> dict:
    passes = len({op.pass_no for op in ops})
    self_t = tracer.self_times()
    by_kind = {"construct": 0.0, "execute": 0.0}
    jobs = pool = 0
    for s in tracer.spans:
        if s["run_id"] == "setup":
            continue
        if s["kind"] in by_kind:
            by_kind[s["kind"]] += self_t[s["id"]]
        if s["kind"] == "op":
            jobs += len(s["jobs"])
            pool += len(s["pool_jobs"])
    walls = [op.wall for op in ops]
    per_pass = [sum(op.wall for op in ops if op.pass_no == k)
                for k in sorted({op.pass_no for op in ops})]
    return {
        "construct_s": (by_kind["construct"] / passes, "s"),
        "execute_s": (by_kind["execute"] / passes, "s"),
        "jobs": (jobs / passes, "count"),
        "pool_jobs": (pool / passes, "count"),
        "op_skew": (max(walls) / statistics.median(walls), "ratio"),
        "traced_pass_s": (statistics.median(per_pass), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # fail fast, before any work, when the program is not beside the benchmark
    if not os.path.isfile(os.path.join(ROOT, "engine", "session.py")):
        print("perfbench: engine/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    sys.path[:0] = [ROOT, HERE]
    import numpy as np

    from spans import HostNoise, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its work dir (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = HostNoise()
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), work, tracer)
    spark = None
    try:
        inputs = wl.generate()
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _spark(work)
            tracer.bind(spark)
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)

        ops = []
        t_start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - t_start < args.seconds:
            ops += wl.run_pass(spark, k)
            k += 1
        layers = wl.layers(spark, ops) if args.trace else {}
        spark.stop()
        spark = None

        wl.check(ops)
        failed = [op for op in ops if op.failed]
        for op in failed:
            print(f"perfbench: {args.workload} pass {op.pass_no} op {op.name} failed: "
                  f"{op.error or '; '.join(op.problems)}", file=sys.stderr)
        for p in wl.layer_problems:
            print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
        correct = not any(op.problems for op in ops) and not wl.layer_problems

        if args.trace:
            metrics = per_layer(tracer, ops)
            out_dir = os.path.join(ROOT, "perfbench_trace")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as f:
                json.dump(layers, f, indent=1, sort_keys=True)
            print("layers: " + json.dumps(layers, sort_keys=True))
        else:
            metrics = end_to_end(ops, setups)
        print("inputs: " + json.dumps(inputs, sort_keys=True))
        print("ops: " + json.dumps([[op.pass_no, op.name, round(op.wall, 4)] for op in ops]))
        print("host: " + json.dumps({**host.record(), "passes": k,
                                     "setup_reps_s": setups}))
        print(json.dumps({
            "correct": correct,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
