"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout, which the run removes when it ends.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the run's record: workload, seed, input hash, host facts, every workload
metric by name with its unit, each call's wall time and each reference
job's. A traced run also writes its spans and layer totals to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"  # the inputs are small; the host's memory is shared
LAYERS = (
    "sources", "ohlc", "indicators", "signals", "backtest", "asof", "io",
    "pipelines", "queries", "text", "similarity", "graph", "spark",
)
LAYER_FIELDS = {
    "wall_s": "s", "build_s": "s", "driver_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "jobs": "count", "tasks": "count", "shuffle_mb": "MB",
}
EXTRA_LAYER_METRICS = {
    "spark.cached_mb": "MB",
    "sources.scanned_per_landed": "ratio",
    "io.written_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(EXTRA_LAYER_METRICS)
    return units


END_TO_END_UNITS = {"op_per_ref": "ratio", "setup_s": "s"}
REFERENCE_WARMUP = 2


def configure_env(work: str, nproc: int) -> None:
    """Keep every file Spark, DuckDB and Python write inside ``work`` and
    size the session to this host. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    conf = os.path.join(work, "conf")
    for d in (tmp, conf):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.retainedJobs 1000000\n"
            "spark.ui.retainedStages 1000000\n"
            f"spark.local.dir {os.path.join(work, 'local')}\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
        )
    os.environ.update(
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "catalog"),
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS") or str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def host_facts(spark, nproc: int) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "trading_etl_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(workload, seconds: float) -> list[float]:
    """Closed loop: run operations until ``seconds`` have passed (at least one)."""
    lat = []
    t0 = time.perf_counter()
    while not lat or time.perf_counter() - t0 < seconds:
        lat.append(workload.op(workload.n_ops))
        workload.n_ops += 1
    return lat


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fails here, before any work, when the program is not in the checkout
    sys.path[:0] = [HERE, ROOT]
    import workloads as wl
    from statusstore import Totals

    if args.workload not in wl.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, wl.nproc())
    bench = wl.Bench(work, args.seed)
    try:
        workload = wl.WORKLOADS[args.workload](bench)
        setup_s = workload.setup()
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        # the first Spark work in a JVM pays its warm-up, and the reference's
        # samples compare the host's speed only once its own code is
        # compiled: run it until warm, uncounted, before measuring
        for _ in range(REFERENCE_WARMUP):
            wl.reference_s(bench.spark)
        if args.trace:
            bench.start_trace(f"{args.workload}-{args.seed}")
        lat = measure(workload, args.seconds)
        # the program's caches, before a probe materializes inputs of its own
        cached = bench.cached_mb()
        probe = workload.probe() if args.trace else {}
        workload.finish()
        if args.trace:
            layers, whole = bench.tracer.finish()
            layers["spark"] = whole
            bench.detail["spill_mb"] = (whole.spill_mb, "MB")
            metrics = {
                f"{layer}.{field}": (getattr(layers.get(layer, Totals()), field), unit)
                for layer in LAYERS
                for field, unit in LAYER_FIELDS.items()
            }
            metrics["spark.cached_mb"] = (cached, "MB")
            metrics.update(probe)
            metrics["sources.scanned_per_landed"] = (workload.scanned_per_landed(), "ratio")
            metrics["trace.overhead_frac"] = (bench.tracer.cost_s / whole.wall_s, "ratio")
            for name, unit in EXTRA_LAYER_METRICS.items():
                metrics.setdefault(name, (0.0, unit))
        else:
            values = {"op_per_ref": wl.median(lat) / wl.median(bench.ref_s), "setup_s": setup_s}
            metrics = {k: (values[k], u) for k, u in END_TO_END_UNITS.items()}
        p90 = wl.tail_percentile(lat, 0.9)
        if p90 is not None:
            bench.detail["op_p90_s"] = (p90, "s")
        bench.detail.update(
            reference_s=(wl.median(bench.ref_s), "s"),
            cached_mb=(cached, "MB"),
            failed_frac=(bench.ops.failed_frac, "ratio"),
            ops=(len(lat), "count"),
            setup_s=(setup_s, "s"),
            op_p50_s=(wl.median(lat), "s"),
        )
        record["host"] = host_facts(bench.spark, wl.nproc())
        record["inputs_sha256"] = workload.input_hash()
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in bench.detail.items()}
        record["op_s"] = lat
        record["calls_s"] = bench.calls_s
        record["reference_s"] = bench.ref_s
        record["errors"] = bench.ops.errors
        if args.trace:
            os.makedirs(work_root, exist_ok=True)
            out = os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json")
            with open(out, "w") as f:
                json.dump({"record": record, "spans": bench.tracer.dump(),
                           "layers": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": bench.ops.failed == 0,
        "attempted": bench.ops.attempted,
        "failed": bench.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
