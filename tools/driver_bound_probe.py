"""Time the driver branch of a bounded operator against its executor
branch, to set the operator's driver bound:

- ``cc``: ``graph.connected_components_two_phase`` — union-find on the
  driver against the large-star/small-star loop, on random graphs with as
  many vertices as edges (one giant component plus many small ones); sets
  ``graph.DRIVER_CC_MAX_EDGES``.
- ``series``: ``indicators.ema_periods`` over every default period — the
  grouped series kernel on the driver against ``applyInPandas``, on 36
  (pair, timeframe) series of 1h candles with random closes; sets
  ``indicators.DRIVER_SERIES_MAX_ROWS``.
- ``vectors``: ``similarity.kmeans_codebook`` plus ``assign_cells`` — the
  Lloyd loop and the assignment in NumPy on the driver against the
  executors' ``pandas_udf`` kernel and mean aggregate, on dim-64 vectors;
  sets ``similarity.DRIVER_VECTORS_MAX_ROWS``.

    python tools/driver_bound_probe.py cc                  # 10k, 100k, 1M edges
    python tools/driver_bound_probe.py series              # 10k, 100k, 1M rows
    python tools/driver_bound_probe.py vectors             # 2k, 20k, 100k, 1M rows
    python tools/driver_bound_probe.py series 10000 30000  # chosen sizes

Inputs are generated on the executors from xxhash64, so both branches see
the same data. Every (size, branch, repeat) runs in a fresh ``local[4]``
session in its own process, since both branches pay mostly fixed cost that
a warm session hides. The timed span is the build (for ``cc`` the edge
checkpoint plus the branch, for ``series`` and ``vectors`` the bounded
size test plus the branch) and one aggregate over the output; the last
stdout line is JSON: per size and branch, the median seconds over
``REPEATS`` runs, the aggregate (equal across branches), the peak
resident memory of the Python driver process (the JVM's is not counted)
and the last stderr line of each run that failed.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIZES = {
    "cc": (10_000, 100_000, 1_000_000),
    "series": (10_000, 100_000, 1_000_000),
    "vectors": (2_000, 20_000, 100_000, 1_000_000),
}
REPEATS = 3
N_SERIES = 36


def _cc(spark, n: int, driver: bool):
    from pyspark.sql import functions as F

    from trading_etl_spark.operators import graph as gr

    gr.DRIVER_CC_MAX_EDGES = n if driver else -1
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n)).alias("u"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n)).alias("v"),
    )
    labels = gr.connected_components_two_phase(nodes, edges)
    return labels.agg(F.countDistinct("comp")).first()[0]


def _series(spark, n: int, driver: bool):
    from pyspark.sql import functions as F

    from trading_etl_spark.config import DEFAULT_INDICATOR_PERIODS
    from trading_etl_spark.operators import indicators as ind

    ind.DRIVER_SERIES_MAX_ROWS = n if driver else -1
    hour = (F.col("id") / N_SERIES).cast("long")
    ohlc = spark.range(n).select(
        F.format_string("P%d", F.col("id") % 6).alias("currency_pair_code"),
        F.format_string("T%d", (F.col("id") / 6 % 6).cast("int")).alias("timeframe_code"),
        F.timestamp_seconds(F.lit(1_704_067_200) + hour * 3600).alias("time"),
        (F.lit(100.0) + F.pmod(F.xxhash64("id"), F.lit(1000)) / 100.0).alias("close"),
    )
    out = ind.ema_periods(ohlc, DEFAULT_INDICATOR_PERIODS)
    return out.agg(F.count("value"), F.round(F.sum("value"), 3)).first()[:]


def _vectors(spark, n: int, driver: bool):
    from pyspark.sql import functions as F

    from trading_etl_spark.operators import similarity as sim

    sim.DRIVER_VECTORS_MAX_ROWS = n if driver else -1
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(2001)) - 1000) / 1000.0
            for j in range(sim.EMB_DIM)
        ]).alias("emb"),
    )
    assigned = sim.assign_cells(emb, sim.kmeans_codebook(emb))
    return assigned.agg(F.count("cell"), F.sum("cell")).first()[:]


KERNELS = {"cc": _cc, "series": _series, "vectors": _vectors}


def one(kernel: str, n: int, branch: str) -> dict:
    sys.path.insert(0, ROOT)
    from trading_etl_spark.session import get_spark

    spark = get_spark("driver_bound_probe", master="local[4]", shuffle_partitions=4)
    t0 = time.perf_counter()
    result = KERNELS[kernel](spark, n, branch == "driver")
    wall = time.perf_counter() - t0
    spark.stop()
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return {"wall_s": wall, "result": result, "py_peak_mb": peak_mb}


def main(kernel: str, sizes: tuple[int, ...]) -> None:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    out = {}
    for n in sizes:
        for branch in ("driver", "executors"):
            runs, errors = [], []
            for _ in range(REPEATS):
                p = subprocess.run(
                    [sys.executable, __file__, "--one", kernel, str(n), branch],
                    env=env, capture_output=True, text=True,
                )
                if p.returncode:
                    errors.append((p.stderr.strip().splitlines() or ["?"])[-1][:200])
                else:
                    runs.append(json.loads(p.stdout.strip().splitlines()[-1]))
            walls = [r["wall_s"] for r in runs]
            out[f"{n}/{branch}"] = {
                "median_s": round(statistics.median(walls), 2) if walls else None,
                "runs_s": [round(w, 2) for w in walls],
                "result": runs[0]["result"] if runs else None,
                "py_peak_mb": round(max(r["py_peak_mb"] for r in runs)) if runs else None,
                "failed": errors,
            }
            print(f"{n:>9} {branch:<9} {out[f'{n}/{branch}']}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--one"]:
        print(json.dumps(one(sys.argv[2], int(sys.argv[3]), sys.argv[4])))
    else:
        main(sys.argv[1], tuple(int(a) for a in sys.argv[2:]) or SIZES[sys.argv[1]])
