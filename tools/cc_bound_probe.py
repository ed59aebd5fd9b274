"""Time the two branches of ``graph.connected_components_two_phase`` —
union-find on the driver and the large-star/small-star loop — on random
graphs, to set ``graph.DRIVER_CC_MAX_EDGES``.

    python tools/cc_bound_probe.py                 # 10k, 100k, 1M edges
    python tools/cc_bound_probe.py 10000 100000    # chosen sizes

Each graph has as many vertices as edges (a sparse random graph: one giant
component plus many small ones), generated on the executors from xxhash64
so both branches see the same edges. Every (size, branch, repeat) runs in
a fresh ``local[4]`` session in its own process, since both branches pay
mostly fixed cost that a warm session hides. The timed span is the build
(the edge checkpoint plus the branch) and one aggregate over the labels;
the last stdout line is JSON: per size and branch, the median seconds over
``REPEATS`` runs, the number of components (equal across branches) and
the peak resident memory of the Python driver process (the JVM's is not
counted).
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
SIZES = (10_000, 100_000, 1_000_000)
REPEATS = 3


def one(n_edges: int, branch: str) -> dict:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from trading_etl_spark.operators import graph as gr
    from trading_etl_spark.session import get_spark

    spark = get_spark("cc_bound_probe", master="local[4]", shuffle_partitions=4)
    gr.DRIVER_CC_MAX_EDGES = n_edges if branch == "driver" else -1
    nodes = spark.range(n_edges).select(F.col("id"))
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_edges)).alias("u"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_edges)).alias("v"),
    )
    t0 = time.perf_counter()
    labels = gr.connected_components_two_phase(nodes, edges)
    n_comp = labels.agg(F.countDistinct("comp")).first()[0]
    wall = time.perf_counter() - t0
    spark.stop()
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return {"wall_s": wall, "components": n_comp, "py_peak_mb": peak_mb}


def main(sizes: tuple[int, ...]) -> None:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    out = {}
    for n in sizes:
        for branch in ("driver", "loop"):
            runs = []
            for _ in range(REPEATS):
                p = subprocess.run(
                    [sys.executable, __file__, "--one", str(n), branch],
                    env=env, capture_output=True, text=True, check=True,
                )
                runs.append(json.loads(p.stdout.strip().splitlines()[-1]))
            walls = [r["wall_s"] for r in runs]
            out[f"{n}/{branch}"] = {
                "median_s": round(statistics.median(walls), 2),
                "runs_s": [round(w, 2) for w in walls],
                "components": runs[0]["components"],
                "py_peak_mb": round(max(r["py_peak_mb"] for r in runs)),
            }
            print(f"{n:>9} {branch:<6} {out[f'{n}/{branch}']}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--one"]:
        print(json.dumps(one(int(sys.argv[2]), sys.argv[3])))
    else:
        main(tuple(int(a) for a in sys.argv[1:]) or SIZES)
