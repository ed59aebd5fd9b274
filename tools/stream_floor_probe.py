"""Long-lived processingTime stream floor probe.

The bench's streaming_ohlc_1m line is GATE-shaped: one availableNow drain
per call, so every call pays the full stream start/stop + WAL/offsets +
no-AQE planning machinery (~0.8 s at sf0.1, decomposed in
OPTIMIZATION_r17.md) on top of the actual micro-batch compute. The cheap
knobs were measured and rejected (RocksDB, pre-parse repartition, state
partitions < 8): what remains is engine machinery a per-call drain
cannot avoid — it only amortizes under the PRODUCTION shape, a long-lived
``trigger(processingTime=...)`` stream (streaming/ticks.py).

This probe measures that amortization directly: it starts ONE long-lived
complete-mode OHLC stream over a landing directory, drops the fixture's
event files in one at a time (the poll-cycle arrival pattern), and reports
per-micro-batch ``triggerExecution``/``addBatch`` durations from the query
progress log. The delta between the gate line's per-drain wall and the
steady-state per-batch cost here IS the amortized fixed floor. The stream
starts through ``streaming.start`` under the gate's state-partition count
(``streaming.STATE_PARTITIONS``), so it is compared like with like against
``streaming.drain``. Test-only measurement: the gate-shaped bench line is
unchanged (the driver's methodology stays comparable), and nothing here is
cached across runs.

Usage: python tools/stream_floor_probe.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from trading_etl_spark import streaming
    from trading_etl_spark.session import get_spark
    from trading_etl_spark.sources import ticks

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stream_floor_probe")

    base = tempfile.mkdtemp(prefix="stream_floor_")
    landing = f"{base}/landing"
    os.makedirs(landing)
    # split the fixture's events into N arrival files (the poll-cycle
    # landing pattern); rewritten fresh per run — nothing persists
    n_files = 8
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        n_files
    ).write.parquet(f"{base}/staged")
    staged = sorted(glob.glob(f"{base}/staged/*.parquet"))[:n_files]

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(landing)
    )
    t = ticks.tickify(stream)
    candles = (
        t.groupBy("currency_pair_code", F.window("time", "1 minute").alias("w"))
        .agg(
            F.round(F.min_by("bid", "ts"), 6).alias("open"),
            F.round(F.max("bid"), 6).alias("high"),
            F.round(F.min("bid"), 6).alias("low"),
            F.round(F.max_by("bid", "ts"), 6).alias("close"),
            F.count("*").alias("n_ticks"),
        )
    )
    q = streaming.start(
        candles,
        "stream_floor_probe_sink",
        checkpoint=f"{base}/ckpt",
        mode="complete",
        fmt="memory",
        processing_time="500 milliseconds",
        n_state_partitions=streaming.STATE_PARTITIONS,
    )
    try:
        # drop one file per poll cycle; wait until each is consumed
        for i, f in enumerate(staged):
            shutil.copy(f, f"{landing}/arrival_{i:03d}.parquet")
            deadline = time.time() + 60
            while time.time() < deadline:
                p = q.lastProgress
                if p and p["batchId"] >= i:
                    break
                time.sleep(0.1)
        time.sleep(2)  # let the final batch's progress land
        prog = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress
        ]
    finally:
        q.stop()
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)

    rows = [
        (p["batchId"], p["durationMs"].get("triggerExecution"),
         p["durationMs"].get("addBatch"), p["numInputRows"])
        for p in prog
        if p.get("numInputRows", 0) > 0 and "durationMs" in p
    ]
    # durationMs may lack triggerExecution or addBatch on some progress
    # events; such a row has no duration to report, so skip it
    rows = [r for r in rows if r[1] is not None and r[2] is not None]
    seen = {}
    for bid, trig, add, nrows in rows:
        seen[bid] = (trig, add, nrows)
    print("batch  triggerExecution_ms  addBatch_ms  rows")
    for bid in sorted(seen):
        trig, add, nrows = seen[bid]
        print(f"{bid:5d}  {trig:19d}  {add:11d}  {nrows}")
    steady = [seen[b][0] for b in sorted(seen)[2:]]  # skip warm-up batches
    if steady:
        print(
            f"steady-state median triggerExecution: "
            f"{statistics.median(steady) / 1000:.3f} s over {len(steady)} batches"
        )


if __name__ == "__main__":
    main()
