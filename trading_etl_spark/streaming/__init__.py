"""Where every stream starts: the trigger, the state-partition sizing and
the per-symbol state scaffold, each written once.

- :func:`start` builds the sink, applies the trigger and sizes the state
  partitions around ``.start()``. ``processing_time=None`` is an
  ``availableNow`` drain: process the backlog, then stop (test and
  batch-catchup mode). A string such as ``"1 second"`` micro-batches on
  that cadence, the streaming equivalent of the reference relay's 1 s poll
  (``ws_ticker_server.py:53``).
- :func:`drain` is the correctness gate's run: an ``availableNow`` start
  that is waited for under :data:`STATE_PARTITIONS`.
- :func:`per_symbol_state` is the stateful-operator scaffold the streaming
  EMA, RSI and SMA-cross kernels share.

State-partition sizing: a stateful stream's partition count is frozen into
its checkpoint at the FIRST start, and every partition costs a state-store
instance plus a commit per micro-batch. Size it to the stream's expected
key cardinality, not the batch shuffle default: on the sf0.1 OHLC drain,
32 partitions took 2.46-2.61 s and 8 took 1.90-2.25 s (~20%, pure
state/commit overhead; results are hash-partition-invariant). Re-sizing
later means a new checkpoint.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

# The gate's state partitions: the fixture's 6 currency pairs × minutes.
# Gate runs use a fresh checkpoint per call, so the count never conflicts
# with an earlier one.
STATE_PARTITIONS = 8


@contextlib.contextmanager
def state_partitions(spark: SparkSession, n: int | None):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the scope and
    restore the caller's value after it, also on error. ``None`` leaves the
    session conf to the caller."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def start(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    *,
    checkpoint: str | None = None,
    mode: str = "append",
    fmt: str = "parquet",
    processing_time: str | None = None,
    n_state_partitions: int | None = None,
) -> StreamingQuery:
    """Start ``df`` into ``sink``: a ``foreachBatch`` function, or the
    path (``fmt="parquet"``) or table name (``fmt="memory"``) of a
    built-in sink. ``n_state_partitions`` binds only on the run that
    creates the checkpoint; see the module docstring."""
    writer = df.writeStream.outputMode(mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif fmt == "memory":
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.format(fmt).option("path", sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    with state_partitions(df.sparkSession, n_state_partitions):
        return writer.start()


def drain(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    mode: str = "append",
    *,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """The gate's run: start ``df`` with ``availableNow`` and wait for it,
    both under :data:`STATE_PARTITIONS` (a ``foreachBatch`` function that
    reads through the caller's session runs under the same count). A
    ``str`` sink is a memory table, returned as ``spark.table(sink)``; a
    ``foreachBatch`` sink writes its own result and returns ``None``."""
    spark = df.sparkSession
    with state_partitions(spark, STATE_PARTITIONS):
        start(df, sink, checkpoint=checkpoint, mode=mode, fmt="memory").awaitTermination()
    return None if callable(sink) else spark.table(sink)


def per_symbol_state(
    df: DataFrame,
    step: Callable[[tuple, float], tuple[tuple, tuple | None]],
    initial: tuple,
    out_schema: StructType,
    state_schema: StructType,
    *,
    time_col: str = "time",
    value_col: str = "mid",
) -> DataFrame:
    """A per-``currency_pair_symbol`` stateful fold. Each pandas batch of a
    symbol is sorted by ``time_col`` and its ``value_col`` rows run through
    ``step(state, x) -> (state, out)`` in that order, starting from the
    stored state or ``initial``. A non-``None`` ``out`` emits the row
    ``(symbol, time, *out)``. The state is stored once per batch.

    Rows are in event-time order within a micro-batch; across micro-batches
    the order is arrival order, the usual contract for incremental
    streaming indicators. The state is carried across micro-batches and
    restarts by the state store and checkpoint; the stateful exchange
    hash-partitions on the symbol."""
    columns = out_schema.fieldNames()

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        s = tuple(state.get) if state.exists else initial
        rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            for t, x in zip(pdf[time_col], pdf[value_col]):
                s, out = step(s, float(x))
                if out is not None:
                    rows.append((symbol, t, *out))
        state.update(s)
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    return df.groupBy("currency_pair_symbol").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
