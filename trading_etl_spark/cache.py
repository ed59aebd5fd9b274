"""The one in-memory session cache: every relation, model and probe result
a Spark session reuses across queries goes through :func:`cached`.

The reference materializes each intermediate (ticks, OHLC, ``fact_sma``,
signal events) as a table that later flows read back; inside one Spark
session the equivalent is a cached relation.

- **Key** ``(applicationId, kind, params)``: a new session never sees an
  earlier session's entries. A ``DataFrame`` param contributes its
  :func:`plan_cache_key`.
- **Fingerprint**: each entry stores the sorted ``(path, size, mtime_ns)``
  of the source files it read — every file under a ``str`` param (a source
  path) and every file of a ``DataFrame`` param's ``inputFiles()``. When a
  lookup finds different files (an append under the source directory), the
  old value is unpersisted and rebuilt in place, so stale rows are never
  served.
- **Bound**: :data:`MAX_PER_KIND` entries per kind, FIFO. Every DataFrame
  member of an evicted value is unpersisted; evicting a relation a caller
  still holds is safe, Spark recomputes it. The bound is per kind because
  one corpus session uses about nine kinds at once.
- :func:`clear` drops entries eagerly, per session or for every session.

Builds nest (signal events → SMA facts → 1h candles → candle chain) and run
from several threads, so the lock guards only the dict reads and writes and
is never held across a ``build``.
"""

from __future__ import annotations

import os
import re
import threading
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

MAX_PER_KIND = 8

_lock = threading.Lock()
# kind -> {(applicationId, params): (fingerprint, value)}, insertion-ordered
_entries: dict[str, dict[tuple, tuple[tuple, Any]]] = {}


def plan_cache_key(df: DataFrame) -> tuple:
    """Collision-proof identity of a DataFrame's plan: ``semanticHash`` is
    only 32 bits, so the analyzed plan string is part of the key too, and a
    silent collision needs both a hash collision and byte-identical plan
    text. Expression ids (``#123``) are stripped from the string: they grow
    per instantiation, so two builds of the same logical plan would
    otherwise never share an entry."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return df.semanticHash(), re.sub(r"#\d+", "", plan)


def materialize(df: DataFrame) -> DataFrame:
    """Compute a session relation and truncate its lineage
    (``localCheckpoint(eager=True)``) instead of a bare ``.cache()``.

    Consumer queries rebuild their DataFrame per run. Over a ``.cache()``
    they still carry the whole analyzed tree of the chain (tick scan →
    dedup → candle aggs → SMA windows → signal events) and re-analyze it on
    every build before the cache lookup applies; a local checkpoint cuts
    the plan to a scan of the materialized partitions. Measured at sf0.1:
    ``event_asof_tick`` build+plan 0.68 s → 0.21 s, exec 2.09 s → 1.08 s.
    Eager, so the build cost lands at materialization time, which the
    bench's cold lines time. Executor loss invalidates a local checkpoint
    on a cluster; production writes these relations as tables."""
    return df.localCheckpoint(eager=True)


def _source_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]


def _stat(path: str) -> tuple:
    local = unquote(urlparse(path).path) if path.startswith("file:") else path
    try:
        st = os.stat(local)
    except OSError:  # a remote URI, or a file removed since the listing
        return path, -1, -1
    return path, st.st_size, st.st_mtime_ns


def fingerprint(*params: Any) -> tuple:
    """The sorted ``(path, size, mtime_ns)`` of the source files ``params``
    name: every file under a ``str`` param and every file of a
    ``DataFrame`` param's ``inputFiles()``. Other params add nothing."""
    files = []
    for p in params:
        if isinstance(p, DataFrame):
            files += p.inputFiles()
        elif isinstance(p, str):
            files += _source_files(p)
    return tuple(sorted({_stat(f) for f in files}))


def _release(value: Any) -> None:
    for member in value if isinstance(value, tuple) else (value,):
        if isinstance(member, DataFrame):
            try:
                member.unpersist()
            except (Py4JError, PySparkException):
                pass  # its session has already stopped


def cached(spark: SparkSession, kind: str, build: Callable[[], Any], *params: Any) -> Any:
    """``build()`` once per ``(session, kind, params)`` while the source
    files the params name stay unchanged; see the module docstring."""
    sources = fingerprint(*params)
    params = tuple(
        plan_cache_key(p) if isinstance(p, DataFrame) else p for p in params
    )
    key = (spark.sparkContext.applicationId, params)
    with _lock:
        entries = _entries.setdefault(kind, {})
        hit = entries.get(key)
        if hit is not None and hit[0] != sources:
            del entries[key]
    if hit is not None:
        if hit[0] == sources:
            return hit[1]
        # released BEFORE the rebuild: Spark's cache registry can match a
        # re-read of the same path to the stale plan, and would then treat
        # the rebuilt value's .cache() as already cached
        _release(hit[1])
    value = build()
    evicted = []
    with _lock:
        now = entries.get(key)
        if now is not None and now[0] == sources:
            # another thread stored this entry while this one built; the
            # duplicate is dropped, not unpersisted, because an identical
            # plan shares the stored value's cached data
            return now[1]
        if now is not None:
            evicted.append(now[1])
        while len(entries) >= MAX_PER_KIND and key not in entries:
            evicted.append(entries.pop(next(iter(entries)))[1])
        entries[key] = (sources, value)
    for old in evicted:
        _release(old)
    return value


def clear(spark: SparkSession | None, *kinds: str) -> int:
    """Unpersist and drop the entries of ``kinds`` (every kind when none is
    given), only ``spark``'s when it is not None. Returns how many were
    dropped."""
    app = spark.sparkContext.applicationId if spark is not None else None
    released = []
    with _lock:
        for kind in kinds or tuple(_entries):
            entries = _entries.get(kind, {})
            for key in [k for k in entries if app is None or k[0] == app]:
                released.append(entries.pop(key)[1])
    for value in released:
        _release(value)
    return len(released)
