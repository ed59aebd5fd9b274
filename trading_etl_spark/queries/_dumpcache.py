"""Shared FIFO-bounded disk-dump cache for gate/bench fixtures.

The one retention rule for on-disk gate directories. Two gate surfaces
materialize a small on-disk fixture once per (applicationId, sf_dir) and
reuse it across invocations — the streaming gates' single-file candle dump
and the compaction gate's many-small-files events twin — and the streaming
gates' per-call run directories are the same cache with bound 2 and a
fresh key per call. All need an eviction the in-memory session cache
(``trading_etl_spark.cache``) does not provide: an evicted entry must also
rmtree its directory, and every root registers an atexit cleanup. Like the
session cache, each entry stores the fingerprint of the source files it was
built from, so an append under the source directory rebuilds it.
"""

from __future__ import annotations

import atexit
import shutil
from collections.abc import Callable

from ..cache import fingerprint


def get_or_build_dump(
    cache: dict,
    max_entries: int,
    key,
    make_root: Callable[[], str],
    build: Callable[[str], None],
) -> str:
    """Return the cached dump ROOT for ``key``, building it if absent.

    ``make_root`` produces the root directory path (mkdtemp or a
    deterministic location); ``build`` writes the fixture under it. FIFO
    eviction rmtree's the evicted root; every new root gets an atexit
    rmtree (registered before ``build`` so a failed build still cleans
    up). Callers derive any inner paths from the returned root.

    ``key`` names its source the way the session cache's params do: its
    members go through :func:`~trading_etl_spark.cache.fingerprint`, so a
    source directory in the key (``sf_dir``) is fingerprinted. When the
    fingerprint differs from the one the entry was built under, the
    entry's root is removed and rebuilt under the same key. A root held
    by another entry is refused: evicting or rebuilding that entry would
    delete this one's files.
    """
    sources = fingerprint(*key) if isinstance(key, tuple) else fingerprint(key)
    hit = cache.get(key)
    if hit is not None:
        if hit[0] == sources:
            return hit[1]
        shutil.rmtree(cache.pop(key)[1], ignore_errors=True)
    while len(cache) >= max_entries:
        shutil.rmtree(cache.pop(next(iter(cache)))[1], ignore_errors=True)
    root = make_root()
    if any(held == root for _, held in cache.values()):
        raise ValueError(f"dump root {root} is already held by another entry")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    build(root)
    cache[key] = (sources, root)
    return root
