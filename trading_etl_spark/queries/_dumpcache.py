"""Shared FIFO-bounded disk-dump cache for gate/bench fixtures.

Two gate surfaces materialize a small on-disk fixture once per
(applicationId, sf_dir) and reuse it across invocations — the streaming
gates' single-file candle dump and the compaction gate's many-small-files
events twin. Both need an eviction the in-memory session cache
(``trading_etl_spark.cache``) does not provide: an evicted entry must also
rmtree its directory, and every root registers an atexit cleanup (review r9:
the two hand-rolled copies of this loop must not evolve separately).
"""

from __future__ import annotations

import atexit
import shutil
from collections.abc import Callable


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
    """
    root = cache.get(key)
    if root is None:
        while len(cache) >= max_entries:
            shutil.rmtree(cache.pop(next(iter(cache))), ignore_errors=True)
        root = make_root()
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        build(root)
        cache[key] = root
    return root
