"""Parquet IO + the reference's signature write semantics (SURVEY.md §2.7).

- W1 insert-once / first-wins append: the reference's ``INSERT … ON CONFLICT
  DO NOTHING`` (``src/etl/flows/transform_services.py:88,122,212,290,369``)
  re-expressed as a left-anti join against existing primary keys. First write
  of a PK wins; re-runs add zero rows (contract tested like the reference's
  ``tests/acceptance/_test_transform_idempotency.py:110-120``).
- W2 incremental recompute cursor: MAX(time) per group
  (``transform_services.py:146-156``) so only new rows are recomputed.

Scale notes: a naive anti-join against a 100 TB fact table would shuffle the
whole table per append. ``first_wins_append`` therefore prunes the existing
side to the incoming batch's time range and to its values of each partition
column that is a key — partition pruning, so the anti-join touches only the
partitions a collision could live in. The incoming side of an append is
typically small → Catalyst/AQE broadcasts it.
"""

from __future__ import annotations

import contextlib
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fs


class ConcurrentWriteError(RuntimeError):
    """Another writer holds this table's writer lock."""


def _lock_path(path: str) -> str:
    return path.rstrip("/") + "._writer_lock"


@contextlib.contextmanager
def writer_lock(spark: SparkSession, path: str):
    """Single-writer guard for the W1 first-wins contract.

    The left-anti append is first-wins only under ONE writer: two
    simultaneous appenders could both pass the anti-join (neither sees the
    other's in-flight rows) and double-write a key — the reference gets
    this for free from Postgres primary keys.
    The guard is a sibling marker file ``<table>._writer_lock`` created
    atomically (fs.try_acquire_marker); the loser raises
    ``ConcurrentWriteError`` immediately — fail-fast, no blocking, the
    caller's retry policy decides. Sibling, not in-table: creating a
    marker inside the table dir would materialize an empty directory and
    break the "path absent until first non-empty partitioned batch"
    contract below. Crash-safety: a writer that dies mid-append leaves the
    marker behind; operators clear it explicitly (``fs.delete``) after
    confirming the writer is gone — deliberate, since auto-expiry can't
    distinguish a crash from a slow 100 TB append.

    Object stores: on s3a:// (and the other flat-namespace schemes in
    ``fs.NON_ATOMIC_CREATE_SCHEMES``) a create is HEAD-then-PUT, so the
    marker is NOT exactly-one-wins — two racing writers could both
    "acquire" it and the first-wins contract silently breaks. Rather than
    ship an advisory lock that looks safe, this hard-fails there: on an
    object store use an ACID table format
    (Delta/Iceberg MERGE), an external lock service (DynamoDB/ZooKeeper),
    or pass ``lock=False`` to first_wins_append under an external
    single-writer coordinator.
    """
    if not fs.has_atomic_create(path):
        raise ConcurrentWriteError(
            f"writer_lock cannot guarantee a single writer on "
            f"'{fs.path_scheme(path)}://' — create(overwrite=false) is not "
            "atomic on flat-namespace object stores, so the marker file is "
            "advisory only. Use first_wins_merge (ACID MERGE WHEN NOT "
            "MATCHED, delta-spark required), an external lock service, or "
            "lock=False under an external single-writer coordinator."
        )
    lp = _lock_path(path)
    if not fs.try_acquire_marker(spark, lp):
        raise ConcurrentWriteError(
            f"writer lock {lp} is held; concurrent first-wins appends to "
            f"{path} could double-write a key. Retry after the holder "
            "finishes, or clear a stale lock with fs.delete after "
            "confirming its writer is dead."
        )
    try:
        yield
    finally:
        fs.delete(spark, lp, recursive=False)


def first_wins(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is absent from ``existing`` (W1).

    Equivalent to Postgres ``ON CONFLICT DO NOTHING``: recomputed rows that
    collide with an existing PK are dropped, freezing partially-complete
    trailing buckets exactly like the reference does.
    """
    return incoming.join(existing.select(*keys).distinct(), keys, "left_anti")


def first_wins_append(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    prune_on: str = "time",
    partition_by: list[str] | None = None,
    lock: bool = True,
    observe: tuple[Observation, Sequence[Column]] | None = None,
) -> int:
    """Idempotently append ``incoming`` to the parquet table at ``path``.

    ``lock=True`` (default) serializes writers through :func:`writer_lock`
    so interleaved appends cannot double-write a key; pass ``lock=False``
    only when an external coordinator already guarantees a single writer.
    Returns the number of rows actually written. The incoming batch is
    deduped on the keys on both paths, so an internally-duplicated batch can
    never write two copies of a PK (the ON CONFLICT contract). The table
    existence probe goes through the Hadoop FileSystem for the path's scheme
    (file:/, hdfs://, s3a://) — never ``os.path``.

    A new table is one write job; the row count is observed on that job.
    An existing table is appended by :func:`_append_existing`.

    ``observe`` = (observation, metrics) observes ``metrics`` over the rows
    written, on either path (a split of the count by kind, say). It is
    filled whenever the returned count is non-zero; an existing-table
    append of an empty batch runs no job and leaves it unfilled.
    """
    batch = incoming.dropDuplicates(keys)
    guard = writer_lock(spark, path) if lock else contextlib.nullcontext()
    with guard:
        if fs.exists(spark, path):
            return _append_existing(
                spark, path, batch, keys, prune_on, partition_by, observe
            )
        obs = Observation()
        rows = batch.observe(obs, F.count(F.lit(1)).alias("n"))
        if observe:
            rows = rows.observe(observe[0], *observe[1])
        writer = rows.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        n = obs.get["n"]
        # An empty unpartitioned write still leaves a readable table with the
        # right schema, so the next reader gets zero rows, not PATH_NOT_FOUND.
        # A partitioned write of zero rows leaves a directory with no data
        # files, whose existence then breaks schema inference for every later
        # read and append: the path stays absent until a non-empty batch.
        if n == 0 and partition_by:
            fs.delete(spark, path)
        return n


def _append_existing(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: list[str],
    prune_on: str,
    partition_by: list[str] | None,
    observe: tuple[Observation, Sequence[Column]] | None = None,
) -> int:
    """Anti-join a key-deduped ``batch`` against the existing table at
    ``path`` and append the rows whose key is new.

    One observed job fills the batch's cache and returns its row count, the
    ``prune_on`` range and the values of each partition column that is a
    key. The existing side is then pruned to that range and those partition
    directories: a key collision implies equal values in every key column,
    so nothing that could collide is pruned. The range prune applies only
    when ``prune_on`` is itself a key — pruning on a non-key column could
    hide an existing key that lives outside the batch's range and re-insert
    it. The fresh rows are counted before the write, so an empty batch (the
    streaming gates append every micro-batch) adds no file.
    """
    prune_time = bool(prune_on) and prune_on in keys and prune_on in batch.columns
    part_keys = [c for c in partition_by or [] if c in keys]
    stats = [F.count(F.lit(1)).alias("n")]
    if prune_time:
        stats += [F.min(prune_on).alias("lo"), F.max(prune_on).alias("hi")]
    stats += [F.collect_set(c).alias(c) for c in part_keys]
    batch = batch.cache()
    fresh = None
    try:
        obs = Observation()
        # a noop write scans the batch once: it fills the cache and the
        # observation without an aggregate of its own
        batch.observe(obs, *stats).write.format("noop").mode("overwrite").save()
        seen = obs.get
        if seen["n"] == 0:
            return 0
        existing = spark.read.parquet(path)
        if prune_time and seen["lo"] is not None:
            existing = existing.filter(F.col(prune_on).between(seen["lo"], seen["hi"]))
        for c in part_keys:
            existing = existing.filter(F.col(c).isin(seen[c]))
        fresh = first_wins(existing, batch, keys).cache()
        n = (fresh.observe(observe[0], *observe[1]) if observe else fresh).count()
        if n:
            writer = fresh.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        return n
    finally:
        # the streaming gates run this every micro-batch: release both
        # relations so calls do not accumulate pinned memory
        if fresh is not None:
            fresh.unpersist()
        batch.unpersist()


class AcidFormatUnavailable(RuntimeError):
    """No ACID table format (delta-spark) importable in this environment."""


def _import_delta_table():
    try:
        from delta.tables import DeltaTable  # noqa: PLC0415 — feature gate
    except ImportError as e:
        raise AcidFormatUnavailable(
            "first_wins_merge needs an ACID table format: install delta-spark "
            "(pip install delta-spark, plus the matching io.delta:delta-spark "
            "jars via spark.jars.packages and the DeltaCatalog/extension "
            "confs). On a filesystem with atomic create you can use "
            "first_wins_append's marker lock instead; on an object store the "
            "ACID path is the ONLY safe concurrent first-wins."
        ) from e
    return DeltaTable


def merge_not_matched_condition(keys: list[str]) -> str:
    """The MERGE join condition for a first-wins insert: PK equality
    between target ``t`` and source ``s``. Plain ``=`` (not null-safe):
    primary-key columns must be non-null, matching the Postgres PK
    semantics this reproduces."""
    if not keys:
        raise ValueError("first-wins merge needs at least one key column")
    return " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)


def first_wins_merge(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    max_retries: int = 5,
) -> None:
    """W1 first-wins append on an ACID (Delta) table — the object-store
    path :func:`writer_lock` hard-fails toward: ``MERGE … WHEN NOT
    MATCHED THEN INSERT`` under the
    format's optimistic-concurrency commit protocol, which is what makes
    CONCURRENT writers safe where the marker lock cannot be:

    - every MERGE commits against a snapshot; the table log's
      put-if-absent commit file serializes commits even on flat-namespace
      stores (that is the point of the format's LogStore);
    - two racing merges inserting the same key conflict — the loser's
      commit fails with a Concurrent*Exception, and its RETRY re-runs the
      WHEN NOT MATCHED check against the winner's snapshot, so the key is
      matched and skipped. A key can never be double-written, exactly the
      Postgres ``ON CONFLICT DO NOTHING`` contract the reference relies on
      (``src/etl/flows/transform_services.py:88``).

    Feature-gated: raises :class:`AcidFormatUnavailable` with setup
    guidance when delta-spark is not importable (this sandbox), the same
    honesty rule as the other environment gates. The two-interleaved-
    writers contract test runs wherever the format IS present
    (tests/test_idempotency.py, importorskip-gated). Incoming batches are
    key-deduped first (MERGE requires a unique source key per target
    row; an internally-duplicated batch must also not write two copies).
    """
    DeltaTable = _import_delta_table()
    inc = incoming.dropDuplicates(keys)
    # Create the table as an EMPTY commit, then MERGE: a direct first
    # append could race another creator and double-write a key;
    # createIfNotExists is idempotent under the commit protocol (both
    # racers may attempt it; the log serializes them), and the key check
    # then lives entirely inside serialized MERGE commits. The create is
    # GUARDED on table existence: the builder validates its
    # schema against an existing table column-order-sensitively, so an
    # established table + a batch with reordered columns would throw a
    # schema mismatch here even though the name-based MERGE below handles
    # it fine. (Guard-then-create still cannot double-write: two racing
    # creators both reach createIfNotExists, which is idempotent.)
    if not DeltaTable.isDeltaTable(spark, path):
        DeltaTable.createIfNotExists(spark).location(path).addColumns(
            inc.schema
        ).execute()
    tbl = DeltaTable.forPath(spark, path)
    cond = merge_not_matched_condition(keys)
    last: Exception | None = None
    for _ in range(max_retries):
        try:
            (
                tbl.alias("t")
                .merge(inc.alias("s"), cond)
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        except Exception as e:  # noqa: BLE001 — classify, re-raise foreign
            if "Concurrent" not in type(e).__name__:
                raise
            last = e  # optimistic-concurrency loser: retry on new snapshot
    raise ConcurrentWriteError(
        f"first_wins_merge on {path} lost the optimistic-concurrency race "
        f"{max_retries} times; raise max_retries or reduce writer fan-in"
    ) from last


def max_time_cursor(df: DataFrame, group_keys: list[str], time_col: str = "time") -> DataFrame:
    """A3/W2: per-group MAX(time) watermark for incremental recompute."""
    return df.groupBy(*group_keys).agg(F.max(time_col).alias("max_time"))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S9 DDL + co-located joins: persist as a bucketed catalog table.

    Two relations bucketed identically on their join key sort-merge-join with
    NO exchange — the pre-computed partitioning replaces the shuffle. This is
    the Spark equivalent of the reference's planned-but-unbuilt index work
    (docs/devops-tasks/t10-performance-index.md) and the right layout for the
    repeatedly-joined fact tables (fact_sma self-join, lineitem⨝orders) at
    100 TB: pay the shuffle once at write time, never at read time.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


class SchemaEvolutionError(RuntimeError):
    """Incompatible schema change on append (type change / non-additive)."""


def append_with_schema_evolution(df: DataFrame, path: str) -> None:
    """Append a batch to a parquet table allowing ADDITIVE schema
    evolution only: new nullable columns may appear (readers with
    ``mergeSchema`` see the union; old files read NULL for them) and a
    batch may omit existing columns (its rows read NULL there). A TYPE
    CHANGE on a shared column hard-fails loudly — plain parquet would
    otherwise defer the failure to some future read of the mixed table
    (the worst place to discover it) or silently coerce. The reference
    versions schemas via alembic migrations with downtime; additive
    evolution is the zero-downtime fraction of that, and anything
    non-additive still belongs to an explicit rewrite/migration.
    """
    spark = df.sparkSession
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if fs.exists(jvm_path):
        # mergeSchema is load-bearing: without it Spark infers the table
        # schema from ONE sampled footer, so a clash on a column absent
        # from that file would slip through and defer the failure to a
        # future mergeSchema read — the exact outcome this guard exists
        # to prevent.
        existing = {
            f.name: f.dataType
            for f in spark.read.option("mergeSchema", "true").parquet(path).schema
        }
        clashes = [
            (c.name, str(existing[c.name]), str(c.dataType))
            for c in df.schema
            if c.name in existing and c.dataType != existing[c.name]
        ]
        if clashes:
            detail = "; ".join(f"{n}: {o} -> {new}" for n, o, new in clashes)
            raise SchemaEvolutionError(
                f"type change on append to {path} ({detail}); "
                "run an explicit migration rewrite instead"
            )
    df.write.mode("append").parquet(path)


# Read side: plans.maintenance.read_evolved (mergeSchema, or a declared
# contract schema at scale) — this module owns only the write-side guard.
