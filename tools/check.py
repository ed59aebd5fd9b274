"""Local correctness checker mimicking the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and an
order-insensitive canonicalized value multiset.

Each oracle answer is cached by its SQL text for the run: the views are the
sf dir's static tables, so keys that share an oracle string (the two
connected-components keys share one ``WITH RECURSIVE`` reachability query)
run it once. Every key still runs on Spark and gets the full compare.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) raises — render explicitly
            return "Infinity" if v > 0 else "-Infinity"
        # repr() is Python's shortest-round-trip rendering: two finite
        # doubles are canon-equal IFF they are bit-equal (it preserves the
        # sign of zero too, covering the r11 williams_r -0.0 class) —
        # exactly the driver's bit-sensitive hash bar. The previous
        # f"{v:.6g}" rendered six SIGNIFICANT digits, so for |v| >= 10 a
        # difference in the 6th DECIMAL place was invisible locally while
        # the driver hashed it — canonicalization class 4, how r12's
        # vwap_daily_1h shipped check-green and died driver-red
        # (66.622813 vs 66.622812 both rendered "66.6228").
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


# The canonicalized-value compare above is type-blind (str(5) == str(Decimal(5)))
# but the DRIVER's hash is type-sensitive: r7's orders_table_profile shipped
# check.py-green and driver-RED because DuckDB typed sum(CASE...) as HUGEINT
# (arrow decimal128) vs Spark's BIGINT. These maps canonicalize both engines'
# column types to one vocabulary so the divergence fails LOCALLY.
#
# Types with no exact Spark scalar twin (HUGEINT, DECIMAL, unsigned ints) are
# flagged unconditionally — the repo convention is to cast oracle aggregates
# to ::BIGINT / ::DOUBLE.
_DUCK_TYPES = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "REAL": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    "TIME": "time",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "TIMESTAMP_MS": "timestamp",
    "TIMESTAMP_S": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
}
_DUCK_BANNED = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
                "UTINYINT", "DECIMAL")


def canon_duck_type(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return f"array<{canon_duck_type(t[:-2])}>"
    for banned in _DUCK_BANNED:
        if t.startswith(banned):
            return f"BANNED:{t}"
    return _DUCK_TYPES.get(t, f"other:{t}")


def canon_spark_type(t: str) -> str:
    t = t.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{canon_spark_type(t[6:-1])}>"
    if t == "timestamp_ntz":
        return "timestamp"
    if t.startswith("decimal"):
        return f"BANNED:{t}"
    return t


def type_mismatches(scols, sdtypes, con, sql):
    """Strict per-column type parity: Spark dtypes vs DESCRIBE'd oracle types.

    Returns a list of human-readable problems (empty == parity). Any oracle
    column whose type has no exact Spark twin (HUGEINT/DECIMAL/unsigned) is a
    problem even if Spark's type 'looks close' — the driver hashes the arrow
    representation, where decimal128 != int64.
    """
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    otypes = {r[0]: canon_duck_type(r[1]) for r in desc}
    stypes = dict(zip(scols, (canon_spark_type(t) for _, t in sdtypes)))
    problems = []
    for col in sorted(set(otypes) & set(stypes)):
        o, s = otypes[col], stypes[col]
        if o.startswith("BANNED:"):
            problems.append(f"{col}: oracle type {o[7:]} has no Spark twin — cast it (::BIGINT/::DOUBLE)")
        elif s.startswith("BANNED:"):
            problems.append(f"{col}: spark type {s[7:]} — cast to long/double for driver-hash stability")
        elif o != s:
            problems.append(f"{col}: spark={s} oracle={o}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    import __spark_entry__ as entrymod
    from trading_etl_spark.session import get_spark

    # CHECK_SHUFFLE_PARTITIONS lets the determinism sweeps perturb the
    # partitioning (reduction order / row order) without editing this file.
    import os
    spark = get_spark(
        "check",
        shuffle_partitions=int(os.environ.get("CHECK_SHUFFLE_PARTITIONS", "8")),
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    answers: dict[str, tuple[list[str], list[tuple]]] = {}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            if oracles[name] not in answers:
                res = con.execute(oracles[name])
                answers[oracles[name]] = ([d[0] for d in res.description], res.fetchall())
            ocols, orows = answers[oracles[name]]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        try:
            tprob = type_mismatches(scols, sdf.dtypes, con, oracles[name])
        except Exception as e:
            tprob = [f"DESCRIBE failed: {e}"]
        if tprob:
            failures.append(name)
            print(f"FAIL  {name}: type mismatch: {'; '.join(tprob)}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        a, b = canon_rows(scols, srows), canon_rows(ocols, orows)
        if a != b:
            failures.append(name)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch ({len([1 for x, y in zip(a, b) if x != y])} rows); first: {diff}")
            continue
        if not srows:
            # a 0-row match is vacuous — both sides may share an upstream
            # emptiness bug (the r2 failure mode produced near-empty boards)
            print(f"OK0   {name}: matched on ZERO rows — verify non-emptiness is intended")
        else:
            print(f"OK    {name}: {len(srows)} rows ({dt:.1f}s)")

    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
