"""Untimed output checks against the DuckDB twins of the registered queries.

The twins come from ``registry.build_oracles()`` and run over the generated
files; rows are compared with ``tools/check.py``'s ``canon_rows``, the same
order-insensitive canonical form the repository's own checker uses.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from trading_etl_spark.registry import build_oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_canon_rows():
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


_canon_rows = _load_canon_rows()

# twins that end in a recursive connected-components step over the
# ``pairs`` edge relation, and where that step starts in their SQL
COMPONENT_TWINS = {"dedup_cc_two_phase"}
EDGES_CTE = ",\nedges AS ("


def canon(columns: list[str], rows) -> tuple[list[str], list[str]]:
    """(sorted column names, canonical rows): equal for equal results."""
    return sorted(columns), _canon_rows(columns, [tuple(r) for r in rows])


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, sf_dir: str, tables: dict[str, str]):
        self.twins = build_oracles()
        self.con = duckdb.connect()
        for table, pattern in tables.items():
            path = os.path.join(sf_dir, pattern)
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def answer(self, query: str) -> tuple[list[str], list[str]]:
        sql = self.twins[query]
        if query in COMPONENT_TWINS and EDGES_CTE in sql:
            return canon(*self._components(sql))
        res = self.con.execute(sql)
        return canon([d[0] for d in res.description], res.fetchall())

    def _components(self, sql: str):
        """The answer of a connected-components twin, from the twin's own
        edge relation (its ``pairs`` CTE, run in DuckDB) and a union-find in
        place of its recursive ``reach`` step. Both give every document the
        smallest ``doc_id`` of its component; the recursive step costs
        the square of the largest component, which on these inputs is most
        of the benchmark's set-up."""
        pairs = self.con.execute(
            sql[: sql.index(EDGES_CTE)] + "\nSELECT doc_a, doc_b FROM pairs"
        ).fetchall()
        docs = [r[0] for r in self.con.execute("SELECT doc_id FROM documents").fetchall()]
        parent = {d: d for d in docs}

        def root(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(d, root(d), root(d) == d) for d in docs]
        return ["doc_id", "component_id", "is_keeper"], rows

    def close(self) -> None:
        self.con.close()
