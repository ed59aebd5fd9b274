"""Seeded input generators: tick history in the fixture ``events`` schema and
a document/embedding corpus in the fixture ``documents``/``embeddings`` schema.

The program under test only ever sees the files written here. The same seed
gives the same rows; ``content_hash`` digests the rows (not the parquet
bytes), so it also names the inputs in a result record.

Ticks land as many part files under ``<dir>/events.parquet/`` with
``ts`` as TIMESTAMP(MICROS), like the fixture. A tick's pair is
``user_id % 6 + 1`` and its ask spread comes from ``props``' ``k``, which is
how ``sources/ticks.py`` reads them. Planted noise, as a share of rows:
duplicate seconds (another tick in a second the pair already has), rows
written out of time order (moved into a later part file), invalid values
(``value <= 0``) and ``props`` without ``k``. The last two are dropped by the
validity filter, so every noisy row exercises a path of the source layer.

The fixture itself is not in a checkout, so the corpus is drawn from the
fixture's measured distributions rather than from its rows. Counted on the
fixture's ``documents`` table at scale factors 0.01 and 0.1 (500 and 5,000
rows): every text is made of the same 30 words, plus a trailing ``dup`` on
about 5% of rows; lengths are spread evenly over 10..100 tokens; ``lang`` is
en 41-44%, zh/es/fr 13-15% each, de 14%; ``source`` takes 20 values. Its
``embeddings`` are 64-dimensional with 10 labels. Near-duplicates are
planted on top (every tenth row).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, the fixture's window start
HOUR_US = 3_600_000_000
MINUTE_US = 60_000_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# the fixture corpus's words, duplicate marker and language shares, counted
# on its documents table (see the module docstring)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_TOKEN = "dup"
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


# planted noise, as shares of rows
DUP_SECOND = 0.05
OUT_OF_ORDER = 0.05
INVALID_VALUE = 0.01
MISSING_K = 0.01


def _digest(h, table: pa.Table) -> None:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h.update(sink.getvalue().to_pybytes())


def _tick_rows(rng, t_lo_us, t_hi_us, first_id, last_price):
    """Clean 1 Hz ticks for 6 pairs over [t_lo, t_hi), both whole seconds:
    every pair has one tick in every second, at a random point inside it,
    on its own random walk, so the price moves within each minute.

    ``last_price`` (6 floats) carries each pair's walk across calls so a
    later slice continues the same series; it is updated in place.
    """
    seconds = (t_hi_us - t_lo_us) // 1_000_000
    n = 6 * seconds
    ts = np.repeat(np.arange(t_lo_us, t_hi_us, 1_000_000), 6) + rng.integers(0, 1_000_000, n)
    pair = np.tile(np.arange(6), seconds)
    walk = np.asarray(last_price) + np.cumsum(rng.normal(0.0, 0.01, (seconds, 6)), axis=0)
    walk = np.maximum(np.round(walk, 3), 1.0)
    last_price[:] = walk[-1].tolist()
    order = np.argsort(ts, kind="stable")
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts[order],
        "user_id": (rng.integers(0, 250, n) * 6 + pair)[order],  # user_id % 6 == pair
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": walk.reshape(-1)[order],
        "k": rng.integers(0, 100, n),
    }


def _add_noise(rng, cols):
    """Append duplicate-second rows and corrupt a share of rows.

    Returns the columns with ``no_k`` and ``valid`` set, and a per-row
    flag of rows to move to a later part file (out of order).
    """
    n = cols["ts"].size
    src = np.flatnonzero(rng.random(n) < DUP_SECOND)
    base_id = cols["event_id"][-1] + 1
    extra = {
        "event_id": np.arange(base_id, base_id + src.size, dtype=np.int64),
        # same second as the source tick, anywhere inside it
        "ts": cols["ts"][src] // 1_000_000 * 1_000_000 + rng.integers(0, 1_000_000, src.size),
        "user_id": cols["user_id"][src] + 6 * rng.integers(0, 3, src.size),
        "event_type": rng.integers(0, len(EVENT_TYPES), src.size),
        "value": np.round(cols["value"][src] + rng.normal(0, 0.01, src.size), 3).clip(1.0),
        "k": rng.integers(0, 100, src.size),
    }
    out = {c: np.concatenate([cols[c], extra[c]]) for c in cols}
    m = out["ts"].size
    bad_value = rng.random(m) < INVALID_VALUE
    out["value"] = np.where(bad_value, -np.round(rng.random(m) * 5, 2), out["value"])
    out["no_k"] = rng.random(m) < MISSING_K
    out["valid"] = ~bad_value & ~out["no_k"]
    late = rng.random(m) < OUT_OF_ORDER
    return out, late


def _props(k, no_k) -> pa.Array:
    """``props`` JSON: ``{"k": <k>}``, or one without ``k`` where ``no_k``."""
    with_k = pc.binary_join_element_wise('{"k": ', pc.cast(pa.array(k), pa.string()), "}", "")
    return pc.if_else(pa.array(no_k), '{"src": "ws"}', with_k)


def _to_table(cols, idx) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"][idx], pa.int64()),
            "ts": pa.array(cols["ts"][idx], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"][idx], pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[cols["event_type"][idx]], pa.string()),
            "value": pa.array(cols["value"][idx], pa.float64()),
            "props": _props(cols["k"][idx], cols["no_k"][idx]),
        },
        schema=EVENTS_SCHEMA,
    )


@dataclass(frozen=True)
class Slice:
    rows: int
    newest: dict[int, int]  # pair index -> newest valid second (epoch s)
    new_minutes: int  # (pair, minute) keys no earlier valid tick had


def minute_keys(cols) -> set[tuple[int, int]]:
    """(pair index, epoch minute) of every row the validity filter keeps."""
    ok = cols["valid"]
    pair = cols["user_id"][ok] % 6
    minute = cols["ts"][ok] // MINUTE_US
    return set(zip(pair.tolist(), minute.tolist()))


class TickHistory:
    """A seeded tick feed: ``write_history`` lands the backfill, then each
    ``land_slice`` call lands the next slice as one new part file.

    It remembers which (pair, minute) keys hold a valid tick, so a refresh's
    count of new 1-minute candles can be checked exactly: first-wins
    appends write every new key once and no key twice.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.price = [100.0 + 10.0 * p for p in range(6)]
        self.next_id = 0
        self.cursor_us = T0_US
        self.n_parts = 0
        self.hash = hashlib.sha256()
        self.keys: set[tuple[int, int]] = set()

    def _write(self, events_dir: str, table: pa.Table) -> None:
        os.makedirs(events_dir, exist_ok=True)
        _digest(self.hash, table)
        pq.write_table(table, os.path.join(events_dir, f"part-{self.n_parts:05d}.parquet"))
        self.n_parts += 1

    def _rows(self, t_hi_us: int):
        cols = _tick_rows(self.rng, self.cursor_us, t_hi_us, self.next_id, self.price)
        cols, late = _add_noise(self.rng, cols)
        order = np.argsort(cols["ts"], kind="stable")
        cols = {c: v[order] for c, v in cols.items()}
        late = late[order]
        self.next_id = int(cols["event_id"].max()) + 1
        self.cursor_us = t_hi_us
        return cols, late

    def write_history(self, sf_dir: str, hours: int, n_parts: int) -> int:
        """Land ``hours`` of ticks from 2024-01-01 as ``n_parts`` files; returns rows."""
        cols, late = self._rows(T0_US + hours * HOUR_US)
        on_time = np.flatnonzero(~late)
        chunks = np.array_split(on_time, n_parts)
        # a late row lands in a part file after the one its time belongs to
        late_idx = np.flatnonzero(late)
        dest = np.minimum(
            np.searchsorted(on_time, late_idx) * n_parts // max(on_time.size, 1)
            + self.rng.integers(1, 4, late_idx.size),
            n_parts - 1,
        )
        self.keys |= minute_keys(cols)
        events_dir = os.path.join(sf_dir, "events.parquet")
        for i, chunk in enumerate(chunks):
            idx = np.concatenate([chunk, late_idx[dest == i]])
            self._write(events_dir, _to_table(cols, idx))
        return int(cols["ts"].size)

    def land_slice(self, sf_dir: str, minutes: int, late_share: float) -> Slice:
        """Land the next ``minutes`` of ticks plus ``late_share`` of late
        (valid) rows inside the last landed hour, as one new part file."""
        t_lo = self.cursor_us
        cols, _ = self._rows(t_lo + minutes * MINUTE_US)
        n_late = int(round(late_share * cols["ts"].size))
        late_ts = t_lo - self.rng.integers(1, 60 * MINUTE_US, n_late)
        late_ids = np.arange(self.next_id, self.next_id + n_late, dtype=np.int64)
        self.next_id += n_late
        late_cols = {
            "event_id": late_ids,
            "ts": late_ts,
            "user_id": self.rng.integers(0, 1500, n_late).astype(np.int64),
            "event_type": self.rng.integers(0, len(EVENT_TYPES), n_late),
            "value": np.round(50 + self.rng.random(n_late) * 100, 3),
            "k": self.rng.integers(0, 100, n_late),
            "no_k": np.zeros(n_late, dtype=bool),
            "valid": np.ones(n_late, dtype=bool),
        }
        merged = {c: np.concatenate([cols[c], late_cols[c]]) for c in cols}
        order = self.rng.permutation(merged["ts"].size)
        self._write(os.path.join(sf_dir, "events.parquet"), _to_table(merged, order))
        keys = minute_keys(merged)
        new = len(keys - self.keys)
        self.keys |= keys
        return Slice(int(merged["ts"].size), newest_valid_second(merged), new)

    def content_hash(self) -> str:
        return self.hash.hexdigest()


def newest_valid_second(cols) -> dict[int, int]:
    """Newest ``ts`` second (epoch seconds) per pair index among rows the
    validity filter keeps: what a fresh ``latest_tick_per_pair`` shows."""
    ok = cols["valid"]
    pair = cols["user_id"] % 6
    return {
        int(p): int(cols["ts"][ok & (pair == p)].max() // 1_000_000)
        for p in range(6)
        if (ok & (pair == p)).any()
    }


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one file each,
    like the fixture); returns the content hash.

    Every tenth document is a near-duplicate: a copy of an earlier original
    with one to three token substitutions and the fixture's trailing ``dup``
    marker. Every tenth vector copies an earlier one plus small noise, same
    label. The lengths of the originals are a shuffle of an even spread over
    10..100 tokens rather than independent draws: long documents over this
    small vocabulary share most of their simhash, so the length mix decides
    the size of the duplicate graph, and the seed should change the content,
    not the amount of work.
    """
    rng = np.random.default_rng([seed, 2])
    lengths = iter(rng.permutation(np.linspace(10, 100, n_docs).round().astype(int)))
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i % 10 == 9:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append(DUP_TOKEN)
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), next(lengths))]
            originals.append(i)
        texts.append(" ".join(toks))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0, 1, (n_vecs, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    for i in range(9, n_vecs, 10):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0, 0.02, EMB_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in (("documents", docs), ("embeddings", emb)):
        _digest(h, table)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return h.hexdigest()
