"""Seeded inputs for every workload.

The same seed always gives the same bytes. The program under test only
ever sees the files written here (event-line files and parquet tables);
the expected outputs are derived from the same generators, never from
the program.

Event lines are one JSON object per line::

    {"id":17,"type":"click","stamp":1700000000000000,"pad":"Ab  cé"}

``pad`` varies the payload length and carries upper case, runs of
spaces and combining accents, so the ``normalize`` interceptor
(NFC, lower case, whitespace collapse) changes every routed line and a
skipped normalisation is caught by the payload check.
"""

from __future__ import annotations

import os
import random
import re
import unicodedata
from dataclasses import dataclass

import numpy as np

TYPES = ("click", "view", "purchase", "signup", "error")
HTTP_TYPES = frozenset({"click", "view", "purchase"})
DROPPED_TYPES = frozenset({"error"})

_PAD_WORDS = (
    "Alpha", "BETA", "gamma", "Delta", "Cafe\u0301", "CAF\u00c9", "HA\u030aMPI",
    "ZETA", "eta", "Theta", "iota", "KAPPA", "lam", "Mu", "nu", "Xi",
)


def sink_of(etype: str) -> str | None:
    """Where first-accepted routing must deliver an event of this type."""
    if etype in DROPPED_TYPES:
        return None
    return "http" if etype in HTTP_TYPES else "parquet"


def normalized(line: str) -> str:
    """What the ``normalize`` interceptor must turn ``line`` into."""
    out = unicodedata.normalize("NFC", line).lower()
    return re.sub(r"[ \t\n\r\f\x0b]+", " ", out).strip(" ")


def pad_pool(seed: int, size: int = 2048) -> list[str]:
    rng = random.Random(seed * 7919 + 1)
    pool = []
    for _ in range(size):
        words = rng.choices(_PAD_WORDS, k=rng.randint(0, 12))
        pool.append("".join(w + " " * rng.randint(1, 3) for w in words).rstrip(" "))
    return pool


def event_line(event_id: int, etype: str, stamp_us: int, pad: str) -> str:
    return f'{{"id":{event_id},"type":"{etype}","stamp":{stamp_us},"pad":"{pad}"}}'


def parse_id(line: str) -> int:
    """Event id of a (raw or normalized) event line."""
    return int(line[6 : line.index(",", 6)])


@dataclass
class EventBatch:
    """Ids, types and raw lines of a generated set of events."""

    ids: np.ndarray
    types: list[str]
    lines: list[str]

    def expected(self) -> dict[int, tuple[str | None, str]]:
        """id -> (sink the event must reach, payload it must carry)."""
        return {
            int(i): (sink_of(t), normalized(line))
            for i, t, line in zip(self.ids, self.types, self.lines)
        }


def make_events(seed: int, first_id: int, n: int, stamp_us: int = 0,
                pool: list[str] | None = None) -> EventBatch:
    """``n`` events with ids ``first_id..first_id+n-1`` in seeded order."""
    rng = np.random.default_rng([seed, first_id, n])
    pool = pool if pool is not None else pad_pool(seed)
    ids = first_id + rng.permutation(n)
    type_idx = rng.integers(0, len(TYPES), n)
    pad_idx = rng.integers(0, len(pool), n)
    types = [TYPES[k] for k in type_idx]
    lines = [
        event_line(int(i), t, stamp_us, pool[p])
        for i, t, p in zip(ids, types, pad_idx)
    ]
    return EventBatch(ids=ids, types=types, lines=lines)


def write_backlog(batch: EventBatch, directory: str, n_files: int, seed: int) -> list[str]:
    """Split the events over ``n_files`` files at seeded cut points.

    Each file is written under a dot-name (ignored by Spark's file
    source) and renamed into place, so a listing never sees half a file.
    """
    os.makedirs(directory, exist_ok=True)
    n = len(batch.lines)
    rng = np.random.default_rng([seed, n, n_files])
    even = np.linspace(0, n, n_files + 1)
    jitter = rng.uniform(-0.1, 0.1, n_files - 1) * (n / n_files)
    cuts = np.clip(np.round(even[1:-1] + jitter), 1, n - 1).astype(int)
    bounds = [0, *sorted(set(cuts.tolist())), n]
    paths = []
    for k in range(len(bounds) - 1):
        final = os.path.join(directory, f"part-{k:05d}.json")
        tmp = os.path.join(directory, f".part-{k:05d}.json.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(batch.lines[bounds[k] : bounds[k + 1]]))
            f.write("\n")
        os.rename(tmp, final)
        paths.append(final)
    return paths


# --- curation tables -----------------------------------------------------------

_VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with exactly two decimals, so rounded sums are exact on
    both engines whatever the summation order."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(seed: int, directory: str, scale: float) -> dict[str, int]:
    """The tables the curation queries read, in the registry's layout.

    ``scale`` 1.0 gives the row counts of the registry's sf0.01 test
    set (15k orders, 10k events, 500 documents, 500 embeddings).
    Returns row counts by table.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 2024])
    n_cust = max(50, int(1500 * scale))
    n_orders = max(200, int(15000 * scale))
    n_events = max(200, int(10000 * scale))
    n_users = max(20, int(150 * scale))
    n_docs = max(50, int(500 * scale))
    n_vecs = max(50, int(500 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[k] for k in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(day0 + days.astype("timedelta64[us]"), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
    })
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [TYPES[k] for k in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for _ in range(n_docs):
        words = rng.choice(_VOCAB, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    # a few exact repeats, so the dedup stage of the curation pipeline
    # has work to do
    for k in range(0, n_docs, 37):
        texts[k] = texts[(k * 7 + 3) % n_docs]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
