"""Seeded inputs of the benchmark workloads, cut from the sf0.1
fixture slices in ``data/`` (see ``data/extract.py``).

Every input the program receives is chosen here from the run's
``--seed`` and nothing else: seeded row windows and samples of the
fixture tables, plus the few rows the benchmark constructs on top of
them (copies and one-word edits of documents, late and re-delivered
event rows). The same seed gives byte-identical parquet files and a
different seed gives different ones.

Pure Arrow + NumPy; no Spark is involved, so it runs before the session
starts and can be tested on its own.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: orders in the warehouse star: a seeded window of this many
#: consecutive order keys out of the 36000 in ``data/``, with their
#: line items (about a fifth of sf0.1)
WAREHOUSE_ORDERS = 30_000
#: consecutive ``events`` rows the warehouse rollups read
WAREHOUSE_EVENTS = 20_000
#: ``events`` rows ``[0, EVENT_STREAM_ROWS)`` are the incremental_sync
#: stream; rows past it are the pool late rows are drawn from
EVENT_STREAM_ROWS = 50_000
LATE_SHIFT = dt.timedelta(days=31)

EMB_DIM = 64


def read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one table as a single parquet file of one row group and
    return its size; the bytes are a function of the table alone."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _key_window(t: pa.Table, col: str, lo: int, n: int) -> pa.Table:
    k = t[col]
    return t.filter(pc.and_(pc.greater_equal(k, lo), pc.less(k, lo + n)))


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The star schema plus ``events``: the dimension tables whole, a
    seeded window of ``WAREHOUSE_ORDERS`` order keys with their line
    items, and a seeded window of ``WAREHOUSE_EVENTS`` events."""
    rng = np.random.default_rng([seed, 1])
    out = {n: read(n) for n in ("region", "nation", "customer", "supplier", "part")}
    orders = read("orders")
    lo = int(rng.integers(0, orders.num_rows - WAREHOUSE_ORDERS + 1))
    out["orders"] = _key_window(orders, "o_orderkey", lo, WAREHOUSE_ORDERS)
    out["lineitem"] = _key_window(read("lineitem"), "l_orderkey", lo, WAREHOUSE_ORDERS)
    events = read("events")
    start = int(rng.integers(0, events.num_rows - WAREHOUSE_EVENTS + 1))
    out["events"] = events.slice(start, WAREHOUSE_EVENTS)
    return out


def shift_back(rows: pa.Table, delta: dt.timedelta) -> pa.Table:
    """``rows`` with ``ts`` moved ``delta`` into the past: late rows of
    an older month."""
    unit = rows.schema.field("ts").type.unit
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    ts = rows["ts"].cast(pa.int64())
    moved = pc.subtract(ts, int(delta.total_seconds()) * per_s).cast(rows["ts"].type)
    return rows.set_column(rows.schema.get_field_index("ts"), "ts", moved)


# ------------------------------------------------------------------ corpus


def near_duplicate(rng: np.random.Generator, text: str) -> str:
    """One word replaced: the kind of near-duplicate MinHash LSH is
    meant to pair."""
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = "edited"
    return " ".join(words)


def document_batch(
    rng: np.random.Generator,
    corpus_texts: list[str],
    fresh_texts: list[str],
    first_id: int,
    n: int,
    exact: int,
    near: int,
    pairs: int,
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``n`` documents with ids ``first_id..`` in seeded order:
    ``exact`` verbatim copies and ``near`` one-word edits of distinct
    corpus documents, ``pairs`` fixture documents each followed
    somewhere in the batch by a one-word edit of itself, and fixture
    documents (from ``fresh_texts``, in order) for the rest. Returns the
    batch and the id pairs ``(a, b)``, ``a < b``, of the planted
    near-duplicates."""
    picks = rng.choice(len(corpus_texts), exact + near, replace=False)
    docs = [corpus_texts[k] for k in picks[:exact]]
    docs += [near_duplicate(rng, corpus_texts[k]) for k in picks[exact:]]
    n_fresh = n - exact - near - 2 * pairs
    fresh = fresh_texts[: n_fresh + pairs]
    docs += fresh[:n_fresh]
    planted = []
    for t in fresh[n_fresh:]:
        planted.append((len(docs), len(docs) + 1))
        docs += [t, near_duplicate(rng, t)]
    order = rng.permutation(n)
    pos = np.empty(n, dtype=np.int64)
    pos[order] = np.arange(n)
    planted = [tuple(sorted((first_id + int(pos[a]), first_id + int(pos[b])))) for a, b in planted]
    table = pa.table(
        {
            "doc_id": pa.array(first_id + np.arange(n), pa.int64()),
            "text": [docs[k] for k in order],
        }
    )
    return table, planted


def embeddings(seed: int, n: int) -> pa.Table:
    """A seeded window of ``n`` consecutive fixture vectors."""
    emb = read("embeddings")
    start = int(np.random.default_rng([seed, 3]).integers(0, emb.num_rows - n + 1))
    return emb.slice(start, n)
