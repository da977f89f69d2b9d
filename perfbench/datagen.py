"""Seeded input generators for the benchmark.

Both input sets are written as one-row-group parquet files with the schemas
of FIXTURES.md, so the engine's loaders read them unchanged:

- ``gen_ml_tables``: ``events`` and ``lineitem``, the two tables the
  ml_train workload reads. ``events.ts`` is ``timestamp[ns]`` as FIXTURES.md
  specifies, so the engine's loader takes its nanosecond branch (read as
  bigint, then ``timestamp_micros(ts DIV 1000)``). ``l_shipdate`` is
  ``timestamp[ms]``.
- ``gen_sparse_corpus``: documents and embeddings only, with the layout of
  ``tools/gen_scaling_corpus.py`` (20k-word vocabulary, 2% planted
  near-dups with 3 tokens replaced, 16 Gaussian embedding clusters) but
  drawn from a seeded generator so each seed gives a different corpus.
  Here LSH prunes and the true pair count grows linearly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
# lineitem's foreign-key domains: the sf0.01 orders, part and supplier counts
ORDERS, PARTS, SUPPLIERS = 15_000, 2_000, 100

_DAY_NS = 86_400 * 10**9


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def gen_ml_tables(seed: int, events: int, lineitem: int) -> dict[str, pa.Table]:
    """``events`` rows of events over 30 days and ``lineitem`` rows of
    lineitem, with the value domains of the shipped corpus."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01", "ns").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_NS, events))
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 1500, events, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, events),
            "value": pa.array(rng.exponential(50.0, events).round(2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
        }
    )
    ship_lo = np.datetime64("1995-01-02", "D").astype(np.int64)
    ship_hi = np.datetime64("2001-11-04", "D").astype(np.int64)
    ship_days = rng.integers(ship_lo, ship_hi + 1, lineitem)
    li = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ORDERS, lineitem, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, PARTS, lineitem, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, lineitem, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, lineitem).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, lineitem).astype(np.float64)),
            "l_extendedprice": pa.array(rng.uniform(900, 105000, lineitem).round(2)),
            "l_discount": pa.array(rng.integers(0, 11, lineitem) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, lineitem) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], lineitem),
            "l_linestatus": _pick(rng, ["F", "O"], lineitem),
            "l_shipdate": pa.array(ship_days * 86_400_000, pa.timestamp("ms")),
        }
    )
    return {"events": ev, "lineitem": li}


def gen_sparse_corpus(seed: int, docs: int, vecs: int) -> dict[str, pa.Table]:
    """``docs`` base documents plus 2% planted near-dups, and ``vecs``
    clustered unit embeddings."""
    rng = np.random.default_rng(seed)
    vocab, dup_every, clusters = 20_000, 50, 16
    base = [rng.integers(0, vocab, 30 + d % 31) for d in range(docs)]
    texts = [" ".join(f"w{w}" for w in toks) for toks in base]
    for k in range(docs // dup_every):
        toks = [f"w{w}" for w in base[k * dup_every]]
        toks[:3] = [f"alt{k}_{s}" for s in range(3)]
        texts.append(" ".join(toks))
    n = len(texts)
    centers = rng.normal(size=(clusters, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(vecs) % clusters
    vectors = centers[labels] + rng.normal(scale=0.25, size=(vecs, EMB_DIM))
    vectors = (vectors / np.linalg.norm(vectors, axis=1, keepdims=True)).astype(np.float32)
    return {
        "documents": pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": _pick(rng, LANGS, n, LANG_P),
                "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
                "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
    }


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, one row group each (like the shipped
    corpus), written atomically so an interrupted run leaves no partial file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=max(1, table.num_rows))
        os.replace(path + ".tmp", path)
