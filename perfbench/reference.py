"""Reference results for one workload's inputs, computed without Spark.

Run as its own process, before the measuring process starts, so DuckDB and
the Spark driver never share one address space:

    python3 perfbench/reference.py WORKLOAD INPUT_DIR SEED OUT_JSON CACHE_DIR

- Registry queries: the query's DuckDB oracle (``registry.all_oracles()``),
  reduced to ``layers.result_digest``. Oracle results depend only on the
  input files and the SQL, so they are cached under CACHE_DIR by a hash of
  both.
- ``ml_iterative`` fits: ``fits.numpy_fits``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fits  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def connect(input_dir: str):
    """DuckDB views over the tables present in ``input_dir`` — only those:
    the sparse corpus has two of the ten tables. ``events.ts`` is cast the
    way ``io.duckdb_connect`` casts it, to mirror the Spark loader."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET enable_progress_bar = false")
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        cols = "* REPLACE (ts::TIMESTAMP AS ts)" if t == "events" else "*"
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet('{path}')")
    return con


def _input_hash(input_dir: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_digests(names, input_dir: str, cache_dir: str) -> dict:
    from mapreduce_machine_learning_spark.registry import all_oracles

    oracles = all_oracles()
    inputs = _input_hash(input_dir)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name in names:
        source = oracles[name]
        key = hashlib.sha256(f"{inputs}|{name}|{source}".encode()).hexdigest()
        path = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = connect(input_dir)
        cur = con.execute(source)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = layers.result_digest(cols, rows)
        with open(path + ".tmp", "w") as f:
            json.dump(out[name], f)
        os.replace(path + ".tmp", path)
    return out


def main(argv) -> None:
    workload, input_dir, seed, out_path, cache_dir = argv
    w = WORKLOADS[workload]
    calls = w.calls(int(seed))
    ref = {
        "queries": oracle_digests(
            [n for k, n in calls if k == "query"], input_dir, cache_dir
        ),
        "fits": fits.numpy_fits(input_dir, w.params(int(seed)))
        if any(k == "fit" for k, _ in calls)
        else {},
    }
    with open(out_path, "w") as f:
        json.dump(ref, f)


if __name__ == "__main__":
    main(sys.argv[1:])
