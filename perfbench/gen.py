"""Seeded fresh inputs.

The base input is ``perfbench/data/``: unchanged copies of the
project's sf0.01 test tables (the deterministic seed-42 TPC-H-ish star
schema plus the ``events`` and ``documents`` tables), one single
parquet file per table so that DuckDB views over
``<dir>/<table>.parquet`` resolve for the oracle.

``variant`` derives a fresh input from the base: every fact table keeps
a seeded key subset (about 15/16 of its keys: lineitem and orders by
order key, events by user, documents by doc id, embeddings by vector
id), and the dimension tables are symlinked unchanged. It is a pure
function of its arguments, so the same salt always gives the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FACT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _tables(data_dir: str) -> list[str]:
    return sorted(
        n[: -len(".parquet")]
        for n in os.listdir(data_dir)
        if n.endswith(".parquet")
    )


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
        for t in _tables(data_dir)
    }


def _keep(keys: np.ndarray, salt: int) -> np.ndarray:
    """Seeded key filter: a splitmix64 hash of (key, salt) drops the
    keys whose hash is 0 mod 16."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(salt) * np.uint64(
            0x9E3779B97F4A7C15
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(16)) != 0


def variant(base_dir: str, out_dir: str, salt: int) -> dict[str, int]:
    """Write one fresh input derived from ``base_dir``: a key subset of
    each fact table and a link to each dimension table (only the
    ``.parquet`` tables; nothing else in ``base_dir`` is carried over).
    Returns the row count of each fact table written."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for table in _tables(base_dir):
        src = os.path.join(base_dir, f"{table}.parquet")
        dst = os.path.join(out_dir, f"{table}.parquet")
        if table in FACT_KEYS:
            t = pq.read_table(src)
            mask = _keep(t.column(FACT_KEYS[table]).to_numpy(), salt)
            t = t.filter(pa.array(mask))
            _write(t, dst)
            counts[table] = t.num_rows
        elif not os.path.lexists(dst):
            os.symlink(os.path.relpath(src, out_dir), dst)
    return counts
