"""Output check: compare each Spark result with the registry's DuckDB
oracle (``oracle_sql()``), through ``tools/parity.py``'s ``normalize``
(column names sorted, values stringified, rows sorted).

Rounding ties: a rounded float aggregate whose exact value is a tie (an
average of two-decimal discounts that is exactly 0.05015, say) comes out
of a double-precision sum a few ulps to either side of it, and Spark and
DuckDB sum in different orders, so they can round it to opposite
neighbours (0.0502 and 0.0501). Both are right. So besides the oracle as
written, two variants of it are accepted whose ``ROUND`` first moves the
value down, or up, by ``TIE_EPS`` of its magnitude: they differ from the
oracle only on values that lie within that distance of a tie. Anything
else must match exactly.

Oracle digests are computed once per input directory and cached in a
JSON file the caller names, kept outside the table directories.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import duckdb

from tools.parity import TABLES, normalize

# far above the double-precision summation error of these inputs (about
# 3e-14 of the value), far below the 1e-6 relative step of the six
# significant digits that normalize compares
TIE_EPS = 1e-12
_ROUND = re.compile(r"\bROUND\s*\(", re.IGNORECASE)
_TIE_MACROS = {
    "perfbench_round_down": f"round(x - abs(x) * {TIE_EPS}, n)",
    "perfbench_round_up": f"round(x + abs(x) * {TIE_EPS}, n)",
}


def digest(rows, columns) -> str:
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in normalize(rows, columns):
        h.update(b"\n" + line.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def _accepted(con, sql: str) -> list[str]:
    """Digests of the oracle as written and of its two tie variants."""
    out = []
    for text in [sql] + [_ROUND.sub(f"{m}(", sql) for m in _TIE_MACROS]:
        rel = con.sql(text)
        d = digest(rel.fetchall(), list(rel.columns))
        if d not in out:
            out.append(d)
    return out


def oracle_digests(
    data_dir: str, path: str, names, oracle_sql: dict
) -> dict[str, list[str]]:
    """The accepted digests of each named operation on ``data_dir``."""
    cache: dict[str, list[str]] = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    # keyed by the SQL text and TIE_EPS too, so an edit is recomputed
    key = {
        n: f"{n}:{TIE_EPS}:"
        f"{hashlib.sha256(oracle_sql[n].encode()).hexdigest()[:16]}"
        for n in names
    }
    missing = [n for n in names if key[n] not in cache]
    if missing:
        con = duckdb.connect()
        try:
            for m, body in _TIE_MACROS.items():
                con.execute(f"CREATE MACRO {m}(x, n) AS {body}")
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for n in missing:
                cache[key[n]] = _accepted(con, oracle_sql[n])
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {n: cache[key[n]] for n in names}
