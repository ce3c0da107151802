"""Order-insensitive result hashes, and the DuckDB oracle hashes cached
per (workload, seed).

The normalization is the repo's oracle gate's own (``tests/oracle.py``):
columns sorted by name, each column's type kind part of the hash (a
DuckDB HUGEINT against a Spark bigint is a mismatch), floats to 9
significant digits, rows sorted.  Both sides arrive as Arrow tables,
so timestamps are compared as naive UTC on both.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa

from tests.oracle import _arrow_kind, _norm_cell


def result_hash(table: pa.Table) -> dict:
    """``{"hash", "rows"}`` of a result table, independent of row and
    column order."""
    names = sorted(table.column_names)
    cols = []
    kinds = []
    for name in names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        kinds.append(f"{name}:{_arrow_kind(col.type)}")
        cols.append([_norm_cell(v) for v in col.to_pylist()])
    rows = sorted(zip(*cols)) if cols else []
    h = hashlib.sha256("|".join(kinds).encode())
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"hash": h.hexdigest(), "rows": table.num_rows}


def oracle_hashes(cache_path: str, data_dir: str, names: list[str]) -> dict:
    """DuckDB oracle hash per query over the generated tables, computed
    once and cached in ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if all(n in cached for n in names):
            return cached
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for fname in sorted(os.listdir(data_dir)):
        if fname.endswith(".parquet"):
            table = fname[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data_dir, fname)}'"
            )
    out = {name: result_hash(con.execute(sql[name]).arrow()) for name in names}
    con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)
    return out
