"""Expected answers and result checks.

Query results are compared the way ``tools/check_oracle.py`` compares them
— columns sorted by name, rows sorted, exact cell equality (the engine's
float outputs are bit-exact against DuckDB by design) — but on Arrow
tables, so a check costs milliseconds instead of a pandas row loop.
Integer widths are one family (int32 == int64), as in the oracle gate.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.ipc as ipc


def _family_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return pa.float64()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.string()
    return t


def canonical(tbl: pa.Table) -> pa.Table:
    """Columns sorted by name, types folded to their family, rows sorted
    by every column."""
    names = sorted(tbl.column_names)
    cols = []
    for n in names:
        col = tbl.column(n)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))  # UTC wall clock
        cols.append(col.cast(_family_type(col.type)))
    out = pa.table(cols, names=names).combine_chunks()
    if out.num_rows > 1:
        out = out.take(pc.sort_indices(
            out, sort_keys=[(n, "ascending") for n in names]))
    return out


def same(got: pa.Table, want: pa.Table) -> bool:
    """``want`` must already be canonical."""
    got = canonical(got)
    if got.column_names != want.column_names or got.num_rows != want.num_rows:
        return False
    for a, b in zip(got.columns, want.columns):
        if a.type != b.type:
            return False
        if pa.types.is_floating(a.type):
            if not np.array_equal(a.to_numpy(), b.to_numpy(), equal_nan=True):
                return False
        elif not a.equals(b):
            return False
    return True


def oracle_answers(sf_dir: str, tables: list[str], oracles: dict[str, str],
                   cache_dir: str) -> dict[str, pa.Table]:
    """Canonical DuckDB answer per query, cached on disk under a key of
    the oracle SQL and the data directory's stamp."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    with open(os.path.join(sf_dir, "STAMP")) as f:
        stamp = f.read()
    con = None
    out = {}
    for name, sql in oracles.items():
        key = hashlib.sha256(f"{stamp}\n{sql}".encode()).hexdigest()[:20]
        path = os.path.join(cache_dir, f"{name}-{key}.arrow")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{sf_dir}/{t}.parquet')")
            want = canonical(con.sql(sql).arrow())
            tmp = f"{path}.tmp{os.getpid()}"
            with ipc.new_file(tmp, want.schema) as w:
                w.write_table(want)
            os.replace(tmp, path)
        with ipc.open_file(path) as r:
            out[name] = r.read_all()
    if con is not None:
        con.close()
    return out


def corrupt(tbl: pa.Table) -> pa.Table:
    """A copy of a canonical answer with one cell changed (the first
    numeric cell, else the row count) — for the self-test that a wrong
    answer is counted as a failure."""
    for i, col in enumerate(tbl.columns):
        if tbl.num_rows and (pa.types.is_integer(col.type)
                             or pa.types.is_floating(col.type)):
            vals = col.to_pylist()
            vals[0] = (vals[0] or 0) + 1
            return tbl.set_column(i, tbl.column_names[i],
                                  pa.array(vals, col.type))
    return tbl.slice(0, max(tbl.num_rows - 1, 0))
