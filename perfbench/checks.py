"""Output checks, run off the clock.

Catalog queries are compared with their DuckDB oracles on the same
generated inputs.  The comparison is order independent and vectorised
(pandas), so a large result costs a sort rather than a Python tuple per
row; text and other object values are normalised with ``norm`` from
``tools/check.py`` so both harnesses agree on what "equal" means.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from tools.check import norm


def oracle_connection(table_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for fname in sorted(os.listdir(table_dir)):
        if fname.endswith(".parquet"):
            name = fname[: -len(".parquet")]
            path = os.path.join(table_dir, fname)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _canonical_column(s: pd.Series) -> pd.Series:
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        return s.astype("int64")
    if pd.api.types.is_float_dtype(s):
        return s.round(9)
    return s.map(lambda v: None if v is None else repr(norm(v))).astype(object)


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Lower-cased, name-sorted columns; rows sorted by every column."""
    cols = sorted(pdf.columns, key=lambda c: (c.lower(), c))
    out = pd.DataFrame(
        {c.lower(): _canonical_column(pdf[c]).reset_index(drop=True) for c in cols}
    )
    if len(out.columns) == 0:
        return out
    return out.sort_values(list(out.columns), na_position="last").reset_index(drop=True)


def compare(engine: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows, else a one-line reason."""
    if len(engine) != len(oracle):
        return f"rowcount engine={len(engine)} oracle={len(oracle)}"
    ecols = sorted(c.lower() for c in engine.columns)
    ocols = sorted(c.lower() for c in oracle.columns)
    if ecols != ocols:
        return f"columns engine={ecols} oracle={ocols}"
    a, b = canonical(engine), canonical(oracle)
    for col in a.columns:
        x, y = a[col], b[col]
        if x.dtype == object or y.dtype == object:
            same = x.astype(object).where(x.notna(), None).tolist() == y.astype(
                object
            ).where(y.notna(), None).tolist()
        else:
            same = np.array_equal(x.to_numpy(), y.to_numpy(), equal_nan=True)
        if not same:
            return f"values differ in column {col!r}"
    return None
