"""Output checks made apart from the engine: a bounded DuckDB
connection and an order-insensitive multiset comparison of results.

The comparison canonicalizes each row (floats rounded to 9 digits,
NaN and NULL spelled out, timestamps in ISO form) and compares the
rows as a multiset, so one altered value, one dropped row and one
duplicated row are all reported.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pandas as pd


def connect(scratch: str, memory_limit: str, threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection whose spill stays in ``scratch`` and is
    capped, so DuckDB and the Spark driver heap fit in RAM together."""
    tmp = os.path.join(scratch, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    return duckdb.connect(
        config={
            "temp_directory": tmp,
            "memory_limit": memory_limit,
            "max_temp_directory_size": memory_limit,
            "threads": threads,
        }
    )


def register_inputs(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """One view per ``<table>.parquet`` input, named after the table."""
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(
                f"CREATE OR REPLACE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )


def _norm(v) -> str:
    if hasattr(v, "item") and type(v).__module__.startswith("numpy"):
        v = v.item()
    if v is None:
        return "None"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    try:
        if pd.isna(v):
            return "NaN"
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def canonical(pdf) -> tuple[list[str], Counter]:
    """(sorted column names, multiset of canonical rows)."""
    cols = sorted(pdf.columns)
    rows = Counter(
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def compare(got, want) -> list[str]:
    """Mismatch descriptions between two pandas frames (empty: equal)."""
    gcols, grows = canonical(got)
    wcols, wrows = canonical(want)
    if gcols != wcols:
        return [f"columns differ: got {gcols}, want {wcols}"]
    problems = []
    if len(got) != len(want):
        problems.append(f"row count: got {len(got)}, want {len(want)}")
    extra, missing = grows - wrows, wrows - grows
    if extra or missing:
        problems.append(
            f"{sum(extra.values())} rows only in result, "
            f"{sum(missing.values())} only in reference; e.g. "
            f"result {list(extra)[:2]} reference {list(missing)[:2]}"
        )
    return problems
