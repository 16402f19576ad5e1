"""Local replica of the driver's correctness gate: run a Spark query and
its DuckDB oracle side-by-side and compare row count, schema (column
names), and an order-insensitive value hash.

Used by tests to catch oracle drift before the driver does.
"""

from __future__ import annotations

import math
import os
import tempfile
import uuid

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# DuckDB's defaults are a spill directory ``.tmp`` under the cwd, 80%
# of RAM and no cap on spill: a runaway oracle filled the checkout with
# gigabytes of orphaned ``duckdb_temp_*`` files. Bounded, it fails
# loudly instead.
DUCKDB_MEMORY_LIMIT = "4GB"
DUCKDB_MAX_SPILL = "8GB"


def bounded_duckdb() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with capped memory and spill. The spill dir is
    a fresh path under ``$SPARK_LOCAL_DIRS`` (else the system temp
    dir); DuckDB creates it on first spill and removes it on close."""
    base = (os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()).split(",")[0]
    return duckdb.connect(
        config={
            "temp_directory": os.path.join(base, f"duckdb_spill_{uuid.uuid4().hex}"),
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "max_temp_directory_size": DUCKDB_MAX_SPILL,
        }
    )


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = bounded_duckdb()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    # Unwrap numpy scalars first so dtype wrappers don't leak into repr —
    # but do it via .item() so int64 stays int and float64 stays float,
    # preserving exactly the int-vs-float distinction the driver's hash sees.
    if hasattr(v, "item") and type(v).__module__ in ("numpy", "numpy.core"):
        v = v.item()
    if v is None:
        return "None"
    try:
        import pandas as _pd

        if _pd.isna(v):
            return "NaN"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def canonical_pdf(pdf):
    """Driver-faithful canonicalization: sort columns by name, normalize
    values THROUGH PANDAS DTYPES (so DuckDB HUGEINT→float64 drift is
    visible, exactly as the driver's hash sees it), sort rows."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    out = [
        tuple(_norm(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    out.sort()
    return cols, out


def compare(spark_df, oracle_sql: str, sf_dir: str) -> list[str]:
    """Returns a list of mismatch descriptions (empty = match).

    Both sides are canonicalized through pandas frames — the same
    representation the driver hashes — so type artifacts (e.g. DuckDB
    SUM(BIGINT)→HUGEINT→float64) fail here before they fail there.
    """
    problems = []
    s_pdf = spark_df.toPandas()
    scols = list(s_pdf.columns)
    con = duckdb_con(sf_dir)
    try:
        o_pdf = con.execute(oracle_sql).df()
    finally:
        con.close()
    ocols = list(o_pdf.columns)
    if sorted(scols) != sorted(ocols):
        problems.append(f"schema mismatch: spark={sorted(scols)} oracle={sorted(ocols)}")
        return problems
    if len(s_pdf) != len(o_pdf):
        problems.append(f"row count mismatch: spark={len(s_pdf)} oracle={len(o_pdf)}")
    _, s_can = canonical_pdf(s_pdf)
    _, o_can = canonical_pdf(o_pdf)
    if s_can != o_can:
        diffs = [
            f"  spark={s} oracle={o}" for s, o in zip(s_can, o_can) if s != o
        ][:5]
        only_s = [r for r in s_can if r not in set(o_can)][:3]
        only_o = [r for r in o_can if r not in set(s_can)][:3]
        problems.append(
            "value mismatch:\n"
            + "\n".join(diffs)
            + f"\n  only-in-spark={only_s}\n  only-in-oracle={only_o}"
        )
    return problems
