"""Local mirror of the driver's correctness gate: run a Spark query and its
DuckDB oracle SQL on the same parquet tables, compare row count, column names
and an order-insensitive value multiset.

Faithfulness note: the driver routes BOTH results through pandas before
hashing, so dtype artifacts matter — DuckDB's ``SUM(CASE ...)`` yields a
HUGEINT which pandas renders as float64 (``5.0``), hash-distinct from Spark's
int64 ``5``.  A ``fetchall()``-based comparison silently coerces that back to
int and hides the bug (this bit us in round 2: ``events_attribution_range``).
So here we also go through pandas on both sides and *type-tag* numeric cells:
an integral float stays distinct from an int, exactly as the driver sees it.
"""

from __future__ import annotations

import math
import os

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


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    # numpy scalars -> python scalars first (pandas hands us np.int64 etc.)
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round defensively to kill last-ulp noise; queries already round.
        # Keep the float tag: 5.0 must NOT compare equal to int 5, because
        # the driver's pandas-side hash distinguishes them.
        return ("f", round(v, 6))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    return v


def _normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _pdf_rows(pdf):
    # .itertuples keeps per-column numpy dtypes (so int64 vs float64 is
    # visible).  Object columns get NaN/None placeholders normalized to None
    # (Spark's toPandas uses None, DuckDB's .df() may use NaN — same null).
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].where(pdf[c].notna(), None)
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    s_pdf = spark_df.toPandas()
    # A few queries pin an internal cut point (e.g. _export_encoded's kept
    # frame, training_export_sharded's chunks) under the documented
    # contract that whoever runs registered queries in sequence clears the
    # cache between them — without this, a full parity sweep accumulates
    # one cached frame per such query for the session's lifetime.
    spark_df.sparkSession.catalog.clearCache()
    d_pdf = con.execute(sql).df()
    s_cols = list(s_pdf.columns)
    d_cols = list(d_pdf.columns)

    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    s_rows = _pdf_rows(s_pdf)
    d_rows = _pdf_rows(d_pdf)
    assert len(s_rows) == len(d_rows), f"row count differs: {len(s_rows)} vs {len(d_rows)}"
    _, s_norm = _normalize_rows(s_cols, s_rows)
    _, d_norm = _normalize_rows(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(s_norm, d_norm)):
        assert a == b, f"row {i} differs:\n spark={a}\n duck ={b}"
