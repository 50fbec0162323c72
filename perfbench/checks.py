"""Untimed correctness checks: engine results against DuckDB replays of
the same SQL over the same generated files.

The comparison is the oracle rule tests/conftest.py uses: the same
column names, the same row count, and the same multiset of rows after
sorting columns by name and rounding floats to 6 places.
"""

from __future__ import annotations

import math


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return str(v).removesuffix(" 00:00:00")
    if hasattr(v, "tolist"):  # numpy scalars / arrays
        return _norm_cell(v.tolist())
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when the two pandas frames match, else what differs."""
    s_cols, s_rows = normalize(list(spark_pdf.columns), spark_pdf.itertuples(index=False))
    o_cols, o_rows = normalize(list(oracle_pdf.columns), oracle_pdf.itertuples(index=False))
    if s_cols != o_cols:
        return f"columns differ: engine={s_cols} oracle={o_cols}"
    if len(s_rows) != len(o_rows):
        return f"row count differs: engine={len(s_rows)} oracle={len(o_rows)}"
    bad = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
    if bad:
        return f"{len(bad)} rows differ, first: {bad[0]}"
    return None


def bm25_sql(terms: tuple[str, ...], k: int, source: str) -> str:
    """The engine's BM25 replay SQL (``bm25_oracle_sql``) over ``source``,
    with its fixed probe terms and top-k swapped for this read's."""
    from newspapers_etl_spark.functions.bm25_common import (
        BM25_QUERY_TERMS,
        BM25_TOP_K,
        bm25_oracle_sql,
    )

    sql = bm25_oracle_sql(source=source)
    fixed = "IN ('" + "', '".join(BM25_QUERY_TERMS) + "')"
    wanted = "IN (" + ", ".join("'" + t.replace("'", "''") + "'" for t in terms) + ")"
    limit = f"LIMIT {BM25_TOP_K}"
    if sql.count(fixed) != 2 or sql.count(limit) != 1:
        raise RuntimeError("bm25_oracle_sql changed shape; cannot retarget it")
    return sql.replace(fixed, wanted).replace(limit, f"LIMIT {int(k)}")
