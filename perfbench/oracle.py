"""DuckDB oracles and the exact result comparison.

Oracle SQL comes from ``__spark_entry__.oracle_sql()``. Results are
normalised the way the repository's oracle self-check does it
(``tests/oracle_util.py``): columns sorted by name, floats rounded to 9
digits, NaN as a token, lists as tuples; then compared as multisets, with
no further float tolerance.
"""

from __future__ import annotations

import math

from .inputs import TABLES


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalise(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows as sorted normalised tuples)."""
    cols = sorted(columns)
    idx = [columns.index(c) for c in cols]
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return cols, out


def oracle_results(sf_dir: str, sql_by_name: dict[str, str]) -> dict:
    """Run each oracle over the parquet files in ``sf_dir``; return
    ``{name: (columns, rows)}`` normalised, or ``{name: error string}``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict = {}
    for name, sql in sql_by_name.items():
        try:
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            out[name] = normalise(cols, cur.fetchall())
        except Exception as e:  # recorded, reported as a failed query
            out[name] = f"oracle error: {type(e).__name__}: {e}"
    con.close()
    return out


def mismatch(expected, columns: list[str], rows) -> str | None:
    """None when Spark's ``rows`` equal the oracle result, else why not."""
    if isinstance(expected, str):
        return expected
    cols, got = normalise(columns, [tuple(r) for r in rows])
    want_cols, want = expected
    if cols != want_cols:
        return f"columns differ: spark={cols} oracle={want_cols}"
    if len(got) != len(want):
        return f"row count spark={len(got)} oracle={len(want)}"
    if got != want:
        bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
        return f"values differ at sorted row {bad}: {got[bad]!r} != {want[bad]!r}"
    return None
