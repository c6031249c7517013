"""Output comparison shared by the workloads. Nothing here is timed.

- ``oracle_diff``: the repository's oracle comparison (as in
  ``tools/check_queries.py``) -- sorted column names, floats rounded to 6
  decimals, rows compared as order-insensitive sorted lists.
- ``exact_diff``: order-insensitive exact comparison inside DuckDB, for
  results whose values need no rounding (integer sums, copied doubles).
"""

from __future__ import annotations

import math


def duck():
    import duckdb

    return duckdb.connect()


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def row_key(row):
    return tuple((v is None, str(v)) for v in row)


def canonical_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the rows' sorted canonical tuples; ``rows``
    are sequences in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted((tuple(canon(r[i]) for i in order) for r in rows), key=row_key)
    return cols, out


def oracle_diff(got: tuple[list[str], list[tuple]],
                want: tuple[list[str], list[tuple]]) -> list[str]:
    """Mismatches between two ``canonical_rows`` results (empty if equal)."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return [f"columns {gcols} != {wcols}"]
    if len(grows) != len(wrows):
        return [f"row count {len(grows)} != {len(wrows)}"]
    for a, b in zip(grows, wrows):
        if a != b:
            return [f"first differing row {a!r:.200} != {b!r:.200}"]
    return []


def exact_diff(con, got, want_sql: str) -> list[str]:
    """Compare an Arrow table with a DuckDB query as multisets of rows."""
    con.register("got_tbl", got)
    try:
        want_cols = [d[0] for d in con.execute(
            f"SELECT * FROM ({want_sql}) LIMIT 0").description]
        if sorted(got.column_names) != sorted(want_cols):
            return [f"columns {sorted(got.column_names)} != {sorted(want_cols)}"]
        cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
        g = f"SELECT {cols} FROM got_tbl"
        w = f"SELECT {cols} FROM ({want_sql})"
        extra = con.execute(f"SELECT count(*) FROM ({g} EXCEPT ALL {w})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({w} EXCEPT ALL {g})").fetchone()[0]
    finally:
        con.unregister("got_tbl")
    if extra or missing:
        return [f"{extra} unexpected and {missing} missing rows of {got.num_rows}"]
    return []
