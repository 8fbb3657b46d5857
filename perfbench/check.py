"""Output checks against DuckDB over the same parquet files.

Rows are compared as multisets (both sides sorted on a coarse
canonical key) or, for an ordered result, in the order given; then
value by value, numbers with a relative tolerance (Spark and DuckDB
sum doubles in different orders).
Response bodies are parsed back from their wire format (JSON, CSV or
the plain-text grid) before the comparison.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import io
import json
import math
import os
import re
import tempfile

from data import ROWS


def duck(data_dir: str):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # spill files go to the run's scratch space, not the working directory
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    for name in ROWS:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM"
                    f" read_parquet('{data_dir}/{name}.parquet')")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _is_num(v) -> bool:
    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def _as_json(v):
    if isinstance(v, (list, dict)):
        return v
    try:
        return json.loads(v)
    except (TypeError, ValueError):
        return None


def _norm_time(v) -> str:
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v).replace("T", " ")


def _num(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _column(like):
    """(sort key, equality) for the values of one column, typed after
    the column's first non-NULL oracle value ``like``.  A NULL matches
    NULL, or the empty string of a CSV or text body."""

    def null(v):
        return v is None or v == ""

    if _is_num(like):
        def key(v):
            f = _num(v)
            return (1, f"{f:.6g}") if f is not None else (0, "") if null(v) else (9, str(v))

        def same(a, o):
            if o is None:
                return null(a)
            f = _num(a)
            return f is not None and math.isclose(f, float(o), rel_tol=1e-9, abs_tol=1e-6)
    elif isinstance(like, (dt.datetime, dt.date)):
        def key(v):
            return (0, "") if null(v) else (2, _norm_time(v)[:19])

        def same(a, o):
            return null(a) if o is None else _norm_time(a)[:19] == _norm_time(o)[:19]
    elif isinstance(like, bool):
        def key(v):
            return (0, "") if null(v) else (3, str(v).lower())

        def same(a, o):
            return null(a) if o is None else str(a).lower() == str(o).lower()
    elif isinstance(like, str) and isinstance(_as_json(like), (list, dict)):
        # nested values: JSON in the body (a list, or JSON text in CSV)
        def key(v):
            return (0, "") if v is None else (4, json.dumps(_as_json(v), sort_keys=True))

        def same(a, o):
            return a is None if o is None else _as_json(a) == _as_json(o)
    else:
        def key(v):
            return (0, "") if v is None else (5, str(v))

        def same(a, o):
            return null(a) if o is None else a == o
    return key, same


def _columns(want: list):
    cols = [_column(next((r[i] for r in want if r[i] is not None), None))
            for i in range(len(want[0]))]
    keys = [k for k, _ in cols]
    sames = [s for _, s in cols]

    def key(row):
        return tuple(k(v) for k, v in zip(keys, row))

    def same(g, w):
        return len(g) == len(w) and all(s(a, o) for s, a, o in zip(sames, g, w))

    return key, same


def rows_equal(got: list, want: list, ordered: bool = False) -> str | None:
    """``None`` when the two row multisets (``ordered``: sequences)
    match, else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not want:
        return None
    key, same = _columns(want)
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for i, (g, w) in enumerate(zip(got, want)):
        if not same(g, w):
            return f"row {i} {list(g)!r} != expected {list(w)!r}"
    return None


def rows_within(got: list, want: list) -> str | None:
    """``None`` when ``got`` is a sub-multiset of ``want``."""
    if not want:
        return f"{len(got)} rows, expected none" if got else None
    key, same = _columns(want)
    pool: dict[tuple, list] = {}
    for w in want:
        pool.setdefault(key(w), []).append(w)
    for g in got:
        cands = pool.get(key(g), [])
        hit = next((i for i, w in enumerate(cands) if same(g, w)), None)
        if hit is None:
            return f"row {list(g)!r} is not in the expected rows"
        cands.pop(hit)
    return None


#: the plain-text grid's last line when it shows only the first N rows
_TRUNCATED = re.compile(r"\.\.\. \(first (\d+) rows\)")


def parse_body(body: bytes, fmt: str) -> tuple[list[str] | None, list[list]]:
    """Column names (None when the body cannot show them) and rows."""
    text = body.decode("utf-8")
    if fmt == "json":
        data = json.loads(text)["data"]
        cols = list(data[0]) if data else None
        return cols, [list(r.values()) for r in data]
    if fmt == "csv":
        rows = list(csv.reader(io.StringIO(text)))
        return rows[0], rows[1:]
    if fmt == "txt":
        lines = text.rstrip("\n").split("\n")
        cols = [c.strip() for c in lines[0].split(" | ")]
        rows = [[v.rstrip() for v in line.split(" | ")] for line in lines[2:]]
        return cols, rows
    raise ValueError(f"no parser for format {fmt!r}")


def body_matches(body: bytes, fmt: str, cols: list[str], rows: list,
                 ordered: bool = False) -> str | None:
    got_cols, got = parse_body(body, fmt)
    if got_cols is not None and got_cols != cols:
        return f"columns {got_cols} != expected {cols}"
    cut = _TRUNCATED.fullmatch(got[-1][0]) if fmt == "txt" and got and len(got[-1]) == 1 else None
    if cut:  # the text grid shows the first N rows of a larger result
        n, got = int(cut.group(1)), got[:-1]
        if len(got) != n or len(rows) <= n:
            return f"truncated to {len(got)} of {len(rows)} rows, marked {n}"
        return rows_equal(got, rows[:n], ordered=True) if ordered else rows_within(got, rows)
    return rows_equal(got, rows, ordered)
