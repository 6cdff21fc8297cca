"""Answer checking: normalise result rows from Spark and DuckDB and
compare them as multisets, floats to a relative tolerance."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

#: Unrounded double aggregates may differ in summation order between
#: engines; rounded ones are expected to match exactly.
REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key(v):
    # None sorts first, numbers before strings.
    if v is None:
        return (0, 0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, v, "")
    return (2, 0, str(v))


def normalise(rows) -> list[tuple]:
    out = [tuple(_norm(v) for v in r) for r in rows]
    out.sort(key=lambda r: tuple(_key(v) for v in r))
    return out


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive equality of two row lists."""
    g, w = normalise(got), normalise(want)
    if len(g) != len(w):
        return False
    return all(len(rg) == len(rw) and all(map(_same_value, rg, rw))
               for rg, rw in zip(g, w))


def load_events(con: duckdb.DuckDBPyConnection, table: str,
                csvs: list[str]) -> None:
    """Table ``table`` over raw event CSVs with the reference's schema
    and null tokens (``""`` and ``"null"``); column ``file_index`` is
    the position of the row's file in ``csvs``."""
    files = ", ".join(f"'{p}'" for p in csvs)
    cases = " ".join(f"WHEN '{p}' THEN {i}" for i, p in enumerate(csvs))
    con.execute(f"""
        CREATE TABLE {table} AS
        SELECT CAST(ts AS BIGINT) AS ts, type, auction_id,
               CAST(advertiser_id AS INT) AS advertiser_id,
               CAST(publisher_id AS INT) AS publisher_id,
               CAST(bid_price AS DOUBLE) AS bid_price,
               CAST(user_id AS BIGINT) AS user_id,
               CAST(total_price AS DOUBLE) AS total_price, country,
               CASE filename {cases} END AS file_index
        FROM read_csv([{files}], header=true, nullstr=['', 'null'],
                      filename=true,
                      types={{'ts': 'VARCHAR', 'bid_price': 'VARCHAR',
                              'total_price': 'VARCHAR'}})
    """)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    return con
