"""Output checks: canonical row comparison against a DuckDB oracle."""

from __future__ import annotations

import datetime
import decimal
import math


def canon_value(v):
    """One cell as a value hash sees it: exact floats, ISO timestamps."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, int, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return canon_value(sorted(v.items()))
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, cells canonical, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_value(r[i]) for i in order) for r in rows)


def spark_canon(df) -> list[tuple]:
    cols = [f.name for f in df.schema.fields]
    return canon_rows(cols, [tuple(r) for r in df.collect()])


def oracle_canon(con, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    return canon_rows(list(rel.columns), rel.fetchall())
