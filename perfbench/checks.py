"""Independent answers for the correctness checks: DuckDB over the
generated and the written parquet, and order-insensitive row hashes."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib

import duckdb


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_expr(con, source: str) -> str:
    """A hash expression over ``source``'s columns, taken in name order,
    whose value does not depend on column order or on the physical type
    the writer chose (int32/int64, timestamp with or without zone, INT96)."""
    parts = []
    described = con.execute(f"DESCRIBE SELECT * FROM {source}").fetchall()
    for name, typ, *_ in sorted(described):
        t = typ.upper()
        if "TIMESTAMP" in t:
            parts.append(f"epoch_us({name})")
        elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            parts.append(f"CAST({name} AS BIGINT)")
        else:
            parts.append(name)
    return "hash(" + ", ".join(parts) + ")"


def count_and_hash(con, source: str) -> tuple[int, int]:
    """(rows, multiset hash) of a relation — equal for equal row multisets
    in any order."""
    expr = _canon_expr(con, source)
    n, h = con.execute(f"SELECT count(*), sum(CAST({expr} AS HUGEINT)) FROM {source}").fetchone()
    return int(n), int(h or 0)


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        return format(float(v), ".10g")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def result_signature(columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    """(row count, column names, order-insensitive value hash) of a query
    result, with columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted(repr(tuple(_canon_value(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha1("\n".join(canon).encode()).hexdigest()
    return len(rows), [columns[i].lower() for i in order], digest
