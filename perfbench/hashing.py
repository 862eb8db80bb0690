"""Reading a written result back for the checks, with pyarrow rather than
the engine under test, and the output hash every check compares."""

from __future__ import annotations

import datetime as dt
import hashlib

import pyarrow.parquet as pq


def read_rows(path: str) -> list[dict]:
    """Every row of the parquet files under ``path`` (one partition
    directory or one result set); timestamps as naive UTC."""
    rows = pq.read_table(path, partitioning=None).to_pylist()
    for r in rows:
        for k, v in r.items():
            if isinstance(v, dt.datetime) and v.tzinfo is not None:
                r[k] = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return rows


def rows_hash(rows: list[dict]) -> tuple[int, str]:
    """(row count, an order-independent hash over every column of every
    row)."""
    cols = sorted(rows[0]) if rows else []
    lines = sorted(repr(tuple(r[c] for c in cols)) for r in rows)
    return len(rows), hashlib.sha256("\n".join([repr(cols), *lines]).encode()).hexdigest()
