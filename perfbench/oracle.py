"""Correctness check of query outputs against the registry's DuckDB oracles.

A query passes when its Spark output and its oracle SQL's output have the
same sorted column names, the same row count and the same order-insensitive
value hash.  Values are canonicalised as the repository's correctness
harness does it: NULL as ``NULL``, floats rounded to 9 digits with -0.0
folded into 0.0, timestamps at microsecond precision, lists element-wise.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0 else repr(round(v, 9))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return [cols[i] for i in order], len(rows), h.hexdigest()


class Oracle:
    """DuckDB connection with every catalog table of ``data_dir`` as a view."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def digest(self, sql: str):
        res = self.con.execute(sql)
        return digest([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def compare(spark_digest, oracle_digest) -> str | None:
    """None when the digests agree, else a one-line reason."""
    (sc, sn, sh), (oc, on, oh) = spark_digest, oracle_digest
    if sc != oc:
        return f"columns differ: spark={sc} oracle={oc}"
    if sn != on:
        return f"row count differs: spark={sn} oracle={on}"
    if sh != oh:
        return "value hash differs"
    return None
