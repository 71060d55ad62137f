"""Output checks, run outside the timed region.

``oracle_matches`` compares a Spark result with a DuckDB oracle query over
the same generated parquet tables: column names, row count and an
order-insensitive hash of canonicalized values (floats by ``repr``,
midnight timestamps as dates, null and NaN as one sentinel).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        return v.date().isoformat() if v.time() == dt.time(0) else v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "as_tuple"):  # Decimal
        return repr(round(float(v), 9))
    return str(v)


def signature(cols: list[str], rows) -> tuple[list[str], int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], len(canon), hashlib.sha256("\x1e".join(canon).encode()).hexdigest()


def oracle_rows(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def oracle_signature(sql: str, sf_dir: str):
    """The oracle's signature, cached next to the inputs it was computed
    from (keyed by the SQL text, so a changed oracle is recomputed)."""
    path = os.path.join(sf_dir, f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    sig = signature(*oracle_rows(sql, sf_dir))
    with open(path, "w") as f:
        json.dump(sig, f)
    return sig


def oracle_matches(df, sql: str, sf_dir: str) -> bool:
    got = signature(df.columns, [tuple(r) for r in df.collect()])
    return list(got) == list(oracle_signature(sql, sf_dir))
