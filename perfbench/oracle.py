"""Result hashing and DuckDB expected values.

A result is reduced to one md5 with the normalization of
``scripts/result_hash.py``: columns sorted by name, rows sorted by a
repr-stable key, then ``repr`` of the column list and of every row.
Values are first mapped to a canonical form so that the two engines'
Python types hash alike (Decimal scale, datetime vs string, numpy
scalars and Spark ``Row`` arrays).

Expected hashes come from each query's DuckDB oracle over the same
input files.  They are cached in ``oracle_hashes.json`` keyed by query
name, a digest of the oracle text and a digest of the input bytes, so a
slow oracle runs once per input.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _key(v):
    return (0, "") if v is None else (1, repr(v))


def result_hash(columns, rows) -> tuple[int, str]:
    """(row count, md5) of a result, independent of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_canon(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda r: [_key(v) for v in r])
    h = hashlib.md5()
    h.update(repr([columns[i] for i in order]).encode())
    for r in norm:
        h.update(repr(r).encode())
    return len(norm), h.hexdigest()


def spark_hash(df) -> tuple[int, str]:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def duck_hash(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    return result_hash([d[0] for d in cur.description], cur.fetchall())


def files_digest(paths) -> str:
    h = hashlib.md5()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


class ExpectedCache:
    """JSON-backed map (name, oracle digest, input digest) -> [rows, md5]."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}
        self.dirty = False

    def get(self, name: str, oracle_text: str, input_digest: str, compute):
        key = "|".join(
            (name, hashlib.md5(oracle_text.encode()).hexdigest(), input_digest)
        )
        if key not in self.data:
            self.data[key] = list(compute())
            self.dirty = True
        return tuple(self.data[key])

    def save(self) -> None:
        if not self.dirty:
            return
        tmp = f"{self.path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)
        self.dirty = False


def duck_views(con, sf_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
