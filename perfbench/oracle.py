"""Order-insensitive result hashes, and the DuckDB oracle side of them.

A result hashes to the same value whatever its row order, and whichever
engine produced it, as long as the values agree: columns are taken in
name order, cells are rendered canonically (integral numbers as integers,
other floats by repr, dates and timestamps in ISO form, nulls and NaN as
one marker) and the sorted per-row hashes are digested together.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import re

import numpy as np
import pandas as pd

_NULL = "\x00"


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return _NULL
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return _NULL
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (datetime.date, pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def result_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    if len(pdf):
        canon = pd.DataFrame({c: [_cell(v) for v in pdf[c].tolist()] for c in cols})
        rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    else:
        rows = np.zeros(0, dtype=np.uint64)
    h = hashlib.sha256(json.dumps([cols, len(pdf)]).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


def tables_read(sql: str, tables) -> list[str]:
    """Fixture tables an oracle query names, a proxy for what the Spark
    builder of the same id reads."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def oracle_hashes(fixture_dir: str, ids, oracles: dict[str, str], tables) -> dict:
    """DuckDB result hash per query id, cached beside the fixtures and
    recomputed for any id whose oracle SQL changed."""
    path = os.path.join(fixture_dir, "oracle_hashes.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    todo = [q for q in ids
            if cache.get(q, {}).get("sql") != hashlib.sha256(oracles[q].encode()).hexdigest()]
    if todo:
        import duckdb

        con = duckdb.connect()
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
        for q in todo:
            cache[q] = {
                "sql": hashlib.sha256(oracles[q].encode()).hexdigest(),
                "hash": result_hash(con.sql(oracles[q]).df()),
            }
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {q: cache[q]["hash"] for q in ids}
