"""Output checks, run after the timed region.

- Batch queries: the engine's result against its DuckDB oracle twin
  (``registry.QuerySpec.oracle``) — row count, column set and
  order-insensitive values, the comparison ``tools/driver_sim.py``
  makes. The DuckDB side is cached on disk, keyed by query name, data
  directory and oracle text.
- API routes: each response against the same route evaluated in DuckDB.
- Ingest sink: exactly the distinct generated keys, each with its
  original log line.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pandas.api.types as pt

from datagen import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def expected_frame(con, cache_dir: str, data_dir: str, name: str, sql: str) -> pd.DataFrame:
    key = hashlib.sha256(f"{name}\0{data_dir}\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def compare_frames(sp: pd.DataFrame, du: pd.DataFrame) -> str | None:
    """None when equal; otherwise a one-line reason. Exact cell equality
    after sorting; float columns may instead agree to rtol 1e-9, which
    ``tools/driver_sim.py`` reports as a float-tolerance fallback rather
    than a mismatch."""
    cols = sorted(sp.columns)
    if sorted(du.columns) != cols:
        return f"columns {cols} != {sorted(du.columns)}"
    if len(sp) != len(du):
        return f"rows {len(sp)} != {len(du)}"
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    try:
        du = du.astype(dict(zip(cols, [sp[c].dtype for c in cols])))
    except (TypeError, ValueError) as exc:
        return f"dtypes: {exc}"[:200]
    if sp.equals(du):
        return None
    for c in cols:
        if pt.is_float_dtype(sp[c]):
            if not np.allclose(sp[c].fillna(-1e300), du[c].fillna(-1e300), rtol=1e-9):
                return f"values differ in {c}"
        elif not sp[c].equals(du[c]):
            return f"values differ in {c}"
    return None


# -- API routes --------------------------------------------------------------

_USERS = (
    "SELECT c_custkey AS user_id, c_name AS name, c_mktsegment AS gender, "
    "c_custkey % 60 + 18 AS age, c_acctbal AS acctbal FROM customer"
)
_RIDES = (
    "SELECT o_orderkey AS ride_id, o_custkey AS user_id, "
    "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS start_time, "
    "o_totalprice AS duration FROM orders"
)


def route_sql(route: str, params: dict) -> tuple[str, list]:
    """The DuckDB twin of one ``api.serve`` route: the reference's route
    semantics (SURVEY.md §2.5) over the engine's users/rides mapping."""
    if route == "/ride":
        return f"SELECT * FROM ({_RIDES}) WHERE ride_id = ?", [params["ride_id"]]
    if route == "/rider":
        return f"SELECT * FROM ({_USERS}) WHERE user_id = ?", [params["user_id"]]
    if route == "/rider/rides":
        return f"SELECT * FROM ({_RIDES}) WHERE user_id = ?", [params["user_id"]]
    if route == "/riders/gender":
        return f"SELECT * FROM ({_USERS}) WHERE gender = ?", [params["gender"]]
    if route == "/riders2":
        lo, hi = (int(x) for x in str(params["number"]).split("-"))
        return f"SELECT * FROM ({_USERS}) WHERE age BETWEEN ? AND ?", [lo, hi]
    if route == "/rides/gender":
        return (
            f"SELECT u.user_id, u.gender, u.age, r.ride_id, r.start_time, r.duration "
            f"FROM ({_USERS}) u JOIN ({_RIDES}) r USING (user_id) WHERE u.gender = ?",
            [params["gender"]],
        )
    if route == "/daily":
        # date parts of the stored 'YYYY-MM-DD HH:MM:SS' string (FIXTURES.md B4)
        parts = str(params["date"]).split("-")
        conds, args = [], []
        for (start, width), part in zip(((1, 4), (6, 2), (9, 2)), parts):
            conds.append(f"substr(start_time, {start}, {width}) = ?")
            args.append(part.zfill(width))
        return f"SELECT * FROM ({_RIDES}) WHERE " + " AND ".join(conds), args
    raise ValueError(f"no twin for route {route}")


def _canon(rows) -> list:
    out = []
    for r in rows:
        items = []
        for k, v in sorted(r.items()):
            if isinstance(v, float) and math.isfinite(v) and v == int(v):
                v = int(v)  # JSON writes whole doubles either way
            items.append((k, v))
        out.append(tuple(items))
    return sorted(out, key=repr)


def check_response(con, route: str, params: dict, body: str) -> str | None:
    sql, args = route_sql(route, params)
    cur = con.execute(sql, args)
    names = [d[0] for d in cur.description]
    want = [dict(zip(names, row)) for row in cur.fetchall()]
    got = json.loads(body)
    if len(got) != len(want):
        return f"{route} {params}: {len(got)} rows != {len(want)}"
    if _canon(got) != _canon(want):
        return f"{route} {params}: values differ"
    return None


# -- ingest sink -----------------------------------------------------------------

def check_sink(sink_dir: str, truth: dict) -> tuple[str | None, int]:
    """(reason or None, rows in the sink). Exactly-once: every distinct
    generated key once, with its original log line, and nothing else."""
    import pyarrow.dataset as ds

    t = ds.dataset(sink_dir, format="parquet").to_table(columns=["partition", "offset", "log"])
    keys = list(zip(t.column("partition").to_pylist(), t.column("offset").to_pylist()))
    n = len(keys)
    if n != len(set(keys)):
        return f"sink holds {n - len(set(keys))} duplicate keys", n
    want = truth["distinct"]
    if set(keys) != set(want):
        return f"sink keys {len(set(keys))} != generated {len(want)}", n
    logs = t.column("log").to_pylist()
    bad = sum(1 for k, log in zip(keys, logs) if want[k] != log)
    if bad:
        return f"{bad} sink rows carry the wrong log line", n
    return None, n
