"""Deterministic benchmark inputs, built from a seed inside the checkout.

Two kinds of input:

- ``make_tables``: the ten engine tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column types and
  value shapes the engine's catalog expects (``catalog.EXPECTED_SCHEMAS``).
  The data seed is fixed (42) so every workload seed runs on the same
  tables; only the scale changes the row counts.
- ``make_wire_files``: a replayable Kafka topic for the ingest workload,
  one JSON object per line in the engine's wire schema
  (``streaming.pipeline.WIRE_SCHEMA``), holding whole rides in the five
  log-line shapes of the reference ingest, plus a fixed share of
  redelivered duplicate messages.

Everything here is numpy + pyarrow; no Spark, so inputs exist before the
engine starts and their cost is not part of any timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated bytes change, so cached tables and cached
#: oracle answers keyed by the data directory are rebuilt.
GENERATOR_VERSION = "1"

DATA_SEED = 42

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EMBED_DIM = 64


def _day_stamps(rng, n, start, end):
    """``n`` midnight timestamps uniformly in [start, end] (numpy us)."""
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    off = rng.integers(0, days + 1, n)
    return np.datetime64(start, "us") + off.astype("timedelta64[D]")


def _round2(x):
    return np.round(x, 2)


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01")
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _round2(rng.uniform(1000, 500000, n_ord)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_line)
    ship = odate[l_ord] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _round2(rng.uniform(900, 105000, n_line)),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    span_us = 30 * 86400 * 1_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _round2(rng.exponential(50.0, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 110))
        words = np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)]
        texts.append(" ".join(words)[: int(rng.integers(44, 578))].rstrip())
    # ~5% near-duplicates (another document plus a marker token) and
    # ~1% exact duplicates, so dedup and similarity operators find work.
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(2, n_docs // 100), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, _EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def make_tables(root: str, scale: float) -> str:
    """Write the tables for ``scale`` under ``root`` once; returns the
    data directory. A ``_DONE`` marker makes a half-written directory
    (interrupted run) get rebuilt rather than read."""
    d = os.path.join(root, f"gen{GENERATOR_VERSION}-sf{scale:g}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    for name, table in _tables(scale).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write(GENERATOR_VERSION)
    return d


# -- ingest stream -------------------------------------------------------

_MARKER = "--------- beginning of a new ride ---------"

#: Ride/Telemetry ticks per ride: fixed, so every seed's topic has the
#: same number of messages (11 per ride).
RIDE_TICKS = 8


def _ride_lines(rng, t: dt.datetime, user_id: int, n_ticks: int):
    """One ride's log lines in reference order: marker, user fetch, the
    user dict, then alternating Ride / Telemetry ticks."""

    def stamp(x):
        return x.strftime("%Y-%m-%d %H:%M:%S.%f")

    honor = ["Mr ", "Mrs ", "Dr ", ""][int(rng.integers(0, 4))]
    user = (
        f"{{'user_id': {user_id}, 'name': '{honor}Rider {user_id}', "
        f"'gender': '{['male', 'female'][user_id % 2]}', "
        f"'address': '{user_id} High St,Lowtown,AB{user_id % 9} 2CD', "
        f"'date_of_birth': {189302400000 + user_id * 86400000}, "
        f"'email_address': 'r{user_id}@example.com', "
        f"'height_cm': {150 + user_id % 50}, 'weight_kg': {50 + user_id % 60}, "
        f"'account_create_date': {1641000000000 + user_id * 1000}, "
        f"'bike_serial': 'SN{user_id:04d}', 'original_source': 'offline'}}"
    )
    lines = [
        (t, f"{stamp(t)} [SYSTEM] {_MARKER}"),
        (t, f"{stamp(t)} [INFO]: Getting user data from server"),
        (t, f"{stamp(t)} [SYSTEM] data = {user}"),
    ]
    for k in range(n_ticks):
        t = t + dt.timedelta(milliseconds=500)
        if k % 2 == 0:
            dur = float(k + 1)
            res = int(rng.integers(10, 90))
            lines.append(
                (t, f"{stamp(t)} [INFO]: Ride - duration = {dur}; resistance = {res}")
            )
        else:
            hrt = int(rng.integers(60, 180))
            rpm = round(float(rng.uniform(20, 90)), 1)
            lines.append(
                (
                    t,
                    f"{stamp(t)} [INFO]: Telemetry - hrt = {hrt}; rpm = {rpm}; "
                    f"power = {round(rpm * 2.5, 1)}",
                )
            )
    return lines, t


def wire_messages(seed: int, n_rides: int, partitions: int = 2) -> list[dict]:
    """The distinct messages of a seeded topic, in delivery order. Rides
    go to partition ``user_id % partitions``; offsets count per
    partition, so ``(partition, offset)`` is the message key."""
    rng = np.random.default_rng(seed)
    t = dt.datetime(2022, 1, 1) + dt.timedelta(seconds=int(rng.integers(0, 10**7)))
    next_off = [0] * partitions
    msgs = []
    for _ in range(n_rides):
        user_id = int(rng.integers(1, 500))
        lines, t = _ride_lines(rng, t, user_id, RIDE_TICKS)
        p = user_id % partitions
        for ts, line in lines:
            msgs.append(
                {
                    "topic": "deloton",
                    "partition": p,
                    "offset": next_off[p],
                    "key": str(user_id),
                    "value": json.dumps({"log": line}),
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                }
            )
            next_off[p] += 1
        t = t + dt.timedelta(seconds=int(rng.integers(5, 120)))
    return msgs


def make_wire_files(
    out_dir: str, seed: int, n_rides: int, n_files: int, dup_share: float
) -> dict:
    """Write a seeded topic as ``n_files`` JSON-lines files, with
    ``round(dup_share * total)`` redelivered messages: each is a copy of
    an already-delivered message placed in a later file, the way a
    consumer rollback re-reads committed offsets. Returns the truth the
    sink is checked against."""
    rng = np.random.default_rng(seed + 1)
    msgs = wire_messages(seed, n_rides)
    n = len(msgs)
    # delivered = n + d, d / delivered == dup_share  =>  d = share*n/(1-share)
    n_dup = int(round(dup_share * n / (1.0 - dup_share)))
    per_file = -(-n // n_files)
    files: list[list[dict]] = [msgs[i * per_file : (i + 1) * per_file] for i in range(n_files)]
    for idx in rng.choice(n, n_dup, replace=n_dup > n):
        src_file = int(idx) // per_file
        if src_file + 1 >= n_files:
            dst = src_file  # last file: redelivered within the same file
        else:
            dst = int(rng.integers(src_file + 1, n_files))
        files[dst].append(msgs[int(idx)])
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        with open(os.path.join(out_dir, f"part-{i:04d}.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r, sort_keys=True) + "\n")
    return {
        "distinct": {(m["partition"], m["offset"]): json.loads(m["value"])["log"] for m in msgs},
        "delivered": n + n_dup,
        "duplicates": n_dup,
    }
