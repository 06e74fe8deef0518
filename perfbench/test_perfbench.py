"""Tests of the benchmark itself (not part of the engine's suite):

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests start one Spark process per workload at scale 0.001,
plus one traced run, and take a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from datagen import make_tables, make_wire_files  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from oracle import check_response, connect, route_sql  # noqa: E402
from workloads import WORKLOADS, api_requests, daily_date  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_api_requests_follow_the_seed():
    assert api_requests(5, 150, 1500) == api_requests(5, 150, 1500)
    assert api_requests(5, 150, 1500) != api_requests(6, 150, 1500)


def test_api_requests_ask_for_months():
    for seed in range(20):
        dates = [p["date"] for _c, r, p in api_requests(seed, 150, 1500) if r == "/daily"]
        assert [len(d.split("-")) for d in dates] == [2, 2]


def _wire(tmp_path, name, seed):
    d = tmp_path / name
    truth = make_wire_files(str(d), seed, n_rides=6, n_files=3, dup_share=0.1)
    return d, truth


def _same_files(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_wire_files_follow_the_seed(tmp_path):
    a, truth_a = _wire(tmp_path, "a", 3)
    b, _ = _wire(tmp_path, "b", 3)
    c, _ = _wire(tmp_path, "c", 4)
    assert _same_files(a, b)
    assert not _same_files(a, c)
    lines = sum(len(open(a / n).readlines()) for n in os.listdir(a))
    assert lines == truth_a["delivered"] == len(truth_a["distinct"]) + truth_a["duplicates"]
    assert truth_a["duplicates"] > 0


def test_metric_definitions_match_benchmark_json():
    doc = _benchmark_json()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]}
    assert e2e == END_TO_END
    assert layers == PER_LAYER
    assert {w["name"] for w in doc["workloads"]} == set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join("perfbench", "run.py"),
        "--workload", workload,
        "--seed", "1",
        "--seconds", "1",
        "--trace", str(trace),
        "--scale", "0.001",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_each_workload_at_sf0001(workload):
    doc = _benchmark_json()
    res = _run(workload, trace=0)
    assert res["failed"] == 0 and res["correct"], res
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in doc["end_to_end"]}
    for name, m in res["metrics"].items():
        assert m["unit"] == END_TO_END[name][0]
        assert m["value"] > 0, name


def test_smoke_traced_run_prints_every_layer():
    doc = _benchmark_json()
    res = _run("batch_ingest", trace=1)
    assert res["failed"] == 0, res
    assert set(res["metrics"]) == {m["name"] for m in doc["per_layer"]}
    assert res["metrics"]["failed_op_ratio"]["value"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["stream.batches"] > 0 and m["sink.rows_written"] > 0


@pytest.mark.xfail(
    strict=True,
    reason='engine defect: api.serve(..., "/daily", date="YYYY-MM-DD") returns no rows, '
    'because it compares the third part of split(start_time, "-"), "DD HH:MM:SS", with "DD"',
)
def test_day_level_daily_matches_oracle(tmp_path, monkeypatch):
    """The day-level ``/daily`` route against its DuckDB twin, for days
    that have rides. api_lookups sends months only while this fails;
    when it passes (XPASS fails the suite), drop the mark and let the
    workload draw day-level dates too."""
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    sys.path.insert(0, ROOT)
    from deloton_solo_spark import api
    from deloton_solo_spark.session import get_spark

    data_dir = make_tables(str(tmp_path / "data"), 0.001)
    con = connect(data_dir)
    (first_day,) = con.execute("SELECT strftime(min(o_orderdate), '%Y-%m-%d') FROM orders").fetchone()
    sql, args = route_sql("/daily", {"date": first_day})
    assert con.execute(f"SELECT count(*) FROM ({sql})", args).fetchone()[0] > 0
    spark = get_spark()
    reasons = []
    for date in (first_day, daily_date(random.Random(1), day_level=True)):
        body = api.serve(spark, data_dir, "/daily", date=date)
        reasons.append(check_response(con, "/daily", {"date": date}, body))
    assert reasons == [None, None]
