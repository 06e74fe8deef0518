"""Metric definitions and their computation from a finished run.

``END_TO_END`` and ``PER_LAYER`` are the names, units and directions
``BENCHMARK.json`` lists; ``test_perfbench.py`` checks the two agree.

End-to-end metrics come from the untraced passes; per-layer metrics
from the traced passes of a ``--trace 1`` run. Op-level per-layer
metrics are means per warm op (request, query or drain) unless the
name says otherwise.
"""

from __future__ import annotations

import statistics

from workloads import CURATION, clean_warm_passes

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "warm_pass_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.startup_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "pass.cold_s": ("s", "lower"),
    "catalog.assert_schemas_s": ("s", "lower"),
    "catalog.load_table_calls": ("count", "lower"),
    "catalog.load_table_s": ("s", "lower"),
    "operators.construct_s": ("s", "lower"),
    "operators.construct_jobs": ("count", "lower"),
    "planner.plan_ms": ("ms", "lower"),
    "planner.codegen_compiles": ("count", "lower"),
    "exec.execute_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.slot_util": ("ratio", "higher"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "artifacts.cold_extra_s": ("s", "lower"),
    "api.serve_s.point": ("s", "lower"),
    "api.serve_s.scan": ("s", "lower"),
    "api.serve_s.join": ("s", "lower"),
    "api.response_bytes": ("bytes", "lower"),
    "api.jobs_per_request": ("count", "lower"),
    "api.tasks_per_request": ("count", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.input_rows": ("count", "higher"),
    "stream.trigger_ms": ("ms", "lower"),
    "stream.get_batch_ms": ("ms", "lower"),
    "stream.query_planning_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.ingest_rows_per_s": ("1/s", "higher"),
    "sink.add_batch_ms": ("ms", "lower"),
    "sink.add_batch_slope_ms": ("ms", "lower"),
    "sink.rows_written": ("count", "higher"),
    "sink.dup_dropped_ratio": ("ratio", "higher"),
    "trace.residual_pct": ("%", "lower"),
    "tracing_overhead_pct": ("%", "lower"),
    "failed_op_ratio": ("ratio", "lower"),
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _pctl(values, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    if not s:
        return 0.0
    k = min(len(s) - 1, max(0, -(-int(q * 1000) * len(s) // 1000) - 1))
    return float(s[k])


def _pass_time(bench, p: dict) -> float:
    ops = {o["op"]: o for o in bench.ops}
    return sum(ops[o]["wall_s"] for o in p["ops"])


def _op_latencies_ms(bench, passes) -> list[float]:
    want = {p["i"] for p in passes}
    out = []
    for o in bench.ops:
        if o["pass"] not in want:
            continue
        if "batches" in o:  # an ingest drain: its micro-batches are the ops
            out += [float(b["batchDuration"]) for b in o["batches"]]
        else:
            out.append(o["wall_s"] * 1000.0)
    return out


def end_to_end(bench, peak_rss_mb: float) -> dict:
    """name -> (value, unit): the pass metrics from the clean untraced
    warm passes."""
    later = clean_warm_passes(bench.passes)
    lat = _op_latencies_ms(bench, later)
    vals = {
        "setup_s": _median(s["total"] for s in bench.setups),
        "warm_pass_s": _median(_pass_time(bench, p) for p in later),
        "latency_p50_ms": _median(lat),
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: (float(v), END_TO_END[k][0]) for k, v in vals.items()}


def latency_tail(bench) -> dict:
    """The warm-pass latency distribution, for the detail file only: a
    run has too few samples for a tail percentile with ten beyond it."""
    lat = _op_latencies_ms(bench, clean_warm_passes(bench.passes))
    return {"n": len(lat), **{f"p{q}": _pctl(lat, q / 100) for q in (50, 90, 95, 100)}}


def annotate_ops(bench) -> None:
    """The per-op layer split for the detail file: seconds of each
    layer's spans (construct, plan, execute, load_table, add_batch)."""
    if bench.tracer is None:
        return
    by_op: dict = {}
    for s in bench.tracer.spans:
        if not s.get("root"):
            layers = by_op.setdefault(s["op"], {})
            layers[s["name"]] = layers.get(s["name"], 0.0) + s["end"] - s["start"]
    for o in bench.ops:
        if o["op"] in by_op:
            o["layers_s"] = by_op[o["op"]]


def per_layer(bench) -> dict:
    """name -> (value, unit), from the warm traced passes; the cold
    pass gives ``planner.codegen_compiles`` (per op) and, against the
    warm ones, ``artifacts.cold_extra_s``."""
    from spans import self_times

    tr = bench.tracer
    cold_ops = [o for o in bench.ops if o["traced"] and o["pass"] == 0]
    traced_ops = [o for o in bench.ops if o["traced"] and o["pass"] != 0]
    warm_ids = {o["op"] for o in traced_ops}
    spans = [s for s in (tr.spans if tr else []) if s["op"] in warm_ids]
    n = max(len(traced_ops), 1)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name: str) -> float:
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    def exec_sum(key: str) -> float:
        return sum(o.get("exec", {}).get(key, 0) for o in traced_ops)

    roots = [s for s in spans if s.get("root")]
    cold_ids = {o["op"] for o in cold_ops}
    cold_roots = [s for s in (tr.spans if tr else []) if s.get("root") and s["op"] in cold_ids]
    compiles = sum(s["compiles1"] - s["compiles0"] for s in cold_roots)
    selfs = self_times(spans)
    root_wall = sum(s["end"] - s["start"] for s in roots)
    residual = sum(selfs[s["id"]] for s in roots)
    busy_wall = dur("operators.construct") + dur("exec.execute")
    cores = bench.spark_cores

    v = {
        "session.startup_s": bench.timed_region["first_op_s"],
        "session.get_spark_s": _median(s["get_spark"] for s in bench.setups),
        "pass.cold_s": _pass_time(bench, bench.passes[0]),
        "catalog.assert_schemas_s": _median(s["assert_schemas"] for s in bench.setups),
        "catalog.load_table_calls": len(by_name.get("catalog.load_table", [])) / n,
        "catalog.load_table_s": dur("catalog.load_table") / n,
        "operators.construct_s": dur("operators.construct") / n,
        "operators.construct_jobs": sum(o.get("construct_jobs", 0) for o in traced_ops) / n,
        "planner.plan_ms": 1000.0 * dur("planner.plan") / n,
        "planner.codegen_compiles": compiles / max(len(cold_ops), 1),
        "exec.execute_s": dur("exec.execute") / n,
        "exec.slot_util": exec_sum("executor_run_s") / (busy_wall * cores) if busy_wall else 0.0,
        "trace.residual_pct": 100.0 * residual / root_wall if root_wall else 0.0,
        "failed_op_ratio": bench.failed() / max(bench.attempted, 1),
    }
    for key in (
        "jobs",
        "stages",
        "tasks",
        "failed_tasks",
        "executor_run_s",
        "executor_cpu_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
    ):
        v[f"exec.{key}"] = exec_sum(key) / n

    # artifacts: per curation query, its cold execution minus its warm
    # traced ones (the cold one also compiles its code)
    cold = {o["name"]: o["wall_s"] for o in cold_ops}
    warm: dict[str, list[float]] = {}
    for o in traced_ops:
        warm.setdefault(o["name"], []).append(o["wall_s"])
    v["artifacts.cold_extra_s"] = sum(
        cold[q] - _median(warm[q]) for q in CURATION if q in cold and q in warm
    )

    api_ops = [o for o in traced_ops if o["cls"] in ("point", "scan", "join")]
    for cls in ("point", "scan", "join"):
        v[f"api.serve_s.{cls}"] = _median(o["wall_s"] for o in api_ops if o["cls"] == cls)
    m = max(len(api_ops), 1)
    v["api.response_bytes"] = sum(o.get("bytes", 0) for o in api_ops) / m
    v["api.jobs_per_request"] = sum(o.get("exec", {}).get("jobs", 0) for o in api_ops) / m
    v["api.tasks_per_request"] = sum(o.get("exec", {}).get("tasks", 0) for o in api_ops) / m

    drains = [o for o in traced_ops if "batches" in o]
    batches = [b for o in drains for b in o["batches"]]
    d = max(len(drains), 1)
    v["stream.batches"] = len(batches) / d
    v["stream.input_rows"] = sum(b["numInputRows"] for b in batches) / d
    for name, key in (
        ("trigger_ms", "triggerExecution"),
        ("get_batch_ms", "getBatch"),
        ("query_planning_ms", "queryPlanning"),
        ("wal_commit_ms", "walCommit"),
    ):
        v[f"stream.{name}"] = _median(b["durationMs"].get(key, 0) for b in batches)
    v["stream.ingest_rows_per_s"] = _median(
        o.get("rows_written", 0) / o["wall_s"] for o in drains
    )
    adds = by_name.get("sink.add_batch", [])
    v["sink.add_batch_ms"] = _median(1000.0 * (s["end"] - s["start"]) for s in adds)
    v["sink.add_batch_slope_ms"] = _slope_by_index(adds)
    v["sink.rows_written"] = sum(o.get("rows_written", 0) for o in drains) / d
    delivered = sum(b["numInputRows"] for b in batches)
    written = sum(o.get("rows_written", 0) for o in drains)
    v["sink.dup_dropped_ratio"] = (delivered - written) / delivered if delivered else 0.0

    v["tracing_overhead_pct"] = _overhead_pct(bench)
    return {k: (float(v[k]), PER_LAYER[k][0]) for k in PER_LAYER}


def _slope_by_index(adds: list[dict]) -> float:
    """Least-squares slope of add_batch time (ms) against the batch's
    index within its drain: how the sink's cost grows with its size."""
    pts = []
    per_op: dict = {}
    for s in sorted(adds, key=lambda s: s["start"]):
        i = per_op.get(s["op"], 0)
        per_op[s["op"]] = i + 1
        pts.append((i, 1000.0 * (s["end"] - s["start"])))
    if len({x for x, _ in pts}) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / sxx


def _overhead_pct(bench) -> float:
    """Traced minus untraced pass time, over untraced, on the passes
    after the cold one and the settling one."""
    later = [p for p in bench.passes if p["i"] >= 2]
    t = [_pass_time(bench, p) for p in later if p["traced"]]
    u = [_pass_time(bench, p) for p in later if not p["traced"]]
    if not t or not u:
        return 0.0
    return 100.0 * (_median(t) - _median(u)) / _median(u)
