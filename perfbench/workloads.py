"""The workloads. Each is a function ``(bench) -> None`` that sets the
session up, runs timed passes, and leaves its ops, passes and checks on
``bench`` (see ``run.Bench``).

An *op* is the unit a user waits for: one API request, one batch query
(construct + noop-sink execution), or one ingest drain (whose
micro-batches are the latency samples). Workloads: ``api_lookups``
(requests) and ``batch_ingest`` (queries and a drain in one pass). A *pass* is a fixed sequence of
ops. The first pass of a run is its cold pass; passes repeat until
``--seconds`` have elapsed and at least the minimum ran.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from datagen import SEGMENTS, make_wire_files

#: Relational queries with DuckDB twins: a shuffle join and a window.
#: The iterative loops (bfs_reachability, cheapest_supply_path) are left
#: out: at 3+ s per warm run each, a run could not repeat them enough to
#: be steady within the time a run has.
ANALYTICS = (
    "inner_equi_join",
    "window_rank_orders",
)

#: LLM-data queries with DuckDB twins. near_dedup_ngram_jaccard builds
#: a per-corpus artifact (the n-gram sets) on first use in a session;
#: gopher_quality_filter builds none and is the control.
#: similarity_topk_ivf (the IVF codebook) is left out: its 8-11 s cold
#: build would add a sixth to every run.
CURATION = (
    "near_dedup_ngram_jaccard",
    "gopher_quality_filter",
)

#: One API pass: (class, route, requests per pass). One client, closed
#: loop; the seed draws each request's parameters and the order.
#: ``/daily`` asks for months only: the engine answers a day-level date
#: (``YYYY-MM-DD``) with no rows, a wrong answer a timed workload cannot
#: carry (every op of a benchmark run must succeed). That defect is kept
#: in view by ``test_perfbench.test_day_level_daily_matches_oracle``, a
#: strict xfail; day-level dates join this mix once the engine is fixed.
API_PASS = (
    ("point", "/ride", 2),
    ("point", "/rider", 1),
    ("point", "/rider/rides", 1),
    ("scan", "/riders/gender", 1),
    ("scan", "/riders2", 1),
    ("scan", "/daily", 2),
    ("join", "/rides/gender", 1),
)

INGEST_RIDES = 48
INGEST_FILES = 5
INGEST_DUP_SHARE = 0.1


#: The span of the generated order dates (``datagen``), for ``/daily``.
RIDE_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))


def daily_date(rng: random.Random, day_level: bool) -> str:
    """A ``/daily`` date, zero-padded or not as the seed draws it:
    ``YYYY-MM``/``YYYY-M``, or ``YYYY-MM-DD``/``YYYY-M-D``."""
    first, last = RIDE_DAYS
    d = first + dt.timedelta(days=rng.randrange((last - first).days))
    parts = [d.year, d.month, d.day][: 3 if day_level else 2]
    fmt = "{:d}" if rng.random() < 0.5 else "{:02d}"
    return "-".join([str(parts[0])] + [fmt.format(x) for x in parts[1:]])


def api_requests(seed: int, n_users: int, n_rides: int):
    """A seeded request sequence: [(class, route, params), ...]."""
    rng = random.Random(seed)
    out = []
    for cls, route, count in API_PASS:
        for _ in range(count):
            if route == "/ride":
                params = {"ride_id": rng.randrange(n_rides)}
            elif route in ("/rider", "/rider/rides"):
                params = {"user_id": rng.randrange(n_users)}
            elif route in ("/riders/gender", "/rides/gender"):
                params = {"gender": rng.choice(SEGMENTS)}
            elif route == "/riders2":
                lo = rng.randrange(18, 74)
                params = {"number": f"{lo}-{lo + rng.randrange(0, 4)}"}
            else:  # /daily
                params = {"date": daily_date(rng, day_level=False)}
            out.append((cls, route, params))
    rng.shuffle(out)
    return out


#: A pass during which the host stole more than this share of CPU time
#: (other tenants of a shared machine) is not clean.
MAX_STEAL_PCT = 3.0


#: The first measured pass. The ones before it are the cold pass and two
#: settling passes: the JIT is still compiling in the first warm ones
#: (their CPU seconds fall from pass to pass).
MEASURED_FROM = 3


def clean_warm_passes(passes: list[dict]) -> list[dict]:
    """The untraced passes the end-to-end metrics use: the measured ones
    that are clean, or, when none is clean, the one with the least
    steal."""
    warm = [p for p in passes if p["i"] >= MEASURED_FROM and not p["traced"]]
    clean = [p for p in warm if (p.get("steal_pct") or 0.0) <= MAX_STEAL_PCT]
    return clean or sorted(warm, key=lambda p: p.get("steal_pct") or 0.0)[:1]


def _run_passes(bench, one_pass) -> None:
    """Passes until --seconds of timed work (the cold pass included), and
    at least the cold pass, the settling ones and two measured ones, so
    that a burst of host CPU steal (other tenants of a shared machine)
    rarely covers every measured pass. A traced run traces the cold
    pass, runs one untraced pass to settle, then passes untraced,
    traced, traced, untraced (at least these four), so the overhead
    compares warm with warm and a warming trend cancels out."""
    minimum = 6 if bench.trace else MEASURED_FROM + 2

    def traced(i: int) -> bool:
        return bench.trace and (i == 0 or (i >= 2 and (i - 2) % 4 in (1, 2)))

    def loop():
        t_end = time.perf_counter() + bench.seconds
        i = 0
        while i < minimum or time.perf_counter() < t_end:
            one_pass(i, traced(i))
            i += 1

    bench.timed(loop)


# -- api_lookups ------------------------------------------------------------

def run_api(bench) -> None:
    from deloton_solo_spark import api
    from oracle import check_response

    bench.setup_sessions()
    reqs = api_requests(bench.seed, bench.table_rows("customer"), bench.table_rows("orders"))
    responses = []

    def one_pass(i: int, traced: bool) -> None:
        with bench.pass_(traced):
            for j, (cls, route, params) in enumerate(reqs):
                op = f"p{i}r{j}"
                with bench.op(op, route, traced, cls=cls) as rec:
                    with bench.group("x"):
                        body = api.serve(bench.spark, bench.data_dir, route, **params)
                    rec["bytes"] = len(body)
                    responses.append((op, route, params, body))

    _run_passes(bench, one_pass)
    con = bench.duck()
    for op, route, params, body in responses:
        bench.check([op], lambda: check_response(con, route, params, body))


# -- batch_ingest -------------------------------------------------------------

#: The op name of the ingest drain in a batch_ingest pass.
INGEST = "ingest"


def run_batch_ingest(bench) -> None:
    from deloton_solo_spark.registry import all_queries
    from deloton_solo_spark.streaming import pipeline
    from oracle import check_sink, compare_frames, expected_frame

    specs = all_queries()
    names = list(ANALYTICS + CURATION) + [INGEST]
    random.Random(bench.seed).shuffle(names)
    src = os.path.join(bench.work, "wire")
    truth = bench.generate(
        make_wire_files, src, bench.seed, INGEST_RIDES, INGEST_FILES, INGEST_DUP_SHARE
    )
    # The last of the setups is a fresh session: the cold pass pays the
    # first-use costs (codegen compiles, per-corpus artifact builds, the
    # first streaming query).
    bench.setup_sessions()
    listener = bench.stream_listener()

    def drain(i: int, traced: bool) -> None:
        op = f"p{i}:{INGEST}"
        sink = os.path.join(bench.work, f"sink-p{i}")
        ckpt = os.path.join(bench.work, f"ckpt-p{i}")
        with bench.op(op, INGEST, traced, cls="drain") as rec:
            rec["sink"] = sink
            with bench.group("x"), bench.span("exec.execute"):
                parsed = pipeline.parse_wire_stream(
                    pipeline.file_wire_stream(bench.spark, src, max_files_per_trigger=1)
                )
                pipeline.ingest_available_now(parsed, sink, ckpt, keys=["partition", "offset"])
        rec["batches"] = listener.flush()

    def one_pass(i: int, traced: bool) -> None:
        with bench.pass_(traced):
            for name in names:
                if name == INGEST:
                    drain(i, traced)
                    continue
                with bench.op(f"p{i}:{name}", name, traced, cls="cold" if i == 0 else "warm"):
                    with bench.group("c"), bench.span("operators.construct"):
                        df = specs[name].fn(bench.spark, bench.data_dir)
                    with bench.group("x"), bench.span("exec.execute"):
                        df.write.format("noop").mode("overwrite").save()

    _run_passes(bench, one_pass)

    con = bench.duck()
    for name in names:
        if name == INGEST:
            continue

        def check(name=name):
            got = specs[name].fn(bench.spark, bench.data_dir).toPandas()
            want = expected_frame(con, bench.cache_dir, bench.data_dir, name, specs[name].oracle)
            return compare_frames(got, want)

        bench.check([o["op"] for o in bench.ops if o["name"] == name], check)

    for rec in (o for o in bench.ops if o["name"] == INGEST):
        def check(rec=rec):
            reason, rec["rows_written"] = check_sink(rec["sink"], truth)
            delivered = sum(b["numInputRows"] for b in rec["batches"])
            if reason is None and delivered != truth["delivered"]:
                reason = f"stream read {delivered} rows, {truth['delivered']} delivered"
            shutil.rmtree(rec["sink"], ignore_errors=True)
            return reason

        bench.check([rec["op"]], check)


WORKLOADS = {
    "api_lookups": run_api,
    "batch_ingest": run_batch_ingest,
}
