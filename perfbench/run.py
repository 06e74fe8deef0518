#!/usr/bin/env python3
"""The engine's benchmark. One run is one fresh process:

    python3 perfbench/run.py --workload api_lookups --seed 1 --seconds 10 --trace 0

from the root of a checkout. Workloads: api_lookups, batch_ingest (see
workloads.py and README.md).

With ``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it is the per-layer result of a traced run, which also
runs untraced passes to measure the tracing overhead. Either way a
detail file (provenance, every op, every pass, per-query breakdown,
spans) goes to ``.perfbench/results/``. Inputs are generated into
``.perfbench/data/`` and each run works in its own
``.perfbench/run-<pid>/`` (sinks, checkpoints, the engine's scratch,
Spark's local dirs), which is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: Scale of the generated tables (``sf0.01`` shape: 60k lineitem rows,
#: 15k orders, 1.5k customers, 500 documents and embeddings).
SCALE = 0.01
SETUP_REPEATS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the aggregate /proc/stat cpu line. The
    total sums user..steal only: guest and guest_nice are already
    counted inside user and nice."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    total = t1[1] - t0[1]
    return round(100.0 * (t1[0] - t0[0]) / total, 3) if total > 0 else None


def _proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process (all its threads). Time
    the hypervisor stole from the CPU is not charged to the process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.state = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.state, f"run-{os.getpid()}")
        self.cache_dir = os.path.join(self.state, "expected")
        self.spark = None
        self.setups: list[dict] = []
        self.inputs_s = 0.0
        self.passes: list[dict] = []
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.tracer = None
        self._pass = None
        self._op = None
        self._duck = None
        self.jvm_pid = None
        self.timed_region: dict = {}

    # -- environment ---------------------------------------------------------
    def isolate(self) -> None:
        """Point every scratch location of the engine, Spark and the JVM
        into this run's own directory."""
        for d in glob.glob(os.path.join(self.state, "run-*")):
            if not os.path.exists(f"/proc/{d.rsplit('-', 1)[1]}"):
                shutil.rmtree(d, ignore_errors=True)  # left by a killed run
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None  # engine scratch_dir() -> <run>/tmp/deloton_scratch
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
        # The series is defined at a 1 GB driver heap, not the engine's
        # 8 GB default: it holds these inputs, and a larger one makes the
        # JVM's peak RSS depend more on when its collections ran.
        os.environ.setdefault("SPARK_DRIVER_MEM", "1g")

    def make_inputs(self) -> None:
        from datagen import make_tables

        self.data_dir = self.generate(make_tables, os.path.join(self.state, "data"), self.scale)

    def generate(self, fn, *args):
        """Run an input generator; its time counts in no metric."""
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.inputs_s += time.perf_counter() - t

    def table_rows(self, name: str) -> int:
        import pyarrow.parquet as pq

        return pq.read_metadata(os.path.join(self.data_dir, f"{name}.parquet")).num_rows

    def duck(self):
        if self._duck is None:
            from oracle import connect

            self._duck = connect(self.data_dir)
        return self._duck

    # -- setup -----------------------------------------------------------------
    def setup_sessions(self) -> None:
        """Build the session and run the schema pre-flight SETUP_REPEATS
        times (stopping the previous session first); the last session is
        the one the workload uses."""
        from deloton_solo_spark.catalog import assert_schemas
        from deloton_solo_spark.session import get_spark

        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark()
            t1 = time.perf_counter()
            assert_schemas(self.spark, self.data_dir)
            t2 = time.perf_counter()
            # the first setup also pays interpreter start, imports and the
            # JVM launch: measure it from process start, minus input generation
            first = t0 - T0 - self.inputs_s if i == 0 else 0.0
            self.setups.append(
                {"total": t2 - t0 + first, "get_spark": t1 - t0 + first, "assert_schemas": t2 - t1}
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_cores = self.spark.sparkContext.defaultParallelism

    # -- timed region -------------------------------------------------------------
    def timed(self, fn) -> None:
        self.timed_region["first_op_s"] = time.perf_counter() - T0 - self.inputs_s
        ticks0 = _cpu_ticks()
        t = time.perf_counter()
        fn()
        self.timed_region["wall_s"] = time.perf_counter() - t
        self.timed_region["steal_pct"] = _steal_pct(ticks0, _cpu_ticks())

    @contextlib.contextmanager
    def pass_(self, traced: bool):
        rec = {"i": len(self.passes), "traced": traced, "ops": []}
        self._pass = rec
        if traced:
            self._install_tracer()
        ticks0 = _cpu_ticks()
        cpu0 = self.cpu_s()
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t
            rec["cpu_s"] = self.cpu_s() - cpu0
            rec["steal_pct"] = _steal_pct(ticks0, _cpu_ticks())
            self._pass = None
            self.passes.append(rec)
            if traced:
                self._finish_traced_pass(rec)

    @contextlib.contextmanager
    def op(self, op_id: str, name: str, traced: bool, cls: str):
        rec = {"op": op_id, "name": name, "cls": cls, "pass": self._pass["i"], "traced": traced}
        self._op = rec
        self.attempted += 1
        ctx = self.tracer.op(op_id, name, cls=cls) if traced else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with ctx:
                yield rec
        except Exception as exc:  # an op that raises is a failed op, not a crash
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            self.failures.append({"op": op_id, "reason": rec["error"]})
        finally:
            rec["wall_s"] = time.perf_counter() - t
            self._op = None
            self._pass["ops"].append(op_id)
            self.ops.append(rec)

    def span(self, name: str):
        if self._op is not None and self._op["traced"]:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def group(self, suffix: str):
        """Tag the jobs of one phase of a traced op with a job group."""
        if self._op is not None and self._op["traced"]:
            self.spark.sparkContext.setJobGroup(f"{self._op['op']}:{suffix}", self._op["name"])
        yield

    def cpu_s(self) -> float:
        """CPU seconds so far of this process and the Spark JVM."""
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        return _proc_cpu_s(os.getpid()) + _proc_cpu_s(self.jvm_pid)

    # -- tracing ----------------------------------------------------------------
    def _install_tracer(self) -> None:
        from spans import Tracer

        try:  # the class a classic (non-Connect) session hands out
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from deloton_solo_spark.catalog import load_table
        from deloton_solo_spark.operators.sinks import idempotent_append

        if self.tracer is None:
            self.tracer = Tracer()
            self.wall_offset = time.time() - time.perf_counter()
        tr = self.tracer
        tr.install_spark(self.spark)
        tr.wrap_everywhere(load_table, "catalog.load_table")
        tr.wrap_everywhere(idempotent_append, "sink.add_batch")

        def to_json_factory(orig):
            # the API layer's serialization edge: building the JSON RDD
            # plans the query; collecting it runs the jobs
            def to_json(df, *a, **k):
                with tr.span("planner.plan"):
                    rdd = orig(df, *a, **k)
                collect = rdd.collect

                def timed_collect():
                    with tr.span("exec.execute"):
                        return collect()

                rdd.collect = timed_collect
                return rdd

            return to_json

        tr.patch(DataFrame, "toJSON", to_json_factory)

    def _finish_traced_pass(self, rec: dict) -> None:
        from spans import attach_plan_spans, job_counters

        tr = self.tracer
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        attach_plan_spans(tr, self.wall_offset)
        tr.uninstall()
        for op in self.ops:
            if op["pass"] != rec["i"]:
                continue
            groups = [f"{op['op']}:c", f"{op['op']}:x"]
            groups += sorted({b["runId"] for b in op.get("batches", [])})
            totals: dict = {}
            for g in groups:
                for k, v in job_counters(self.spark, g).items():
                    totals[k] = totals.get(k, 0) + v
            op["exec"] = totals
            op["construct_jobs"] = len(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(f"{op['op']}:c")
            )
        self.spark.sparkContext.setJobGroup("perfbench", "checks")

    # -- streaming progress ---------------------------------------------------------
    def stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        bench = self

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.pending = []

            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event):  # noqa: N802 (Spark API)
                p = event.progress
                if p.numInputRows == 0:
                    return  # AvailableNow's closing no-data trigger
                self.pending.append(
                    {
                        "runId": str(p.runId),
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "batchDuration": p.batchDuration,
                        "durationMs": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):  # noqa: N802 (Spark API)
                pass

            def onQueryTerminated(self, event):  # noqa: N802 (Spark API)
                pass

            def flush(self):
                bench.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
                out, self.pending = self.pending, []
                return out

        listener = Progress()
        self.spark.streams.addListener(listener)
        return listener

    # -- checks ---------------------------------------------------------------------
    def check(self, op_ids: list[str], fn) -> None:
        """Run one output check; a wrong output (or a check that raises)
        fails every op in ``op_ids``."""
        try:
            reason = fn()
        except Exception as exc:
            reason = f"check raised {type(exc).__name__}: {exc}"[:300]
        if reason is not None:
            self.failures += [{"op": op_id, "reason": reason} for op_id in op_ids]

    def failed(self) -> int:
        return len({f["op"] for f in self.failures})

    # -- teardown ---------------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm = 0
        if self.spark is not None:
            try:
                jvm = _rss_kb(int(self.spark._jvm.ProcessHandle.current().pid()))
            except Exception:
                jvm = 0
        return (py + jvm) / 1024.0

    def shutdown(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the run directory."""
        from pyspark import SparkContext

        if self._duck is not None:
            self._duck.close()
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def provenance(bench: Bench) -> dict:
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(Exception):
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
    sc = bench.spark.sparkContext if bench.spark is not None else None
    conf = {}
    if sc is not None:
        for k in ("spark.sql.shuffle.partitions", "spark.sql.codegen.cache.maxEntries", "spark.driver.memory"):
            conf[k] = bench.spark.conf.get(k, None) if k.startswith("spark.sql") else sc.getConf().get(k)
    return {
        "git_sha": sha,
        "nproc": _nproc(),
        "spark_master": sc.master if sc is not None else None,
        "seed": bench.seed,
        "seconds": bench.seconds,
        "trace": int(bench.trace),
        "workload": bench.workload,
        "scale": bench.scale,
        "conf": conf,
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "steal_pct_timed": bench.timed_region.get("steal_pct"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=SCALE, help="table scale factor (smoke tests use 0.001)"
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deloton_solo_spark")):
        _fail(f"engine package not found under {ROOT}; run from a checkout")
    sys.path.insert(0, ROOT)
    from metrics import annotate_ops, end_to_end, latency_tail, per_layer  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    bench = Bench(args)
    bench.isolate()
    try:
        bench.make_inputs()
        WORKLOADS[args.workload](bench)
        rss = bench.peak_rss_mb()
        prov = provenance(bench)
    finally:
        bench.shutdown()

    e2e = end_to_end(bench, rss)
    layers = per_layer(bench) if bench.trace else {}
    annotate_ops(bench)
    detail = {
        "provenance": prov,
        "end_to_end": e2e,
        "per_layer": layers,
        "setups": bench.setups,
        "setup_first_s": bench.timed_region.get("first_op_s"),
        "latency_ms": latency_tail(bench),
        "passes": bench.passes,
        "ops": [{k: v for k, v in op.items() if k != "sink"} for op in bench.ops],
        "failures": bench.failures,
        "spans": bench.tracer.spans if bench.tracer else [],
    }
    out_dir = os.path.join(bench.state, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(detail, f, default=str)
    print(json.dumps({"provenance": prov, "detail": os.path.relpath(out, ROOT)}))

    chosen = layers if bench.trace else e2e
    failed = bench.failed()
    result = {
        "correct": failed == 0,
        "attempted": max(bench.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    for f in bench.failures[:20]:
        print(f"perfbench: FAILED {f['op']}: {f['reason']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
