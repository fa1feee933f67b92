"""The benchmark loop shared by every workload.

A run is: generate the seeded inputs (untimed) -> timed passes until
``--seconds`` have elapsed, at least one, each after a set-up of its
own. A set-up starts a fresh JVM: session start + one small job, both
timed; ``setup_s`` is the median over the run's set-ups. So every pass
is the job's first execution in its JVM, as for a batch job started on
its own. The inputs that need a session are loaded after the first
set-up (untimed). A pass is the workload's whole job, from inputs to
complete results; the first pass's outputs are checked against the
generator's truth in ``after_pass``, outside the timed region. A raised
operation or a failed check counts in ``failed``.

A timed pass during which co-tenants kept more than ``EXT_BAR`` cores
busy is discarded and run again, after a set-up of its own; the
discarded passes are listed in the detail line. Each pass also records
``cpu_probe_s``, a fixed loop timed just before it, which shows a slow
host window that the external load does not. Peak RSS is reset before
each timed pass and read right after it, so ``peak_rss_mb`` covers the
pass alone, not input generation or checks.

With tracing off, a pass records only each operation's wall time. With
tracing on, it also records a span per layer call and, per operation,
the Spark status-store readings; the time the probe itself takes is the
tracing overhead (``trace.overhead_s``).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from spans import (
    SPARK_FIELDS, ExtMeter, StageProbe, Tracer, cpu_probe_s, reset_peak_rss, tree_peak_rss_mb,
)

# A timed pass during which other processes kept more than EXT_BAR cores
# busy on average is contended: it is run again, as ``bench.py`` does
# with a contended query, at most MAX_RETRIES times and only while the
# run can still end within DEADLINE_S (a run must end within 180 s).
EXT_BAR = 0.5
MAX_RETRIES = 1
DEADLINE_S = 160.0

# Metric names and units; BENCHMARK.json lists the same names (a
# self-test keeps the two in step).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "sources.jdbc_load_s": "s",
    "sync.table_s": "s",
    "sync.reconciled": "count",
    "pipeline.run_s": "s",
    "pipeline.rows_out": "count",
    "delta_lite.write_s": "s",
    "delta_lite.read_s": "s",
    "delta_lite.merge_s": "s",
    "delta_lite.delete_s": "s",
    "delta_lite.changes_s": "s",
    "delta_lite.optimize_s": "s",
    "delta_lite.vacuum_s": "s",
    "delta_lite.files_added": "count",
    "delta_lite.files_removed": "count",
    "delta_lite.bytes_added": "bytes",
    "delta_lite.dv_files": "count",
    "delta_lite.commits": "count",
    "delta_lite.rewrite_ratio": "ratio",
    "delta_lite.write_amp": "ratio",
    "curation.call_s": "s",
    "curation.exec_s": "s",
    "curation.survivors.gopher": "count",
    "curation.survivors.exact": "count",
    "curation.survivors.near_dup": "count",
    "curation.survivors.chunk": "count",
    "curation.survivors.pack": "count",
    "curation.dedup_recall": "ratio",
    "similarity.topk_exact_s": "s",
    "similarity.topk_ivf_s": "s",
    "similarity.topk_recall": "ratio",
    **{
        f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
        for k in SPARK_FIELDS
    },
    "trace.overhead_s": "s",
    "trace.passes": "count",
}


class Pass:
    """One pass over a workload's inputs: times operations, collects
    failures (raised or failed checks), layer counters and, with tracing
    on, layer spans and per-operation Spark metrics."""

    def __init__(self, spark, tracer: Tracer, probe: StageProbe | None, check: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.check_outputs = check
        self.ops: dict[str, float] = {}
        self.outputs: dict = {}  # what the operations returned, for the checks
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.wall = 0.0
        self.cpu = 0.0  # CPU seconds of the whole process tree
        self.ext = 0.0  # cores other processes kept busy
        self.cpu_probe = 0.0  # host speed reading before the pass, s
        self.rss: dict[str, float] = {}  # peak RSS per command, MB

    def op(self, name: str, fn):
        """Run one operation (one query or one ETL step); an exception
        is a failure of that operation, not of the run."""
        self.attempted += 1
        result = None
        with self.tracer.span(name, op=True) as span:
            t_probe = time.perf_counter()
            group = self.probe.begin(name) if self.probe else None
            w0, t0 = time.time(), time.perf_counter()
            self.layer["trace.overhead_s"] += t0 - t_probe
            try:
                result = fn()
            except Exception as exc:  # noqa: BLE001 — counted in fail_ratio
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
                traceback.print_exc()
            finally:
                t1 = time.perf_counter()
                self.ops[name] = self.ops.get(name, 0.0) + t1 - t0
                if group is not None:
                    span.attrs.update(self.probe.end(group, (w0, time.time())))
                    for k in SPARK_FIELDS:
                        self.layer[f"spark.{k}"] += span.attrs[k]
                    self.layer["trace.overhead_s"] += time.perf_counter() - t1
        return result

    @contextmanager
    def layer_span(self, name: str):
        """A span around one call into a layer; its duration adds to the
        ``<name>_s`` layer metric of this pass (with tracing on only)."""
        if not self.tracer.enabled:
            yield
            return
        t0 = time.perf_counter()
        with self.tracer.span(name):
            try:
                yield
            finally:
                self.layer[f"{name}_s"] += time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        self.layer[name] += value

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record an output check; a failed one fails operation ``name``."""
        if not ok:
            self.failures.append(f"check {name}: {detail}"[:400])


class Workload:
    """Interface every workload implements."""

    name = ""

    def __init__(self, root: str, work: str, seed: int) -> None:
        self.root, self.work, self.seed = root, work, seed

    def generate(self) -> None:
        """Write the seeded inputs (pure Python, before any session)."""

    def prepare(self, spark) -> None:
        """Untimed input loading that needs a session (e.g. into Derby)."""

    def before_pass(self) -> None:
        """Untimed reset before every pass (e.g. drop the last pass's tables)."""

    def after_pass(self, p: "Pass") -> None:
        """Untimed per-pass readings after every pass (e.g. log counters)."""

    def warmup(self, spark) -> None:
        """One small job with a shuffle, so the session's scheduler,
        code generation and shuffle paths have started before the pass."""
        spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def run_pass(self, p: Pass) -> None:
        raise NotImplementedError

    def extras(self) -> dict:
        """Workload-specific quality numbers from the checked pass."""
        return {}


def quartiles(values: list[float]) -> list[float]:
    """[q1, median, q3, n] as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return [values[0], values[0], values[0], 1]
    q = statistics.quantiles(values, n=4)
    return [q[0], statistics.median(values), q[2], len(values)]


def _pass_detail(p: Pass) -> dict:
    return {
        "wall_s": round(p.wall, 4), "cpu_s": round(p.cpu, 2), "ext_cores": round(p.ext, 3),
        "cpu_probe_s": round(p.cpu_probe, 4),
    }


def run(workload: Workload, start_session, stop_session, seconds: float, trace: bool, trace_path: str) -> tuple[dict, dict]:
    """Execute one benchmark run; returns (result line, detail)."""
    start = time.perf_counter()
    workload.generate()
    inputs_s = time.perf_counter() - start
    setups: list[tuple[float, float]] = []
    spark = None

    tracer = Tracer(trace)
    meter = ExtMeter()
    passes: list[Pass] = []
    contended: list[Pass] = []
    checks_s = 0.0
    begin = time.perf_counter()
    while not passes or time.perf_counter() - begin < seconds:
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        spark = start_session()
        started = time.perf_counter() - t0
        t1 = time.perf_counter()
        workload.warmup(spark)
        setups.append((started, time.perf_counter() - t1))
        spark.catalog.clearCache()
        if len(setups) == 1:
            t0 = time.perf_counter()
            workload.prepare(spark)
            inputs_s += time.perf_counter() - t0
        p = Pass(spark, tracer, StageProbe(spark) if trace else None, check=not passes)
        workload.before_pass()
        p.cpu_probe = cpu_probe_s()
        reset_peak_rss()
        meter.start()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            workload.run_pass(p)
        p.wall = time.perf_counter() - t0
        p.ext, p.cpu = meter.stop()
        p.rss = tree_peak_rss_mb()
        t0 = time.perf_counter()
        workload.after_pass(p)
        checks_s += time.perf_counter() - t0
        spent = time.perf_counter() - start
        if (
            p.ext > EXT_BAR
            and len(contended) < MAX_RETRIES
            and spent + 1.25 * (sum(setups[-1]) + p.wall) < DEADLINE_S
        ):
            contended.append(p)  # co-tenants took cores: run it again
            continue
        passes.append(p)

    every = [*contended, *passes]
    attempted = sum(p.attempted for p in every)
    failures = [f for p in every for f in p.failures]
    failed = min(len(failures), attempted)
    walls = [p.wall for p in passes]
    rss = [sum(p.rss.values()) for p in passes]
    op_meds = {
        name: statistics.median(p.ops[name] for p in passes if name in p.ops)
        for name in passes[0].ops
    }
    setup_tot = [a + b for a, b in setups]
    detail = {
        "workload": workload.name,
        "seed": workload.seed,
        "cpu_count": os.cpu_count(),
        "ext_bar": EXT_BAR,
        "inputs_s": round(inputs_s, 4),
        "checks_s": round(checks_s, 4),
        "setups": [[round(a, 4), round(b, 4)] for a, b in setups],
        "passes": [_pass_detail(p) for p in passes],
        "contended_passes": [_pass_detail(p) for p in contended],
        "quartiles": {
            "setup_s": quartiles(setup_tot),
            "pass_s": quartiles(walls),
            "peak_rss_mb": quartiles(rss),
        },
        "ops": {k: quartiles([p.ops[k] for p in passes if k in p.ops]) for k in op_meds},
        "peak_rss_mb_by_command": {k: round(v, 1) for k, v in passes[-1].rss.items()},
        "fail_ratio": failed / max(attempted, 1),
        "failures": failures[:20],
        **workload.extras(),
    }
    if not trace:
        metrics = {
            "setup_s": statistics.median(setup_tot),
            "pass_s": statistics.median(walls),
            "op_geomean_s": math.exp(
                statistics.fmean(math.log(max(v, 1e-9)) for v in op_meds.values())
            ),
            "peak_rss_mb": statistics.median(rss),
        }
    else:
        layer = {
            name: statistics.median(p.layer.get(name, 0.0) for p in passes)
            for name in PER_LAYER
        }
        layer.update((k, v) for k, v in workload.extras().items() if k in PER_LAYER)
        layer["session.start_s"] = statistics.median(a for a, _ in setups)
        layer["session.warmup_s"] = statistics.median(b for _, b in setups)
        layer["trace.passes"] = len(passes)
        metrics = layer
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, workload.root)
    units = PER_LAYER if trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, detail


def emit(result: dict, detail: dict) -> None:
    print("DETAIL " + json.dumps(detail, separators=(",", ":")), flush=True)
    print(json.dumps(result, separators=(",", ":")), flush=True)
