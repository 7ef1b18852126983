"""Run discipline shared by every workload: a private work directory
inside the checkout, one Spark session sized to the host, repeated state
builds, warm-up, the timed closed loop, and the metric assembly."""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from typing import Any

from measure import latency_summary, median
from tracing import Tracer

# Operation types whose Spark job/stage/task counts the traced run
# reports, one group per name (0 on workloads that never run the op).
SPARK_OPS = ("commit", "read_at_lsn", "optimize", "scan", "lookup", "range",
             "ann")
SPARK_COUNTS = {"jobs": "count", "stages": "count", "tasks": "count",
                "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
SPARK_TIMES = ("executor_run_s", "executor_cpu_s", "gap_s")


def per_layer_units(root: str) -> dict[str, str]:
    """The per-layer metrics BENCHMARK.json declares, with their units:
    what every workload's traced run prints (0 where the workload never
    reaches the layer; layer times that only some workloads have go to
    the report line instead)."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def import_engine(root: str):
    """Import moonlink_spark from ``root`` and nowhere else."""
    sys.path.insert(0, root)
    mod = importlib.import_module("moonlink_spark")
    where = os.path.realpath(os.path.dirname(mod.__file__))
    if not where.startswith(os.path.realpath(root) + os.sep):
        raise ImportError(f"moonlink_spark resolved outside the checkout: {where}")
    return mod


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def confine_to(work: str) -> dict[str, str]:
    """Point every temp location of Python, Spark and the JVM
    into ``work``; returns the extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    tempfile.tempdir = tmp
    # every JVM Spark launches (the launcher too) reads this; no
    # hsperfdata files, which HotSpot otherwise writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
    ]))
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Recorder:
    """Latencies, cycle times and outcome counts of the timed phase."""

    def __init__(self, tracer: Tracer | None):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.cycles: list[float] = []
        self.units = 0  # rows/events applied or queries answered
        self.op_time = 0.0  # seconds spent inside timed operations
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation; its latency is kept only if it returns."""
        self.attempted += 1
        scope = self.tracer.op(name) if self.tracer else contextlib.nullcontext()
        with scope:
            t0 = time.perf_counter()
            yield
            dt = time.perf_counter() - t0
        self.lat[name].append(dt)
        self.op_time += dt

    def span(self, name: str, layer: bool = False):
        """A span inside an operation (no-op when not tracing); see
        ``tracing`` for when one counts as layer time."""
        if not self.tracer:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer=layer)

    def last(self, name: str) -> float:
        return self.lat[name][-1]

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)


class Context:
    """What a workload gets: the session, the seed, the size multiplier."""

    def __init__(self, spark: Any, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.scale = scale

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))


def _load_workload(name: str):
    module = {
        "cdc_upsert_stream": "wl_cdc",
        "snapshot_read_mix": "wl_read",
        "rest_event_ingest": "wl_rest",
    }[name]
    return importlib.import_module(module).Workload


def run(workload: str, root: str, work: str, seed: int, seconds: float,
        trace: bool, scale: float) -> tuple[dict[str, Any], dict[str, Any]]:
    conf = confine_to(work)
    t0 = time.perf_counter()
    from moonlink_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark) if trace else None
    wl = _load_workload(workload)(Context(spark, seed, scale))
    try:
        builds, states = [], []
        for i in range(wl.build_reps):
            t = time.perf_counter()
            states.append(wl.build(os.path.join(work, f"state{i}")))
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm(states[0], states[-1])
        warm_s = time.perf_counter() - t
        for st in states[:-1]:
            wl.discard(st)
        state = states[-1]
        setup_s = session_s + median(builds) + warm_s

        rec = Recorder(tracer)
        if tracer:
            wl.install_trace(tracer)
        try:
            wl.loop(state, time.perf_counter() + seconds, rec)
        finally:
            if tracer:
                tracer.restore()
        rec.attempted += 1
        rec.check(wl.final_check(state, rec), "final snapshot check")

        named = {"setup_s": (setup_s, "s"), **wl.report(state, rec),
                 "error_rate": (rec.failed / rec.attempted, "ratio")}
        report = {
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in named.items()},
            "latency": {k: latency_summary(v) for k, v in rec.lat.items()},
            "cycle": latency_summary(rec.cycles),
            "setup": {"session_s": session_s, "build_s": builds,
                      "warm_s": warm_s},
            "errors": rec.errors,
            "cpus": host_cpus(),
        }
        if tracer:
            layers = layer_metrics(tracer, rec, session_s, wl.entry_spans)
            layers.update(wl.layer_metrics(tracer, state, rec))
            report["layers"] = {k: {"value": v, "unit": u}
                                for k, (v, u) in layers.items()}
            trace_dir = os.path.join(root, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(
                os.path.join(trace_dir, f"{workload}-seed{seed}.json"),
                {"workload": workload, "seed": seed, "layers": layers},
            )
            metrics = {k: (layers.get(k, (0,))[0], unit)
                       for k, unit in per_layer_units(root).items()}
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cycle_p50_s": (median(rec.cycles), "s"),
                "throughput_per_s": (rec.units / rec.op_time, "1/s"),
            }
        result = {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
        return report, result
    finally:
        wl.close()
        stop_spark(spark)


def layer_metrics(tracer: Tracer, rec: Recorder, session_s: float,
                  entry_spans: dict[str, str]) -> dict[str, tuple[float, str]]:
    """Per-layer numbers every workload shares; workloads add their own."""
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "trace.cycle_p50_s": (median(rec.cycles), "s"),
        "trace.throughput_per_s": (rec.units / rec.op_time, "1/s"),
        "spark.gap_s": (median([r["gap_s"] for r in tracer.ops]), "s"),
    }
    for op in SPARK_OPS:
        recs = tracer.op_records(op)
        for k, unit in SPARK_COUNTS.items():
            out[f"spark.{op}.{k}"] = (
                median([r[k] for r in recs]) if recs else 0, unit
            )
        for k in SPARK_TIMES:
            if recs:
                out[f"spark.{op}.{k}"] = (median([r[k] for r in recs]), "s")
    fracs = {}
    for name in rec.lat:
        cov = tracer.coverage(name, entry_spans.get(name))
        if cov is not None:
            fracs[name] = cov
            out[f"trace.{name}.covered_frac"] = (cov, "ratio")
    out["trace.covered_frac_min"] = (min(fracs.values()), "ratio")
    return out


def stop_spark(spark: Any) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive us
            proc.kill()
            proc.wait()
