"""Runs one workload: inputs, repeated set-up, the measured loop, the
correctness checks and the metric report."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench.metrics import (
    END_TO_END,
    PER_LAYER,
    LoadMeter,
    RssSampler,
    median,
    tail,
)
from perfbench.tracer import LAYERS, Tracer, stage_io_bytes

#: timed set-ups per run; setup_s is their median. A cold set-up starts the
#: JVM and the SparkContext and prepares the workload on the small fixture
#: (per-layer setup.cold_s), and the warm-up runs there too; then each timed
#: set-up opens a fresh session in the warm JVM (new catalog, new table
#: cache) and prepares the workload on its own fixture, which repeats far
#: better than the cold one. The registry's imports are cached after the
#: cold set-up, so only that one pays for them.
SETUPS = 3
#: pinned driver heap (-Xms = -Xmx, every page touched at start-up) so
#: resident memory repeats run to run
DRIVER_HEAP = "2g"
#: the small fixture of the cold set-up and the warm-up
WARMUP_SF = "sf0.001"

#: per-layer metric -> (span name, unit factor): the median span duration
SPAN_MEDIANS = {
    "engine.sql_ms": ("engine.sql", 1e3),
    "catalog.register_views_ms": ("catalog.register_views", 1e3),
    "catalog.register_dashboard_views_s": ("catalog.register_dashboard_views", 1.0),
    "spark.analyze_ms": ("spark.analyze", 1e3),
    "spark.collect_ms": ("spark.collect", 1e3),
}


@dataclass
class Op:
    """One measured operation and what its check needs."""

    kind: str
    latency_s: float
    result: object = None
    error: str | None = None
    ok: bool | None = None


@dataclass
class Context:
    seed: int
    cpus: int
    work_dir: str
    data_dir: str
    warm_dir: str
    tracer: Tracer
    spark: object = None

    def rows(self, table: str) -> int:
        """Row count of one input table, from its parquet footer."""
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(self.data_dir, f"{table}.parquet")).metadata.num_rows

    def operation(self):
        return self.tracer.operation(self.spark)

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)


def fixture_dir(sf: str) -> str:
    """The engine's read-only fixture at scale ``sf`` (``sf0.001`` or
    ``sf0.01``): a sibling of the directory ``Engine`` reads
    by default."""
    import inspect

    from bookstore_aws_lakehouse_spark.engine import Engine

    default = inspect.signature(Engine).parameters["sf_dir"].default
    return os.path.join(os.path.dirname(default), sf)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _session_conf(work_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        # the monitoring REST API is served by the UI: traced run only
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
        # -Xlog:disable keeps JVM warnings off stdout, which carries the result
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Xlog:disable -Djava.io.tmpdir={tmp}",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "127.0.0.1",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def _new_session(ctx: Context, trace: bool):
    if ctx.spark is not None:
        return ctx.spark.newSession()
    from bookstore_aws_lakehouse_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{ctx.cpus}]",
        shuffle_partitions=ctx.cpus,
        extra_conf=_session_conf(ctx.work_dir, trace),
    )


def shutdown_jvm() -> None:
    """Stop the Spark session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _spark_layer_metrics(ctx: Context) -> dict[str, float]:
    jobs = list(ctx.tracer.ops.values())
    n = max(1, len(jobs))
    io = stage_io_bytes(ctx.spark.sparkContext)
    return {
        "spark.jobs_per_op": sum(j.jobs for j in jobs) / n,
        "spark.stages_per_op": sum(j.stages for j in jobs) / n,
        "spark.tasks_per_op": sum(j.tasks for j in jobs) / n,
        "spark.input_bytes_per_op":
            sum(io.get(s, (0, 0))[0] for j in jobs for s in j.stage_ids) / n,
        "spark.shuffle_write_bytes_per_op":
            sum(io.get(s, (0, 0))[1] for j in jobs for s in j.stage_ids) / n,
    }


def unit_latencies(wl, ops: list[Op]) -> list[float]:
    """Seconds per unit of work the end-to-end p50 is taken over: one
    operation, or ``wl.UNIT_OPS`` consecutive operations summed."""
    n = wl.UNIT_OPS
    return [sum(op.latency_s for op in ops[i:i + n]) for i in range(0, len(ops), n)]


def run(workload: str, seed: int, seconds: float, trace: bool, work_dir: str,
        sf: str | None = None, spans_path: str | None = None,
        mutate=None) -> dict:
    """Run ``workload`` in a JVM of its own and return the result object
    the CLI prints; the JVM is stopped before this returns.

    ``sf`` overrides the workload's fixture (``cls.SF``). ``mutate(ops)``
    (self-tests only) may corrupt results before they are checked, to prove
    the checks catch it.
    """
    try:
        return _run(workload, seed, seconds, trace, work_dir, sf, spans_path, mutate)
    finally:
        shutdown_jvm()


def _run(workload, seed, seconds, trace, work_dir, sf, spans_path, mutate) -> dict:
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    tracer = Tracer(enabled=trace)
    ctx = Context(seed, _cpus(), work_dir, fixture_dir(sf or cls.SF),
                  fixture_dir(WARMUP_SF), tracer)
    wl = cls(ctx)
    load = LoadMeter()

    def set_up(label: str, data_dir: str) -> float:
        t0 = time.perf_counter()
        ctx.spark = _new_session(ctx, trace)
        from bookstore_aws_lakehouse_spark.registry import load_all

        with ctx.span("registry", "load_all"):
            load_all()
        wl.setup(ctx, data_dir)
        seconds = time.perf_counter() - t0
        log(f"set-up {label}: {seconds:.3f} s")
        return seconds

    with RssSampler() as rss:
        cold = set_up("cold", ctx.warm_dir)
        tracer.enabled = False
        t0 = time.perf_counter()
        wl.warmup(ctx)
        log(f"warm-up: {time.perf_counter() - t0:.3f} s")
        tracer.enabled = trace
        setups = [set_up(f"{i + 1}/{SETUPS}", ctx.data_dir) for i in range(SETUPS)]

        # a traced run measures the same loop as an untraced one, traced;
        # the tracer's own time in it gives the tracing overhead
        tracer.own_s = 0.0
        t0 = time.perf_counter()
        ops = wl.measure(ctx, seconds)
        wall = time.perf_counter() - t0
        tracer.enabled = False
        external = load.external_busy_frac()

    # the checks and the traced run's diagnostics run after the memory
    # sampler stops: rss_peak_mb covers set-up, warm-up and the measured loop
    if mutate is not None:
        mutate(ops)
    t0 = time.perf_counter()
    wl.check(ctx, ops)
    log(f"check: {time.perf_counter() - t0:.3f} s")
    if trace:
        layer = wl.layer_metrics(ctx, ops)
        layer.update(_spark_layer_metrics(ctx))
        if spans_path:
            tracer.dump(spans_path)

    failed = sum(1 for op in ops if not op.ok)
    for op in ops:
        if not op.ok:
            log(f"FAILED {op.kind}: {op.error or 'wrong result'}")
    lat = [s * 1e3 for s in unit_latencies(wl, ops)]
    tail_ms, tail_pct = tail(lat)
    log(f"{workload}: n={len(lat)} p50={median(lat):.1f} ms "
        f"tail=p{tail_pct:.1f} {tail_ms:.1f} ms wall={wall:.2f} s "
        f"external_busy={external:.3f}")
    for kind in sorted({op.kind for op in ops}):
        kind_lat = [op.latency_s * 1e3 for op in ops if op.kind == kind]
        log(f"  {kind:28s} n={len(kind_lat):3d} p50={median(kind_lat):9.1f} ms")

    if trace:
        self_s, calls = tracer.self_times(), tracer.calls()
        for name in LAYERS:
            layer[f"self_s.{name}"] = self_s.get(name, 0.0)
            layer[f"calls.{name}"] = calls.get(name, 0)
            if name in self_s:
                log(f"self time {name:22s} {self_s[name]:9.3f} s  calls {calls[name]}")
        for metric, (span, factor) in SPAN_MEDIANS.items():
            layer[metric] = factor * median(tracer.durations(span))
        busy = sum(op.latency_s for op in ops)
        layer["trace.overhead_frac"] = tracer.own_s / busy if busy else 0.0
        layer["trace.spans"] = len(tracer.spans)
        layer["op.p50_ms"] = median(lat)
        layer["op.tail_ms"] = tail_ms
        layer["setup.cold_s"] = cold
        layer["registry.load_all_s"] = sum(tracer.durations("registry.load_all"))
        layer["host.external_busy_frac"] = external
        log(f"tracing overhead: {tracer.own_s:.3f} s, "
            f"{layer['trace.overhead_frac']:.4f} of the operations' time")
        values, units = layer, PER_LAYER
    else:
        values = {
            "setup_s": median(setups),
            "p50_ms": median(lat),
            # closed-loop throughput: clients / mean latency (Little's law),
            # free of where the window happens to cut the last operations
            "ops_per_s": wl.CLIENTS / statistics.fmean(op.latency_s for op in ops),
            "rss_peak_mb": rss.peak_mb,
            "ok_frac": (len(ops) - failed) / len(ops),
        }
        units = END_TO_END
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    return {"correct": failed == 0, "attempted": len(ops),
            "failed": failed, "metrics": metrics}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
