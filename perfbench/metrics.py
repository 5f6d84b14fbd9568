"""Metric names, units and the statistics the benchmark reports.

``END_TO_END`` is printed by every workload in an untraced run and
``PER_LAYER`` by every workload in a traced run; a layer a workload does not
exercise reports 0. ``BENCHMARK.json`` lists the same names (a self-test
keeps the two in step).
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from perfbench.tracer import LAYERS

#: name -> unit; every workload reports all of them with --trace 0
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
    "rss_peak_mb": "MB",
    "ok_frac": "ratio",
}


#: name -> unit; every workload reports all of them with --trace 1
PER_LAYER: dict[str, str] = {
    "op.p50_ms": "ms",
    "op.tail_ms": "ms",
    "setup.cold_s": "s",
    "registry.load_all_s": "s",
    "engine.sql_ms": "ms",
    "catalog.register_views_ms": "ms",
    "catalog.register_dashboard_views_s": "s",
    "spark.analyze_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.input_bytes_per_op": "bytes",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "plans.etl.run_etl_s": "s",
    "plans.etl.build_raw_ratings_s": "s",
    "plans.etl.clean_prefix_s": "s",
    "plans.etl.cache_saving_ratio": "ratio",
    "plans.pipeline.fan_out_s": "s",
    "sources.writers.sink_s.dim_customers": "s",
    "sources.writers.sink_s.dim_books": "s",
    "sources.writers.sink_s.fact_ratings": "s",
    "sources.writers.sink_s.top100_books": "s",
    "sources.writers.bytes_out": "bytes",
    "etl.rows_per_s": "rows/s",
    "sources.snapshots.append_ms": "ms",
    "sources.snapshots.merge_ms": "ms",
    "sources.snapshots.delete_dv_ms": "ms",
    "sources.snapshots.vacuum_ms": "ms",
    "sources.snapshots.scan_plan_ms": "ms",
    "sources.snapshots.scan_exec_ms": "ms",
    "sources.snapshots.point_lookup_ms": "ms",
    "sources.snapshots.count_ms": "ms",
    "sources.snapshots.read_asof_ms": "ms",
    "sources.snapshots.files_scanned_frac": "ratio",
    "sources.snapshots.rows_rewritten_per_delta_row": "ratio",
    "sources.snapshots.manifest_bytes": "bytes",
    "sources.snapshots.files_live": "count",
    "sources.snapshots.versions": "count",
    "sources.snapshots.commit_retries": "count",
    "lake.commit_p50_ms": "ms",
    "lake.commit_tail_ms": "ms",
    "lake.read_p50_ms": "ms",
    "lake.read_tail_ms": "ms",
    "lake.space_amp": "ratio",
    "operators.dedup.minhash_band_pairs_s": "s",
    "operators.dedup.jaccard_pairs_s": "s",
    "operators.similarity.cosine_pairs_s": "s",
    "minhash.candidates": "count",
    "minhash.pairs_out": "count",
    "minhash.useful_ratio": "ratio",
    "jaccard.candidates": "count",
    "jaccard.pairs_out": "count",
    "jaccard.useful_ratio": "ratio",
    "cosine.candidates": "count",
    "cosine.pairs_out": "count",
    "cosine.useful_ratio": "ratio",
    "cur.pairs_out": "count",
    "cur.rows_per_s": "rows/s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    **{f"calls.{layer}": "count" for layer in LAYERS},
    "host.external_busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile that still has ten
    samples beyond it, but never below p90 (linearly interpolated), which is
    what a run of fewer than 100 samples gets."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return s[0], 90.0
    return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled in a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        stats = _proc_stats()
        total = 0
        for pid in process_tree(stats):
            rest = stats.get(pid)
            if rest is None:
                continue
            parent = stats.get(int(rest[1]))
            # the same virtual size as its parent: a child the JVM forked to
            # run a command, still sharing its address space before exec
            if pid != os.getpid() and parent is not None and rest[20] == parent[20]:
                continue
            total += int(rest[21]) * self._page
        self.peak_bytes = max(self.peak_bytes, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _proc_stats() -> dict[int, list[str]]:
    out = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after the last ')'
        out[int(ent)] = raw.rsplit(")", 1)[1].split()
    return out


def process_tree(stats: dict[int, list[str]] | None = None) -> list[int]:
    """This process and every process descending from it."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, rest in stats.items():
        children.setdefault(int(rest[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class LoadMeter:
    """Share of the machine's CPU capacity used by processes outside this
    benchmark's process tree since :meth:`start` — a diagnostic that tells
    a noisy neighbour apart from a regression."""

    def __init__(self) -> None:
        self.ncpu = os.cpu_count() or 1
        self.clk = os.sysconf("SC_CLK_TCK")
        self.start()

    @staticmethod
    def _host_busy() -> int:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        u, n, s, _idle, _iow, irq, sirq, steal = (int(x) for x in parts[1:9])
        return u + n + s + irq + sirq + steal

    @staticmethod
    def _own_busy() -> int:
        stats = _proc_stats()
        # utime, stime, cutime, cstime: reaped children count in the parent
        return sum(sum(int(x) for x in stats[p][11:15])
                   for p in process_tree(stats) if p in stats)

    def start(self) -> None:
        self.t0 = time.monotonic()
        self.host0 = self._host_busy()
        self.own0 = self._own_busy()

    def external_busy_frac(self) -> float:
        dt = time.monotonic() - self.t0
        ext = (self._host_busy() - self.host0) - (self._own_busy() - self.own0)
        return max(0.0, ext) / self.clk / (dt * self.ncpu) if dt > 0 else 0.0
