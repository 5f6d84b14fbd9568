"""``batch``: the nightly batch by one client, back to back.

One pass is an E-T-L pass (``plans.etl``, ``plans.pipeline``,
``sources.writers``), a curation pass (``operators.dedup`` and
``operators.similarity``) and one cycle of writes and reads on the snapshot
table (``sources.snapshots``); see :mod:`perfbench.workloads.etl`,
:mod:`perfbench.workloads.curation` and :mod:`perfbench.workloads.lakehouse`.
Each part is an operation of its own (the E-T-L pass, the curation pass, each
step of the cycle), so the end-to-end ``p50_ms`` is the median time of a
whole pass. Scan, joins, shuffles, parquet writes, snapshot commits and the
near-duplicate operators dominate; per-request front-end costs do not
matter here, the opposite of ``dashboard``. Inputs are the sf0.01 fixture:
60,000 lineitem rows, 500 documents and 500 embeddings.

A run measures a fixed number of whole passes (one per ``PASS_SECONDS`` of
the window, at least one), so the count does not depend on how fast the
machine is.
"""

from __future__ import annotations

import time

from perfbench.harness import Op
from perfbench.workloads.curation import CurationJob
from perfbench.workloads.etl import EtlJob
from perfbench.workloads.lakehouse import CYCLE, MAX_CYCLES, LakehouseJob

#: sets the passes per run: one per PASS_SECONDS of the window, at least
#: one (a pass takes about 17 s on 4 cores, the first about 30 s)
PASS_SECONDS = 20.0


def _timed(ctx, kind: str, fn) -> Op:
    """One operation running ``fn()``; its result is what ``fn`` returns."""
    with ctx.operation():
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # reported as a failed operation
            return Op(kind, time.perf_counter() - t0, None, repr(exc), False)
        return Op(kind, time.perf_counter() - t0, result)


class Batch:
    CLIENTS = 1
    #: the operations of one pass: E-T-L, curation and a snapshot cycle
    UNIT_OPS = 2 + len(CYCLE)
    SF = "sf0.01"

    def __init__(self, ctx) -> None:
        self.etl = EtlJob(ctx)
        self.curation = CurationJob(ctx)
        self.lake = LakehouseJob(ctx)

    def setup(self, ctx, data_dir: str) -> None:
        self.etl.setup(ctx, data_dir)
        self.curation.setup(ctx, data_dir)
        self.lake.setup(ctx, data_dir)

    def warmup(self, ctx) -> None:
        """None: the measured pass runs in a JVM that has not run it yet, as
        a nightly job does, so it pays for code generation and JIT."""

    def measure(self, ctx, seconds: float) -> list[Op]:
        ops: list[Op] = []
        self.lake.start(ctx)
        for n in range(self.passes(seconds)):
            ops.append(_timed(ctx, "etl", lambda: self.etl.run(ctx)))
            ops.append(_timed(ctx, "curation", lambda: self.curation.run(ctx)))
            ops.extend(self.lake.cycle(ctx, n))
        return ops

    @staticmethod
    def passes(seconds: float) -> int:
        return max(1, min(MAX_CYCLES, int(seconds // PASS_SECONDS)))

    def check(self, ctx, ops: list[Op]) -> None:
        for kind, job in (("etl", self.etl), ("curation", self.curation)):
            done = [op for op in ops if op.kind == kind and op.ok is not False]
            for op, error in zip(done, job.check(ctx, [op.result for op in done])):
                op.ok = error is None
                op.error = error
        self.lake.check(ctx, [op for op in ops if op.kind in LakehouseJob.KINDS])

    def layer_metrics(self, ctx, ops) -> dict[str, float]:
        def of(kind):
            return [op for op in ops if op.kind == kind]

        out = self.etl.layer_metrics(
            ctx, of("etl")[-1].result, [op.latency_s for op in of("etl")])
        out.update(self.curation.layer_metrics(
            ctx, of("curation")[-1].result, [op.latency_s for op in of("curation")]))
        out.update(self.lake.layer_metrics(
            ctx, [op for op in ops if op.kind in LakehouseJob.KINDS]))
        return out
