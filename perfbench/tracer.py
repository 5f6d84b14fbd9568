"""In-memory span tracer and Spark job counters for the traced run.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is patched. Each span has a
name, a layer, start and end times, its parent span and the id of the
operation it belongs to. A layer's self time is the sum of its spans'
durations minus the parts covered by their child spans.

With tracing off, :meth:`Tracer.span` returns a shared no-op context and
:meth:`Tracer.operation` tags no job group, so the untraced run pays no cost.
With it on, the tracer adds up the time its own bookkeeping takes
(``own_s``): span records, job-group tagging and the job counts.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

#: the engine layers a span may name, in report order
LAYERS = (
    "registry",
    "engine",
    "catalog",
    "spark",
    "plans.etl",
    "plans.pipeline",
    "sources.writers",
    "sources.snapshots",
    "operators.dedup",
    "operators.similarity",
)

_NULL = contextlib.nullcontext()


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


@dataclass
class OpJobs:
    """Spark work one operation caused, found through its job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stage_ids: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: dict[int, OpJobs] = {}
        self.own_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_op = 0

    def _own(self, since: float) -> None:
        """Count the time from ``since`` to now as the tracer's own."""
        spent = time.perf_counter() - since
        with self._lock:
            self.own_s += spent

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, name: str):
        """Context manager timing one call into ``layer``."""
        if not self.enabled:
            return _NULL
        return self._span(layer, name)

    @contextlib.contextmanager
    def _span(self, layer: str, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, f"{layer}.{name}", layer, 0.0, 0.0,
                      parent.id if parent else None,
                      getattr(self._local, "op_id", None))
            self.spans.append(sp)
        stack.append(sp)
        self._own(t0)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._own(sp.end)

    def add_span(self, layer: str, name: str, start: float, end: float,
                 parent: Span) -> None:
        """Record a span measured elsewhere (``perf_counter`` seconds), as
        a child of ``parent``."""
        with self._lock:
            self.spans.append(Span(len(self.spans), f"{layer}.{name}", layer,
                                   start, end, parent.id, parent.op_id))

    # -- operations and their Spark jobs ---------------------------------------
    @contextlib.contextmanager
    def operation(self, spark):
        """Tag the Spark jobs of one operation with their own job group
        (traced run only) and record the jobs, stages and tasks they ran."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            op_id = self._next_op
            self._next_op += 1
        sc = spark.sparkContext
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, group)
        self._local.op_id = op_id
        self._own(t0)
        try:
            yield op_id
        finally:
            t1 = time.perf_counter()
            self._local.op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)  # end of the group
            self.ops[op_id] = _jobs_of_group(sc, group)
            self._own(t1)

    # -- reports -------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.layer] += (sp.end - sp.start) - child_time[sp.id]
        return dict(out)

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for sp in self.spans:
            out[sp.layer] += 1
        return dict(out)

    def durations(self, name: str) -> list[float]:
        """Seconds of every span with this full name, in start order."""
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans],
                 "ops": {k: asdict(v) for k, v in self.ops.items()}},
                f,
            )


def _jobs_of_group(sc, group: str) -> OpJobs:
    tracker = sc.statusTracker()
    out = OpJobs()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out.jobs += 1
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        stage = tracker.getStageInfo(sid)
        if stage is not None:
            out.tasks += stage.numTasks
            out.stage_ids.append(sid)
    out.stages = len(out.stage_ids)
    return out


def _rest(sc, endpoint: str) -> list[dict]:
    """One call of Spark's monitoring REST API for this application (needs
    the UI, which only the traced run enables); [] without the UI."""
    base = sc.uiWebUrl
    if not base:
        return []
    port = base.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def stage_io_bytes(sc) -> dict[int, tuple[int, int]]:
    """``stage id -> (input bytes, shuffle write bytes)`` from the REST API."""
    rows = _rest(sc, "stages")
    out: dict[int, tuple[int, int]] = {}
    for r in rows:
        prev = out.get(r["stageId"], (0, 0))
        out[r["stageId"]] = (
            prev[0] + int(r.get("inputBytes", 0)),
            prev[1] + int(r.get("shuffleWriteBytes", 0)),
        )
    return out


def write_seconds(sc) -> dict[str, tuple[float, float]]:
    """``output path -> (start, seconds)`` of every completed SQL write the
    application ran, from the REST API's SQL executions; ``start`` is
    ``perf_counter`` seconds. A path written twice keeps its last write."""
    offset = time.time() - time.perf_counter()
    out = {}
    for r in _rest(sc, "sql?details=true&planDescription=true&length=100000"):
        paths = re.findall(r"\[path=([^\],]+)\]", r.get("planDescription", ""))
        if r.get("status") != "COMPLETED" or not paths:
            continue
        submitted = datetime.strptime(r["submissionTime"], "%Y-%m-%dT%H:%M:%S.%f%Z")
        start = submitted.replace(tzinfo=timezone.utc).timestamp() - offset
        out[paths[-1]] = (start, r["duration"] / 1e3)
    return out
