"""The benchmark's workloads, by name.

Each workload class names the fixture it reads (``SF``), derives its
literals and operation sequence from the seed in ``__init__`` and provides:

- ``setup(ctx, data_dir)``: the part of one set-up after the session is up
  (catalog work, table seeding) on the fixture in ``data_dir``;
- ``warmup(ctx)``: once after the cold set-up, on the small fixture it
  prepared;
- ``measure(ctx, seconds) -> list[Op]``: the measured loop;
- ``UNIT_OPS``: how many consecutive operations make one unit of the
  end-to-end ``p50_ms`` (a dashboard load, a batch pass);
- ``check(ctx, ops)``: set ``op.ok`` on every operation, outside the timed
  window;
- ``layer_metrics(ctx, ops)``: the workload's own per-layer numbers in a
  traced run.
"""

from perfbench.workloads.batch import Batch
from perfbench.workloads.dashboard import Dashboard

WORKLOADS = {
    "dashboard": Dashboard,
    "batch": Batch,
}
