"""Pipeline runner (SURVEY §2.11: C2).

``DataFrame -> DataFrame`` callables chained with ``DataFrame.transform`` —
each step appends logical-plan nodes, and Catalyst optimizes the *whole*
composed plan (e.g. collapsing adjacent Projects from separate steps into
one). The reference's C1 name registry, which raises on unknown names
(`workflow/Transformer.py:105-123`), is ``registry.golden`` plus
``Engine.run``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial, reduce

from pyspark.sql import DataFrame

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """A linear chain of transforms applied via ``DataFrame.transform``.

    The reference ETL DAG (C2, `spark-main.py:12-27`) is a shared prefix with
    a 4-way fan-out; model that as one Pipeline for the prefix, ``.cache()``
    at the fan-out point (the reference recomputed the prefix 4× — SURVEY
    §7.1.7), then one Pipeline per branch.
    """

    steps: list[Transform] = field(default_factory=list)

    def then(self, step: Transform, **kwargs) -> "Pipeline":
        if kwargs:
            step = partial(step, **kwargs)
        return Pipeline(self.steps + [step])

    def run(self, df: DataFrame) -> DataFrame:
        return reduce(lambda acc, fn: acc.transform(fn), self.steps, df)


def fan_out(
    df: DataFrame,
    branches: dict[str, Transform | Pipeline],
    cache: bool = True,
) -> dict[str, DataFrame]:
    """C2 — evaluate several branches off one shared prefix.

    ``cache=True`` persists the prefix so the 4 sink jobs reuse it instead of
    re-running scan→expand→clean per sink (the reference's missed
    optimization, SURVEY §4). Caller unpersists via ``df.unpersist()``.
    """
    if cache:
        df = df.cache()
    out: dict[str, DataFrame] = {}
    for name, branch in branches.items():
        out[name] = branch.run(df) if isinstance(branch, Pipeline) else branch(df)
    return out
