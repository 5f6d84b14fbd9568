"""``dashboard``: BI clients opening the dashboard again and again.

A closed loop of two client threads in one process over the sf0.01 fixture
(60,000 lineitem rows): results are small and a request takes about half a
second on 4 cores, so the per-request front end and job scheduling carry
much of its time. (On sf0.1 a run takes a third longer and spreads more from
run to run.)

Each client loads the dashboard again and again: the four
``catalog.DASHBOARD_VIEWS`` queries and a region drill-down, each sent
through ``Engine.sql`` and collected before the next, as a BI tool fills
the dashboard's sheets. One operation is one such request. Literals (HAVING threshold,
LIMIT, region) come from a small seeded set, so identical requests recur as
they do when many users open the same dashboard. Every result is checked
against DuckDB running the same SQL over the same parquet files.
"""

from __future__ import annotations

import random
import re
import threading
import time

from perfbench import oracle
from perfbench.harness import Op

CLIENTS = 2
#: sets the rounds per run: one per ROUND_SECONDS of the window, 3 at 8 s (a
#: round takes 2.5 to 3 s on 4 cores)
ROUND_SECONDS = 2.5

DRILLDOWN = """
    SELECT n_name, c_mktsegment, count(*) AS customer_count
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name, c_mktsegment
    ORDER BY customer_count DESC, n_name, c_mktsegment LIMIT 10
"""


def _templates() -> dict[str, str]:
    from bookstore_aws_lakehouse_spark.catalog import DASHBOARD_VIEWS

    return {**DASHBOARD_VIEWS, "drilldown_region": DRILLDOWN}


def _bind(sql: str, threshold: int, limit: int, region: str) -> str:
    sql = " ".join(sql.split())
    sql = re.sub(r"HAVING count\(\*\) >= \d+", f"HAVING count(*) >= {threshold}", sql)
    sql = re.sub(r"LIMIT \d+", f"LIMIT {limit}", sql)
    return re.sub(r"r_name = '[A-Z ]+'", f"r_name = '{region}'", sql)


class Dashboard:
    CLIENTS = CLIENTS
    SF = "sf0.01"

    def __init__(self, ctx) -> None:
        import pyarrow.parquet as pq

        rng = random.Random(ctx.seed)
        templates = list(_templates().items())
        #: p50_ms is taken over whole dashboard loads: the median of single
        #: requests falls between the query kinds and jumps between them
        self.UNIT_OPS = len(templates)
        thresholds = rng.sample([15, 20, 25, 30, 35], 2)
        limits = rng.sample([5, 10, 20, 50, 100], 2)
        names = pq.read_table(f"{ctx.data_dir}/region.parquet", columns=["r_name"])
        regions = rng.sample(sorted(names.column("r_name").to_pylist()), 2)
        # per client, a stream of dashboard loads; the clients start on
        # different sheets so they do not run the same query in lockstep
        self.streams = [
            [
                [(name, _bind(sql, rng.choice(thresholds), rng.choice(limits),
                              rng.choice(regions)))
                 for name, sql in templates[c:] + templates[:c]]
                for _ in range(1_000)
            ]
            for c in range(CLIENTS)
        ]
        self.engine = None

    def setup(self, ctx, data_dir: str) -> None:
        from bookstore_aws_lakehouse_spark.catalog import register_dashboard_views
        from bookstore_aws_lakehouse_spark.engine import Engine

        with ctx.span("engine", "init"):
            self.engine = Engine(spark=ctx.spark, sf_dir=data_dir)
        with ctx.span("catalog", "register_dashboard_views"):
            register_dashboard_views(ctx.spark, data_dir)

    def warmup(self, ctx) -> None:
        """One round of loads on the small fixture of the cold set-up: the
        first run of each query pays for code generation and JIT."""
        self._clients(ctx, lambda done: done >= 1)

    def _load(self, ctx, load: list[tuple[str, str]]) -> list[Op]:
        """One dashboard load: an operation per request, whose result is
        ``(sql, rows)``."""
        return [self._request(ctx, name, sql) for name, sql in load]

    def _request(self, ctx, name: str, sql: str) -> Op:
        with ctx.operation():
            t0 = time.perf_counter()
            try:
                with ctx.span("engine", "sql"):
                    df = self.engine.sql(sql)
                with ctx.span("spark", "collect"):
                    rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # reported as a failed request
                return Op(name, time.perf_counter() - t0, (sql, None), repr(exc), False)
            latency = time.perf_counter() - t0
        if ctx.tracer.enabled:
            # the two front-end steps inside Engine.sql, each timed alone
            from bookstore_aws_lakehouse_spark.catalog import register_views

            with ctx.span("catalog", "register_views"):
                register_views(ctx.spark, ctx.data_dir)
            with ctx.span("spark", "analyze"):
                ctx.spark.sql(sql)
        return Op(name, latency, (sql, rows))

    def measure(self, ctx, seconds: float) -> list[Op]:
        """A fixed number of rounds: one per ROUND_SECONDS of the window, so
        every run of a seed sends the same requests."""
        rounds = max(1, int(seconds // ROUND_SECONDS))
        return self._clients(ctx, lambda done: done >= rounds)

    def _clients(self, ctx, stop) -> list[Op]:
        """Run the client threads until ``stop(loads done per client)``.

        The clients start each load together (a barrier), so the queries
        that run side by side are the same in every run."""
        results: list[list[Op]] = [[] for _ in range(CLIENTS)]
        errors: list[BaseException] = []
        state = {"done": 0, "stop": False}

        def next_round() -> None:
            state["stop"] = stop(state["done"])
            state["done"] += 1

        barrier = threading.Barrier(CLIENTS, action=next_round)

        def client(c: int) -> None:
            try:
                for load in self.streams[c]:
                    barrier.wait()
                    if state["stop"]:
                        break
                    results[c].extend(self._load(ctx, load))
            except threading.BrokenBarrierError:
                pass  # the other client failed; its error is reported
            except BaseException as exc:
                errors.append(exc)
                barrier.abort()

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return [op for ops in results for op in ops]

    def check(self, ctx, ops: list[Op]) -> None:
        con = oracle.connect(ctx.data_dir)
        expected: dict[str, list] = {}
        for op in ops:
            if op.ok is False:
                continue
            sql, rows = op.result
            if sql not in expected:
                expected[sql] = con.execute(sql).fetchall()
            op.ok = oracle.rows_equal(rows, expected[sql])
            if not op.ok:
                op.error = f"result differs from DuckDB for: {sql}"
        con.close()

    def layer_metrics(self, ctx, ops) -> dict[str, float]:
        return {}
