"""The E-T-L part of the ``batch`` workload: one pass of
``plans.etl.run_etl``.

A pass reads every lineitem row, joins six ways, cleans, caches the shared
prefix and writes the four parquet sinks; scan, join, shuffle and the writes
dominate and planning is negligible. The measured loop calls ``run_etl``
itself, traced or not. In a traced run the pass is one ``plans.etl`` span,
and each sink write inside it becomes a ``sources.writers`` child span,
timed by Spark (the SQL executions of the monitoring REST API, read once
after the loop). After the measured loop a separate diagnostic pass times
(untraced) the pieces ``run_etl`` is made of, each called alone:
``build_raw_ratings`` and ``CLEAN_PREFIX`` materialized to a no-op sink, and
``plans.pipeline.fan_out``. The check
compares every pass's sinks with the registered ``etl_*`` oracles.
"""

from __future__ import annotations

import glob
import os
import time

from perfbench import oracle
from perfbench.metrics import median
from perfbench.tracer import write_seconds

SINKS = ("dim_customers", "dim_books", "fact_ratings", "top100_books")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class EtlJob:
    TABLES = ("region", "nation", "customer", "part", "orders", "lineitem")

    def __init__(self, ctx) -> None:
        from bookstore_aws_lakehouse_spark.queries_etl import ETL_MIN_RATINGS

        self.min_ratings = ETL_MIN_RATINGS
        self.rows = ctx.rows("lineitem")
        self.passes = 0
        self.traced: list[tuple] = []  # (output directory, run_etl span)

    def setup(self, ctx, data_dir: str) -> None:
        from bookstore_aws_lakehouse_spark.catalog import load_tables

        with ctx.span("catalog", "load_tables"):
            load_tables(ctx.spark, data_dir, self.TABLES)

    def run(self, ctx) -> str:
        """One pass into a fresh output directory; returns the directory."""
        from bookstore_aws_lakehouse_spark.plans.etl import run_etl

        self.passes += 1
        out = os.path.join(ctx.work_dir, "mart", f"pass-{self.passes}")
        with ctx.span("plans.etl", "run_etl") as span:
            run_etl(ctx.spark, ctx.data_dir, out, min_ratings=self.min_ratings)
        if span is not None:
            self.traced.append((out, span))  # its sink spans come at the end
        return out

    def _add_sink_spans(self, ctx) -> None:
        """A ``sources.writers`` span per sink write of each traced pass,
        as a child of the pass's ``run_etl`` span."""
        writes = write_seconds(ctx.spark.sparkContext)
        for out, span in self.traced:
            for name in SINKS:
                start, seconds = writes[f"{out}/{name}"]
                ctx.tracer.add_span("sources.writers", f"sink.{name}",
                                    start, start + seconds, span)

    def check(self, ctx, outs: list[str]) -> list[str | None]:
        """An error message per pass, None where every sink matches."""
        from bookstore_aws_lakehouse_spark.registry import ORACLE

        con = oracle.connect(ctx.data_dir)
        want_counts = {
            name: con.execute(f"SELECT count(*) FROM ({ORACLE['etl_' + name]})").fetchone()[0]
            for name in SINKS if name != "top100_books"
        }
        want_top = con.execute(ORACLE["etl_top100_books"]).fetchall()
        errors = []
        for out in outs:
            bad = []
            for name in SINKS:
                files = os.path.join(out, name, "*.parquet")
                if not glob.glob(files):
                    bad.append(name)
                elif name == "top100_books":
                    got = con.execute(
                        "SELECT isbn, book_title, average_rating, total_ratings "
                        f"FROM read_parquet('{files}')").fetchall()
                    if not oracle.rows_equal(got, want_top, ordered=False):
                        bad.append(name)
                elif con.execute(f"SELECT count(*) FROM read_parquet('{files}')"
                                 ).fetchone()[0] != want_counts[name]:
                    bad.append(name)
            errors.append(f"E-T-L sinks differ from the oracle: {bad}" if bad else None)
        con.close()
        return errors

    def layer_metrics(self, ctx, last_out: str, pass_s: list[float]) -> dict:
        """The traced passes' numbers (``pass_s``: their seconds) plus the
        diagnostic pass, timed here rather than traced so its calls stay
        apart from the passes'."""
        from bookstore_aws_lakehouse_spark.plans.etl import (
            CLEAN_PREFIX,
            books_dimension,
            build_raw_ratings,
            customers_dimension,
            ratings_fact,
            top100_books,
        )
        from bookstore_aws_lakehouse_spark.plans.pipeline import fan_out

        self._add_sink_spans(ctx)
        spark = ctx.spark
        raw_s = _seconds(lambda: _noop(build_raw_ratings(spark, ctx.data_dir)))
        clean = CLEAN_PREFIX.run(build_raw_ratings(spark, ctx.data_dir))
        clean_s = _seconds(lambda: _noop(clean))
        fan_out_s = _seconds(lambda: fan_out(clean, {
            "dim_customers": customers_dimension,
            "dim_books": books_dimension,
            "fact_ratings": ratings_fact,
            "top100_books": lambda df: top100_books(df, self.min_ratings),
        }, cache=True))
        clean.unpersist()
        sinks = {n: median(ctx.tracer.durations(f"sources.writers.sink.{n}"))
                 for n in SINKS}
        run_etl_s = median(pass_s)
        out = {
            "plans.etl.run_etl_s": run_etl_s,
            "plans.etl.build_raw_ratings_s": raw_s,
            "plans.etl.clean_prefix_s": clean_s,
            "plans.etl.cache_saving_ratio": (raw_s + clean_s + sum(sinks.values())) / run_etl_s,
            "plans.pipeline.fan_out_s": fan_out_s,
            "sources.writers.bytes_out": sum(
                os.path.getsize(p) for n in SINKS
                for p in glob.glob(os.path.join(last_out, n, "*.parquet"))),
            "etl.rows_per_s": self.rows / run_etl_s,
        }
        for name, seconds in sinks.items():
            out[f"sources.writers.sink_s.{name}"] = seconds
        return out
