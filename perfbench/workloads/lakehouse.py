"""The table-maintenance part of the ``batch`` workload: a fixed, seeded
cycle of writes and reads on a snapshot table (``sources.snapshots``).

The table is seeded from lineitem, range-clustered on ``l_orderkey`` with
manifest stats on that column. A cycle has twelve operations: writes
(``snapshot_append``, ``snapshot_merge``, ``snapshot_delete_dv``,
``vacuum``) mixed with reads (``snapshot_scan`` range reads,
``snapshot_point_lookup``, ``snapshot_count``, ``snapshot_read_asof``).
Each batch pass runs the next cycle, so every run sends the same mix and the
table grows the same way. The table is seeded from the sf0.01 fixture
(60,000 rows). The literals and the delta rows come from the seed, so every
run of a seed leaves the same table.

The check replays the executed sequence on a DuckDB model of the table:
every read's row count and the final table's order-insensitive hash must
match.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

from perfbench import oracle
from perfbench.harness import Op
from perfbench.metrics import median, tail

COLUMNS = ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
           "l_quantity", "l_extendedprice", "l_returnflag")
KEYS = ["l_orderkey", "l_linenumber"]
CYCLE = ("scan", "point_lookup", "append", "count", "scan", "merge",
         "read_asof", "point_lookup", "delete_dv", "scan", "count", "vacuum")
WRITES = frozenset({"append", "merge", "delete_dv", "vacuum"})
SEED_FILES = 8
#: versions vacuum keeps; read_asof looks back two writes, so it stays readable
KEEP_VERSIONS = 4
MAX_CYCLES = 100
APPEND_ROWS = 200
MERGE_ROWS = 100


class LakehouseJob:
    KINDS = frozenset(CYCLE)

    def __init__(self, ctx) -> None:
        import pyarrow.parquet as pq

        rng = random.Random(ctx.seed)
        keys = pq.read_table(os.path.join(ctx.data_dir, "lineitem.parquet"),
                             columns=KEYS).to_pandas()
        n_orders = int(keys.l_orderkey.max()) + 1
        next_key = n_orders  # appends extend the key range upwards
        self.specs = []
        for cyc in range(MAX_CYCLES):
            for kind in CYCLE:
                if kind == "scan":
                    lo = rng.randrange(n_orders)
                    spec = (lo, lo + max(1, n_orders // 100))
                elif kind == "point_lookup":
                    spec = rng.randrange(n_orders)
                elif kind == "append":
                    spec = [self._row(rng, next_key + i // 4, i % 4 + 1)
                            for i in range(APPEND_ROWS)]
                    next_key += APPEND_ROWS // 4
                elif kind == "merge":
                    picks = keys.iloc[rng.sample(range(len(keys)), MERGE_ROWS * 4 // 5)]
                    spec = [self._row(rng, int(k), int(n))
                            for k, n in zip(picks.l_orderkey, picks.l_linenumber)]
                    spec += [self._row(rng, 10 * n_orders + cyc, n + 1)
                             for n in range(MERGE_ROWS - len(spec))]
                elif kind == "delete_dv":
                    lo = rng.randrange(n_orders)
                    spec = (lo, lo + 12)
                else:
                    spec = None
                self.specs.append((kind, spec))
        self.loops = 0
        self.table = self.traced_table = None
        self.schema = None
        self.history: list[float] = []
        self.trace_rows: list[tuple] = []

    @staticmethod
    def _row(rng: random.Random, orderkey: int, linenumber: int) -> tuple:
        quantity = float(rng.randint(1, 50))
        return (orderkey, linenumber, rng.randrange(20_000), rng.randrange(1_000),
                quantity, round(quantity * rng.uniform(900.0, 2100.0), 2),
                rng.choice("ANR"))

    # -- set-up ----------------------------------------------------------------
    def _seed_table(self, ctx, data_dir: str) -> None:
        from bookstore_aws_lakehouse_spark.sources.snapshots import (
            snapshot_overwrite,
            snapshot_read,
        )

        self.loops += 1
        self.table = os.path.join(ctx.work_dir, "lake", f"t{self.loops}")
        df = (ctx.spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
              .select(*COLUMNS)
              .repartitionByRange(SEED_FILES, "l_orderkey")
              .sortWithinPartitions("l_orderkey"))
        with ctx.span("sources.snapshots", "overwrite"):
            snapshot_overwrite(df, self.table, stats_cols=["l_orderkey"])
        self.schema = snapshot_read(ctx.spark, self.table).schema

    def setup(self, ctx, data_dir: str) -> None:
        self._seed_table(ctx, data_dir)

    # -- the measured loop -------------------------------------------------------
    def _run(self, ctx, kind: str, spec):
        """One operation; returns what the check compares."""
        from bookstore_aws_lakehouse_spark.sources import snapshots as snap

        spark, table = ctx.spark, self.table
        with ctx.span("sources.snapshots", kind):
            if kind == "scan":
                with ctx.span("sources.snapshots", "scan_plan"):
                    df = snap.snapshot_scan(spark, table, "l_orderkey", *spec)
                with ctx.span("sources.snapshots", "scan_exec"):
                    return len(df.collect()), df
            if kind == "point_lookup":
                return len(snap.snapshot_point_lookup(
                    spark, table, "l_orderkey", spec).collect()), None
            if kind == "count":
                return snap.snapshot_count(spark, table), None
            if kind == "read_asof":
                history = self.history
                ts = history[-3] if len(history) >= 3 else history[0]
                return snap.snapshot_read_asof(spark, table, ts).count(), None
            if kind == "vacuum":
                return snap.vacuum(spark, table, keep_last=KEEP_VERSIONS), None
            if kind == "delete_dv":
                return snap.snapshot_delete_dv(spark, table, column="l_orderkey",
                                               lo=spec[0], hi=spec[1]), None
            delta = spark.createDataFrame(spec, self.schema)
            if kind == "append":
                return snap.snapshot_append(delta, table), None
            return snap.snapshot_merge(delta, table, KEYS), None

    def start(self, ctx) -> None:
        """Begin a measured loop on the current table."""
        self.history = [time.time()]  # wall time after each write; [0] = seeded
        if ctx.tracer.enabled:
            self.traced_table = self.table
            self._live = self._live_files(ctx)

    def cycle(self, ctx, n: int) -> list[Op]:
        """Run cycle ``n`` of the sequence: an operation per step."""
        ops: list[Op] = []
        first = n * len(CYCLE)
        for i, (kind, spec) in enumerate(self.specs[first:first + len(CYCLE)], first):
            with ctx.operation():
                t0 = time.perf_counter()
                try:
                    value, df = self._run(ctx, kind, spec)
                except Exception as exc:  # reported as a failed operation
                    ops.append(Op(kind, time.perf_counter() - t0, (self.table, i),
                                  repr(exc), False))
                    continue
                latency = time.perf_counter() - t0
            if kind in WRITES and kind != "vacuum":
                self.history.append(time.time())
            if ctx.tracer.enabled:
                self.trace_rows.append(self._trace_counts(ctx, kind, spec, df))
            ops.append(Op(kind, latency, (self.table, i, value)))
        return ops

    def _live_files(self, ctx) -> dict[str, int]:
        """Rows per data file of the table's current version."""
        from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_files

        rows = snapshot_files(ctx.spark, self.table).select("file", "num_rows").collect()
        return {r.file: r.num_rows for r in rows}

    def _trace_counts(self, ctx, kind, spec, df) -> tuple:
        """(kind, files scanned, live files, rows written, delta rows)."""
        live = self._live_files(ctx)
        prev, self._live = self._live, live
        written = sum(n for f, n in live.items() if f not in prev)
        delta = len(spec) if kind in ("append", "merge") else 0
        scanned = len(df.inputFiles()) if df is not None else 0
        return kind, scanned, len(live), written, delta

    # -- correctness ---------------------------------------------------------------
    def check(self, ctx, ops: list[Op]) -> None:
        from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_read

        by_table: dict[str, list[Op]] = {}
        for op in ops:
            by_table.setdefault(op.result[0], []).append(op)
        for table, loop in by_table.items():
            con = oracle.connect(ctx.data_dir)
            con.execute(f"CREATE TABLE t AS SELECT {', '.join(COLUMNS)} FROM lineitem")
            counts = [con.execute("SELECT count(*) FROM t").fetchone()[0]]
            for op in loop:
                kind, spec = self.specs[op.result[1]]
                want = self._model(con, kind, spec, counts)
                if op.ok is False:
                    continue
                got = op.result[2]
                op.ok = kind in WRITES or got == want
                if not op.ok:
                    op.error = f"{kind} {spec}: {got} rows, model says {want}"
            final = snapshot_read(ctx.spark, table).select(*COLUMNS).toPandas()
            model = con.execute(f"SELECT {', '.join(COLUMNS)} FROM t").df()
            if _table_hash(final) != _table_hash(model):
                loop[-1].ok = False
                loop[-1].error = "final snapshot differs from the model"
            con.close()

    @staticmethod
    def _model(con, kind: str, spec, counts: list) -> int | None:
        """Apply one operation to the DuckDB model; return the row count a
        read should see."""
        if kind == "scan":
            return con.execute("SELECT count(*) FROM t WHERE l_orderkey BETWEEN ? AND ?",
                               list(spec)).fetchone()[0]
        if kind == "point_lookup":
            return con.execute("SELECT count(*) FROM t WHERE l_orderkey = ?",
                               [spec]).fetchone()[0]
        if kind == "count":
            return counts[-1]
        if kind == "read_asof":
            return counts[-3] if len(counts) >= 3 else counts[0]
        if kind == "vacuum":
            return None
        if kind in ("append", "merge"):
            con.register("delta", pd.DataFrame(spec, columns=list(COLUMNS)))
            if kind == "merge":
                con.execute("DELETE FROM t USING delta d WHERE t.l_orderkey = d.l_orderkey "
                            "AND t.l_linenumber = d.l_linenumber")
            con.execute("INSERT INTO t SELECT * FROM delta")
        else:
            con.execute("DELETE FROM t WHERE l_orderkey BETWEEN ? AND ?", list(spec))
        counts.append(con.execute("SELECT count(*) FROM t").fetchone()[0])
        return None

    # -- traced-run numbers ----------------------------------------------------------
    def layer_metrics(self, ctx, ops: list[Op]) -> dict[str, float]:
        from bookstore_aws_lakehouse_spark.sources.snapshots import (
            list_versions,
            snapshot_files,
        )

        spark, table = ctx.spark, self.traced_table
        files = snapshot_files(spark, table).select("size_bytes").collect()
        referenced = sum(r.size_bytes for r in files)
        on_disk = manifest_bytes = 0
        for root, _dirs, names in os.walk(table):
            for name in names:
                size = os.path.getsize(os.path.join(root, name))
                on_disk += size
                if os.path.basename(root) == "_manifests":
                    manifest_bytes += size
        writes = [op.latency_s * 1e3 for op in ops if op.kind in WRITES]
        reads = [op.latency_s * 1e3 for op in ops if op.kind not in WRITES]
        scans = [(s, live) for k, s, live, _w, _d in self.trace_rows if k == "scan"]
        written = sum(w for k, _s, _l, w, _d in self.trace_rows if k in ("append", "merge"))
        delta = sum(d for *_rest, d in self.trace_rows)
        versions = [op.result[2] for op in ops
                    if op.kind in ("append", "merge", "delete_dv") and op.ok]
        out = {
            "lake.commit_p50_ms": median(writes),
            "lake.commit_tail_ms": tail(writes)[0],
            "lake.read_p50_ms": median(reads),
            "lake.read_tail_ms": tail(reads)[0],
            "lake.space_amp": on_disk / referenced if referenced else 0.0,
            "sources.snapshots.files_scanned_frac":
                sum(s for s, _ in scans) / max(1, sum(live for _, live in scans)),
            "sources.snapshots.rows_rewritten_per_delta_row": written / max(1, delta),
            "sources.snapshots.manifest_bytes": manifest_bytes,
            "sources.snapshots.files_live": len(files),
            "sources.snapshots.versions": len(list_versions(spark, table)),
            "sources.snapshots.commit_retries": sum(
                1 for a, b in zip(versions, versions[1:]) if b > a + 1),
        }
        for kind in ("append", "merge", "delete_dv", "vacuum", "scan_plan",
                     "scan_exec", "point_lookup", "count", "read_asof"):
            out[f"sources.snapshots.{kind}_ms"] = 1e3 * median(
                ctx.tracer.durations(f"sources.snapshots.{kind}"))
        return out


def _table_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash of a table's rows."""
    df = df[list(COLUMNS)].astype({
        "l_orderkey": "int64", "l_linenumber": "int64", "l_partkey": "int64",
        "l_suppkey": "int64", "l_quantity": "float64", "l_extendedprice": "float64",
        "l_returnflag": "object",
    })
    return int(pd.util.hash_pandas_object(df, index=False).sum())
