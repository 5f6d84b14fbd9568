"""Engine facade smoke, its result cache, and the catalog loaders."""

from __future__ import annotations

import itertools
import os
import re
import shutil

import pytest

from bookstore_aws_lakehouse_spark.catalog import DASHBOARD_VIEWS
from bookstore_aws_lakehouse_spark.engine import Engine

_GROUPS = itertools.count()


def _jobs(spark, action):
    """``(action(), number of Spark jobs it ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"test_engine_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _lake_copy(sf_dir, tmp_path) -> str:
    out = str(tmp_path / "sf")
    shutil.copytree(sf_dir, out)
    return out


@pytest.fixture(scope="module")
def eng(spark, sf_smoke):
    return Engine(spark=spark, sf_dir=sf_smoke)


def test_table_and_sql(eng):
    assert eng.table("nation").count() == 25
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25


def test_run_registered_query(eng):
    df = eng.run("topk_books")
    assert df.columns == ["p_partkey", "p_name", "avg_rating", "total_ratings"]
    assert 0 < df.count() <= 100
    assert "HAVING" in (eng.oracle("topk_books") or "")


def test_unknown_query_raises(eng):
    with pytest.raises(ValueError, match="unknown query"):
        eng.run("nope")


def test_query_names_nonempty(eng):
    names = eng.query_names()
    assert "topk_books" in names and len(names) >= 80


def test_dashboard_views(spark, sf_smoke):
    """BI facade (SURVEY §3.3): ALL FOUR dashboard views must resolve and
    execute through the session catalog via spark.sql — the surface a BI
    client (Thrift Server in production) would attach to."""
    from bookstore_aws_lakehouse_spark.catalog import register_dashboard_views

    names = register_dashboard_views(spark, sf_smoke)
    assert len(names) == 4
    for name in names:
        df = spark.sql(f"SELECT * FROM {name}")
        assert df.columns, name
        assert df.count() > 0, name
    assert spark.table("dash_top10_countries").count() == 10
    # re-registration is idempotent (CREATE OR REPLACE)
    assert register_dashboard_views(spark, sf_smoke) == names


def test_ctas_via_sql(spark, sf_smoke):
    """CREATE TABLE AS SELECT through the session catalog (the SQL-first
    way to publish a mart table)."""
    from bookstore_aws_lakehouse_spark.catalog import register_views

    register_views(spark, sf_smoke)
    spark.sql("DROP TABLE IF EXISTS mart_nation_counts")
    spark.sql(
        """
        CREATE TABLE mart_nation_counts USING parquet AS
        SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey
        """
    )
    assert spark.table("mart_nation_counts").count() == 5
    spark.sql("DROP TABLE mart_nation_counts")


def test_threads_share_one_engine(eng, sf_smoke):
    """Four client threads send the four dashboard queries through one
    Engine at once, each in its own order; every result matches DuckDB."""
    import threading

    from bookstore_aws_lakehouse_spark.catalog import DASHBOARD_VIEWS
    from tests.oracle import compare, duckdb_connection

    queries = list(DASHBOARD_VIEWS.items())
    errors: list[BaseException] = []

    def client(c: int) -> None:
        con = duckdb_connection(sf_smoke)
        try:
            for name, sql in queries[c:] + queries[:c]:
                compare(eng.sql(sql), con, sql, name)
        except BaseException as exc:
            errors.append(exc)
        finally:
            con.close()

    threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[0]


def test_two_engines_on_one_session_keep_their_own_tables(
    spark, sf_smoke, sf_oracle, monkeypatch
):
    """Two Engines over different sf_dirs share one session's view names;
    driven from two threads, each always counts its own lineitem."""
    import threading
    import time

    import pyarrow.parquet as pq

    real_sql = spark.sql

    def late_sql(query, *args, **kwargs):
        # widen the gap between picking the views and analysing against them
        time.sleep(0.1)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", late_sql)
    engines = [Engine(spark=spark, sf_dir=d) for d in (sf_smoke, sf_oracle)]
    want = [pq.read_metadata(f"{e.sf_dir}/lineitem.parquet").num_rows for e in engines]
    assert want[0] != want[1]
    dfs: list[list] = [[], []]

    def client(i: int) -> None:
        # a DataFrame is bound to its tables at analysis: analysing in a
        # tight loop and collecting afterwards packs the view swaps densely
        for _ in range(20):
            dfs[i].append(engines[i].sql("SELECT count(*) FROM lineitem"))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    got = [[df.collect()[0][0] for df in dfs[i]] for i in range(2)]
    assert got == [[want[0]] * 20, [want[1]] * 20]


def test_refresh_rereads_a_regenerated_fixture(spark, sf_smoke, tmp_path):
    """sql() does not re-read the lake per call; refresh() picks up a
    table rewritten in place."""
    import shutil

    import pyarrow.parquet as pq

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(sf_smoke, sf_dir)
    e = Engine(spark=spark, sf_dir=sf_dir)
    assert e.sql("SELECT count(*) FROM nation").collect()[0][0] == 25
    path = f"{sf_dir}/nation.parquet"
    pq.write_table(pq.read_table(path).slice(0, 5), path)
    e.refresh()
    assert e.sql("SELECT count(*) FROM nation").collect()[0][0] == 5


def test_parallel_load_tables_matches_serial_reads(spark, sf_smoke):
    """load_tables on a fresh session reads every table as the serial
    loaders do on another fresh session, runs its reads in the caller's
    job group, and leaves one memo entry per table."""
    from bookstore_aws_lakehouse_spark import catalog

    serial_session = spark.newSession()
    serial = {
        name: catalog.load_events(serial_session, sf_smoke)
        if name == "events"
        else catalog.load_table(serial_session, sf_smoke, name)
        for name in catalog.TABLES
    }

    fresh = spark.newSession()
    assert getattr(fresh, catalog._TABLE_CACHE_ATTR, None) is None
    sc = spark.sparkContext
    sc.setJobGroup("test_parallel_load_tables", "parallel reads")
    try:
        parallel = catalog.load_tables(fresh, sf_smoke)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_parallel_load_tables")
    assert len(jobs) >= len(catalog.TABLES)

    assert list(parallel) == list(catalog.TABLES)
    for name in catalog.TABLES:
        assert parallel[name].schema == serial[name].schema, name
        assert parallel[name].count() == serial[name].count(), name
    memo = getattr(fresh, catalog._TABLE_CACHE_ATTR)
    assert sorted(memo) == sorted(
        (sf_smoke, catalog._EVENTS_NS if n == "events" else n)
        for n in catalog.TABLES
    )


def test_repeated_bounded_query_runs_no_job(spark, sf_smoke):
    """A repeated dashboard request is served from the Engine's result
    cache: no Spark job, DuckDB's answer, and nothing in Spark's
    CacheManager."""
    from tests.oracle import compare, duckdb_connection
    from tests.test_cache_residue import _cache_is_empty, _clear_cache

    _clear_cache(spark)
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = DASHBOARD_VIEWS["dash_top10_countries"]
    first, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs > 0
    again, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs == 0
    assert again == first
    con = duckdb_connection(sf_smoke)
    try:
        compare(e.sql(sql), con, sql, "dash_top10_countries")
    finally:
        con.close()
    assert _cache_is_empty(spark)


def test_rewritten_file_misses_with_and_without_refresh(spark, sf_smoke, tmp_path):
    """A file rewritten in place makes the next sql() run its job, before
    and after refresh(); after refresh() the new rows come back."""
    import pyarrow.parquet as pq

    sf_dir = _lake_copy(sf_smoke, tmp_path)
    e = Engine(spark=spark, sf_dir=sf_dir)
    sql = "SELECT count(*) FROM nation"
    assert e.sql(sql).collect()[0][0] == 25
    path = f"{sf_dir}/nation.parquet"
    pq.write_table(pq.read_table(path).slice(0, 5), path)
    _, jobs = _jobs(spark, lambda: e.sql(sql))
    assert jobs > 0
    pq.write_table(pq.read_table(path).slice(0, 3), path)
    e.refresh()
    rows, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs > 0
    assert rows[0][0] == 3


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT current_timestamp() AS t",
        "SELECT now() AS t",
        "SELECT current_date() AS d",
        "SELECT count(*) FROM nation WHERE n_regionkey <"
        " (SELECT count(*) FROM region WHERE current_date() > DATE'2000-01-01')",
    ],
)
def test_clock_queries_never_hit(spark, sf_smoke, sql):
    """Spark calls the clock functions deterministic; sql() still never
    serves their results again."""
    e = Engine(spark=spark, sf_dir=sf_smoke)
    e.sql(sql).collect()
    _, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs > 0


def test_scalar_subquery_misses_after_its_file_is_rewritten(spark, sf_smoke, tmp_path):
    """inputFiles() leaves out the files a scalar subquery reads; a
    rewrite of one still makes the query run again, even when it lives
    in another directory than the files inputFiles() names."""
    import pyarrow.parquet as pq

    other = tmp_path / "other"
    other.mkdir()
    path = str(other / "region.parquet")
    shutil.copy(f"{sf_smoke}/region.parquet", path)
    spark.read.parquet(path).createOrReplaceTempView("t_other_region")
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = (
        "SELECT count(*) FROM nation"
        " WHERE n_regionkey < (SELECT count(*) FROM t_other_region)"
    )
    assert e.sql(sql).collect()[0][0] == 25
    pq.write_table(pq.read_table(path).slice(0, 2), path)
    _, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs > 0
    spark.read.parquet(path).createOrReplaceTempView("t_other_region")
    assert e.sql(sql).collect()[0][0] == 10
    spark.catalog.dropTempView("t_other_region")


def test_file_added_beside_the_inputs_misses(spark, sf_smoke, tmp_path):
    """A part file added to a table directory changes the directory's
    fingerprint: once Spark re-lists the directory, the next request runs
    again and counts the new file."""
    import pyarrow.parquet as pq

    table = tmp_path / "nation_parts"
    table.mkdir()
    shutil.copy(f"{sf_smoke}/nation.parquet", table / "part-0.parquet")
    spark.read.parquet(str(table)).createOrReplaceTempView("t_nation_parts")
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = "SELECT count(*) FROM t_nation_parts"
    assert e.sql(sql).collect()[0][0] == 25
    pq.write_table(
        pq.read_table(table / "part-0.parquet").slice(0, 5), table / "part-1.parquet"
    )
    spark.catalog.refreshTable("t_nation_parts")
    rows, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs > 0
    assert rows[0][0] == 30
    spark.catalog.dropTempView("t_nation_parts")


def test_session_conf_change_misses(spark, sf_smoke):
    """A request under another session time zone runs again; back under
    the first one, the stored result is served."""
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = "SELECT count(*) FROM nation"
    e.sql(sql).collect()
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        _, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    finally:
        spark.conf.set(key, old)
    assert jobs > 0
    _, jobs = _jobs(spark, lambda: e.sql(sql).collect())
    assert jobs == 0


def test_two_engines_never_share_results(spark, sf_smoke):
    sql = "SELECT count(*) FROM lineitem"
    a, b = Engine(spark=spark, sf_dir=sf_smoke), Engine(spark=spark, sf_dir=sf_smoke)
    a.sql(sql).collect()
    _, jobs = _jobs(spark, lambda: b.sql(sql).collect())
    assert jobs > 0
    _, jobs = _jobs(spark, lambda: a.sql(sql).collect())
    assert jobs == 0


def test_result_cache_under_thread_stress(spark, sf_smoke, monkeypatch):
    """Eight client threads (more than the cores) share one Engine whose
    cache holds about three results, under a short switch interval, so
    stores and evictions interleave: every answer matches DuckDB, and the
    cache's byte count is the sum over the entries it holds."""
    import sys
    import threading

    from bookstore_aws_lakehouse_spark import engine as engine_mod
    from tests.oracle import duckdb_connection

    queries = [
        f"SELECT n_regionkey, count(*) AS n FROM nation WHERE n_nationkey >= {k}"
        " GROUP BY n_regionkey ORDER BY n_regionkey LIMIT 5"
        for k in range(6)
    ]
    con = duckdb_connection(sf_smoke)
    try:
        want = {q: con.execute(q).fetchall() for q in queries}
    finally:
        con.close()
    e = Engine(spark=spark, sf_dir=sf_smoke)
    e.sql(queries[0])
    monkeypatch.setattr(engine_mod, "_RESULT_CACHE_BYTES", 3 * e._results_bytes)
    errors: list[BaseException] = []

    def client(c: int) -> None:
        try:
            for _ in range(3):
                for q in queries[c % 6:] + queries[: c % 6]:
                    assert [tuple(r) for r in e.sql(q).collect()] == want[q], q
        except BaseException as exc:
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert e._results_bytes == sum(r.nbytes for r in e._results.values())
    assert e._results_bytes <= engine_mod._RESULT_CACHE_BYTES
    assert 0 < len(e._results) < len(queries)


def _variant(sql: str, having: int | None = None, limit: int | None = None) -> str:
    """``sql`` with another HAVING threshold and LIMIT."""
    if having is not None:
        sql = re.sub(r"HAVING count\(\*\) >= \d+", f"HAVING count(*) >= {having}", sql)
    if limit is not None:
        sql = re.sub(r"LIMIT \d+", f"LIMIT {limit}", sql)
    return sql


def test_variant_of_a_stored_core_runs_no_job(spark, sf_smoke):
    """After dash_top100_books, its HAVING 30 / LIMIT 5 variant is served
    from the stored aggregate: no Spark job, DuckDB's rows in DuckDB's
    order, and nothing in Spark's CacheManager."""
    from tests.oracle import compare, duckdb_connection
    from tests.test_cache_residue import _cache_is_empty, _clear_cache

    _clear_cache(spark)
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = DASHBOARD_VIEWS["dash_top100_books"]
    e.sql(sql).collect()
    variant = _variant(sql, having=30, limit=5)
    rows, jobs = _jobs(spark, lambda: e.sql(variant).collect())
    assert jobs == 0
    con = duckdb_connection(sf_smoke)
    try:
        want = con.execute(variant).fetchall()
        compare(e.sql(variant), con, variant, "dash_top100_books HAVING 30 LIMIT 5")
    finally:
        con.close()
    assert 0 < len(rows) <= 5
    assert [r["p_partkey"] for r in rows] == [w[0] for w in want]
    assert _cache_is_empty(spark)


def test_other_region_literal_runs_jobs(spark, sf_smoke):
    """A region literal is pushed into the core, so another region is
    another core: it runs its jobs and gets its own answer."""
    from tests.oracle import compare, duckdb_connection

    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = " ".join(DASHBOARD_VIEWS["dash_top10_states"].split())
    e.sql(sql).collect()
    europe = sql.replace("r_name = 'ASIA'", "r_name = 'EUROPE'")
    _, jobs = _jobs(spark, lambda: e.sql(europe).collect())
    assert jobs > 0
    con = duckdb_connection(sf_smoke)
    try:
        compare(e.sql(europe), con, europe, "dash_top10_states EUROPE")
    finally:
        con.close()


def test_core_over_the_cap_runs_the_whole_query(spark, sf_smoke, monkeypatch):
    """A core of more rows than the cap is remembered as too big; its
    queries, the first and a variant, run whole and match DuckDB."""
    from bookstore_aws_lakehouse_spark import engine as engine_mod
    from tests.oracle import compare, duckdb_connection

    monkeypatch.setattr(engine_mod, "_RESULT_MAX_ROWS", 10)
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = DASHBOARD_VIEWS["dash_top10_countries"]  # a core of 25 nations
    variant = _variant(sql, limit=5)
    con = duckdb_connection(sf_smoke)
    try:
        compare(e.sql(sql), con, sql, "dash_top10_countries")
        assert [r.answer for r in e._results.values()].count(None) == 1
        _, jobs = _jobs(spark, lambda: e.sql(variant).collect())
        assert jobs > 0
        compare(e.sql(variant), con, variant, "dash_top10_countries LIMIT 5")
    finally:
        con.close()


def test_rewritten_file_misses_the_core(spark, sf_smoke, tmp_path):
    """A variant whose core was stored before one of its files was
    rewritten in place runs its jobs again."""
    import pyarrow.parquet as pq

    sf_dir = _lake_copy(sf_smoke, tmp_path)
    e = Engine(spark=spark, sf_dir=sf_dir)
    sql = (
        "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
        " ORDER BY n DESC, n_regionkey LIMIT 4"
    )
    e.sql(sql).collect()
    _, jobs = _jobs(spark, lambda: e.sql(_variant(sql, limit=3)).collect())
    assert jobs == 0
    path = f"{sf_dir}/nation.parquet"
    pq.write_table(pq.read_table(path).slice(0, 5), path)
    _, jobs = _jobs(spark, lambda: e.sql(_variant(sql, limit=2)).collect())
    assert jobs > 0


def test_core_hit_keeps_sparks_order(spark, sf_smoke, tmp_path):
    """A core hit sorts in the driver with Spark's own ordering: DESC
    NULLS FIRST over NULL, NaN, infinities and ties, then a string key
    ASC NULLS LAST, gives the rows and row order Spark gives uncached. A
    filter under the sort is applied over the sorted rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nan, inf = float("nan"), float("inf")
    k = [1.5, None, nan, -inf, 1.5, inf, 0.0, None, nan, 1.5, -2.0, 0.0]
    s = ["b", "a", None, "c", "a", "d", None, "e", "f", None, "g", "h"]
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": k, "s": s, "v": list(range(len(k)))}), path)
    spark.read.parquet(path).createOrReplaceTempView("t_order")
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sql = (
        "SELECT k, s, v FROM t_order WHERE v >= {} "
        "ORDER BY k DESC NULLS FIRST, s ASC NULLS LAST LIMIT {}"
    )
    try:
        e.sql(sql.format(0, 12)).collect()
        for lo, limit in [(0, 12), (2, 7), (1, 3)]:
            query = sql.format(lo, limit)
            got, jobs = _jobs(spark, lambda: e.sql(query).collect())
            assert jobs == 0, query
            want = spark.sql(query).collect()
            assert repr([tuple(r) for r in got]) == repr([tuple(r) for r in want])
    finally:
        spark.catalog.dropTempView("t_order")


@pytest.mark.parametrize("limits", [(5, 5), (5, 7)], ids=["same_text", "same_core"])
def test_two_threads_missing_together_run_one_miss(spark, sf_smoke, monkeypatch, limits):
    """Two threads that miss together, on one request or on two requests
    over one core, run the jobs of one miss between them: the second
    waits for the first and is served its answer."""
    import threading

    from bookstore_aws_lakehouse_spark import engine as engine_mod

    sql = (
        "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment"
        " ORDER BY n DESC, c_mktsegment LIMIT {}"
    )
    alone = Engine(spark=spark, sf_dir=sf_smoke)
    want, one_miss = _jobs(spark, lambda: alone.sql(sql.format(limits[0])).collect())
    assert one_miss > 0

    both_analysed = threading.Barrier(2, timeout=60)
    real_analyze = engine_mod.analyze_sql

    def analyze_then_wait(*args):
        df = real_analyze(*args)
        both_analysed.wait()
        return df

    monkeypatch.setattr(engine_mod, "analyze_sql", analyze_then_wait)
    e = Engine(spark=spark, sf_dir=sf_smoke)
    sc = spark.sparkContext
    group = f"test_engine_{next(_GROUPS)}"
    got: list = [None, None]
    errors: list[BaseException] = []

    def client(i: int) -> None:
        sc.setJobGroup(group, group)
        try:
            got[i] = e.sql(sql.format(limits[i])).collect()
        except BaseException as exc:
            errors.append(exc)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == one_miss
    # customer has five market segments, so both LIMITs return them all
    assert got[0] == got[1] == want


def test_unbounded_query_stays_lazy(spark, sf_smoke):
    """A query with no row bound is not run inside sql()."""
    import pyarrow.parquet as pq

    e = Engine(spark=spark, sf_dir=sf_smoke)
    e.refresh()  # any cold table read happens here
    df, jobs = _jobs(spark, lambda: e.sql("SELECT * FROM lineitem"))
    assert jobs == 0
    assert df.count() == pq.read_metadata(f"{sf_smoke}/lineitem.parquet").num_rows


@pytest.mark.parametrize("ts_type", ["us", "us_utc", "ns"])
def test_event_loaders_leave_session_conf_alone(spark, sf_smoke, tmp_path, ts_type):
    """Under a non-UTC session, load_tables, load_events and
    read_events_stream change no session conf and deliver ts as DuckDB's
    epoch_ns(ts), whether the file stores naive micros or UTC micros. A
    nanosecond file keeps its sub-microsecond part, which DuckDB reads
    away, so that case is checked against the file's own integers."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bookstore_aws_lakehouse_spark.catalog import load_events, load_tables
    from bookstore_aws_lakehouse_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    sf_dir = _lake_copy(sf_smoke, tmp_path)
    path = f"{sf_dir}/events.parquet"
    table = pq.read_table(path)
    i = table.schema.get_field_index("ts")
    if ts_type == "us":
        want = duckdb.sql(
            f"SELECT event_id, epoch_ns(ts) FROM read_parquet('{path}')"
            " ORDER BY event_id"
        ).fetchall()
    else:
        ns = pc.add(table["ts"].cast(pa.timestamp("ns")).cast(pa.int64()), 7)
        if ts_type == "us_utc":
            ts = table["ts"].cast(pa.timestamp("us", tz="UTC"))
        else:
            ts = ns.cast(pa.timestamp("ns"))
        os.remove(path)
        pq.write_table(table.set_column(i, "ts", ts), path)
        if ts_type == "us_utc":
            want = duckdb.sql(
                f"SELECT event_id, epoch_ns(ts) FROM read_parquet('{path}')"
                " ORDER BY event_id"
            ).fetchall()
        else:
            want = sorted(zip(table["event_id"].to_pylist(), ns.to_pylist()))

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        before = spark.conf.getAll
        events = load_tables(spark, sf_dir, ("events", "nation"))["events"]
        assert load_events(spark, sf_dir) is events
        stream = read_events_stream(spark, sf_dir)
        run_available_now(
            stream.select("event_id", "ts"), f"t_events_{ts_type}", output_mode="append"
        )
        assert spark.conf.getAll == before
        got = events.select("event_id", "ts").orderBy("event_id").collect()
        assert [tuple(r) for r in got] == want
        streamed = spark.table(f"t_events_{ts_type}").orderBy("event_id").collect()
        assert [tuple(r) for r in streamed] == want
    finally:
        spark.conf.set(key, old)
