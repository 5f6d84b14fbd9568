"""Engine facade smoke."""

from __future__ import annotations

import pytest

from bookstore_aws_lakehouse_spark.engine import Engine


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
