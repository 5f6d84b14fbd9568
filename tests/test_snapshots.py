"""Manifest-versioned table format (sources/snapshots.py): commit
protocol, snapshot isolation, time travel, merge, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.sources.snapshots import (
    history,
    list_versions,
    snapshot_append,
    snapshot_merge,
    snapshot_overwrite,
    snapshot_read,
    vacuum,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "snap_table")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_overwrite_append_and_time_travel(spark, table):
    assert snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), table) == 1
    assert snapshot_append(_df(spark, [(3, "c")]), table) == 2
    assert snapshot_overwrite(_df(spark, [(9, "z")]), table) == 3

    latest = snapshot_read(spark, table)
    assert sorted(r.k for r in latest.collect()) == [9]
    v2 = snapshot_read(spark, table, version=2)
    assert sorted(r.k for r in v2.collect()) == [1, 2, 3]
    v1 = snapshot_read(spark, table, version=1)
    assert sorted(r.k for r in v1.collect()) == [1, 2]

    h = {r.version: r.operation for r in history(spark, table).collect()}
    assert h == {1: "overwrite", 2: "append", 3: "overwrite"}


@pytest.mark.parametrize("partition_col", [None, "p"])
def test_merge_upserts_and_preserves_prior_snapshot(spark, table, partition_col):
    def rows(kv):  # p is a function of the key, as the merge contract asks
        return spark.createDataFrame(
            [(k, k % 2, v) for k, v in kv], "k int, p int, v string"
        )

    snapshot_overwrite(
        rows([(1, "a"), (2, "b"), (3, "c")]), table,
        stats_cols=[partition_col] if partition_col else None,
    )
    delta = rows([(2, "B!"), (4, "d")])
    v = snapshot_merge(delta, table, key_cols=["k"], partition_col=partition_col)
    assert v == 2
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a", 2: "B!", 3: "c", 4: "d"}
    # idempotent: re-applying the same delta leaves the content unchanged
    snapshot_merge(delta, table, key_cols=["k"], partition_col=partition_col)
    assert sorted(snapshot_read(spark, table).collect()) == sorted(
        snapshot_read(spark, table, version=2).collect()
    )
    # snapshot isolation: version 1 still answers exactly as committed
    old = {r.k: r.v for r in snapshot_read(spark, table, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_merge_null_safe_keys(spark, table):
    snapshot_overwrite(
        spark.createDataFrame([(None, "old-null"), (1, "a")], "k int, v string"),
        table,
    )
    snapshot_merge(
        spark.createDataFrame([(None, "new-null")], "k int, v string"),
        table,
        key_cols=["k"],
    )
    got = {r.v for r in snapshot_read(spark, table).collect()}
    # the NULL key must be REPLACED, not duplicated (null-safe anti-join)
    assert got == {"new-null", "a"}


def test_reader_pinned_to_old_version_survives_merge(spark, table):
    """Rewriting a bare parquet directory in place deletes files a
    concurrent reader's plan references; the snapshot table must not."""
    snapshot_overwrite(_df(spark, [(i, str(i)) for i in range(100)]), table)
    pinned = snapshot_read(spark, table, version=1)  # plan built, not run
    snapshot_merge(_df(spark, [(5, "five")]), table, key_cols=["k"])
    # executing the OLD plan after the merge commit still works and still
    # sees the old values
    assert {r.v for r in pinned.filter(F.col("k") == 5).collect()} == {"5"}


def test_vacuum_drops_expired_versions_and_files(spark, table):
    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_overwrite(_df(spark, [(2, "b")]), table)
    snapshot_overwrite(_df(spark, [(3, "c")]), table)
    deleted = vacuum(spark, table, keep_last=1)
    assert deleted >= 2  # v1's and v2's data files are unreferenced
    assert list_versions(spark, table) == [3]
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [3]
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=1)


def test_append_shares_files_and_vacuum_keeps_shared(spark, table):
    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_append(_df(spark, [(2, "b")]), table)
    # v2 references v1's files; vacuuming to keep_last=1 must NOT delete
    # the shared files v2 still needs
    deleted = vacuum(spark, table, keep_last=1)
    assert deleted == 0
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [1, 2]


def test_empty_snapshot_keeps_schema(spark, table):
    empty = spark.createDataFrame([], "k int, v string")
    snapshot_overwrite(empty, table)
    back = snapshot_read(spark, table)
    assert back.columns == ["k", "v"]
    assert back.count() == 0


def test_version_race_retries(spark, table):
    """Simulate a lost race: pre-claim the version the writer wants."""
    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    # an interloper claims v2 by hand
    import json
    import os

    mdir = f"{table}/_manifests"
    with open(os.path.join(mdir, "v2.json"), "x") as f:
        json.dump(
            {
                "operation": "overwrite",
                "files": [],
                "schema": json.loads(_df(spark, [(0, "x")]).schema.json()),
                "committed_at_unix": 0.0,
                "version": 2,
            },
            f,
        )
    v = snapshot_overwrite(_df(spark, [(3, "c")]), table)
    assert v == 3  # skipped past the claimed version
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [3]


def test_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, str(tmp_path / "nope"))


# ---------------------------------------------------------------------------
# snapshot_merge: file-pruned merge with footer stats
# ---------------------------------------------------------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k int, p string, v string")


def test_partitioned_merge_values_and_file_pruning(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
    )

    base = _pdf(
        spark,
        [(1, "a", "x1"), (2, "a", "x2"), (3, "b", "x3"), (4, "c", "x4")],
    )
    snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    m1 = _read_manifest(spark, table, 1)
    assert m1.get("file_stats"), "footer stats must be collected locally"

    # delta touches ONLY partition 'a': update k=2, insert k=5
    delta = _pdf(spark, [(2, "a", "X2!"), (5, "a", "x5")])
    snapshot_merge(delta, table, key_cols=["k"], partition_col="p")
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "x1", 2: "X2!", 3: "x3", 4: "x4", 5: "x5"}

    # files holding only 'b'/'c' must be CARRIED (exact same paths)
    m2 = _read_manifest(spark, table, 2)
    carried = set(m1["files"]) & set(m2["files"])
    assert carried, "disjoint partitions' files must carry forward"
    for f in carried:
        lo, hi, _null = m1["file_stats"][f]["p"]
        assert lo is not None, "zero-row files must not be committed"
        assert not (lo <= "a" <= hi), "a touched file was wrongly carried"


def test_partitioned_merge_null_partition(spark, table):
    """A delta touching the NULL partition replaces its key there and
    keeps the NULL partition's unrelated keys (k=3)."""
    base = spark.createDataFrame(
        [(1, None, "null-old"), (2, "a", "x2"), (3, None, "null-other")],
        "k int, p string, v string",
    )
    snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    delta = spark.createDataFrame(
        [(1, None, "null-new")], "k int, p string, v string"
    )
    snapshot_merge(delta, table, key_cols=["k"], partition_col="p")
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "null-new", 2: "x2", 3: "null-other"}


def test_partitioned_merge_caps_partition_cardinality(spark, table, monkeypatch):
    """A key-grade partition column (unbounded cardinality) must raise a
    clear error before collecting anything unbounded to the driver, and
    leave the table unchanged. The cap is monkeypatched low so the test
    stays fast."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    seed = spark.createDataFrame([(0, 0, "v")], "k long, p long, v string")
    snapshot_merge(seed, table, key_cols=["k"], partition_col="p")
    monkeypatch.setattr(snap, "MAX_MERGE_PARTITIONS", 5)
    delta = spark.range(10).selectExpr("id AS k", "id AS p", "'x' AS v")
    with pytest.raises(ValueError, match="distinct 'p' values"):
        snapshot_merge(delta, table, key_cols=["k"], partition_col="p")
    assert list_versions(spark, table) == [1]
    # under the cap still works
    small = spark.range(3).selectExpr("id AS k", "id AS p", "'y' AS v")
    snapshot_merge(small, table, key_cols=["k"], partition_col="p")
    assert snapshot_read(spark, table).filter("v = 'y'").count() == 3


def test_partitioned_merge_without_stats_degrades_to_full(spark, table):
    """A table seeded by snapshot_overwrite has no file_stats: every file
    is treated as touched — full rewrite, correct values."""
    snapshot_overwrite(_pdf(spark, [(1, "a", "x1"), (3, "b", "x3")]), table)
    snapshot_merge(
        _pdf(spark, [(1, "a", "X1!")]), table, key_cols=["k"], partition_col="p"
    )
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "X1!", 3: "x3"}


def test_partitioned_merge_time_travel_preserved(spark, table):
    snapshot_merge(
        _pdf(spark, [(1, "a", "v1")]), table, key_cols=["k"], partition_col="p"
    )
    snapshot_merge(
        _pdf(spark, [(1, "a", "v2")]), table, key_cols=["k"], partition_col="p"
    )
    assert {r.v for r in snapshot_read(spark, table, version=1).collect()} == {"v1"}
    assert {r.v for r in snapshot_read(spark, table, version=2).collect()} == {"v2"}


def test_snapshot_scan_prunes_files_by_stats(spark, table):
    """Scan planning: a range predicate on a stats column must open only
    the files whose [min,max] can intersect — checked via inputFiles()."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_scan,
    )

    # p groups are CONTIGUOUS k ranges so each file's m-range is tight
    # and disjoint (m correlates with the clustering column)
    rows = [(i, f"p{i // 8}", i * 10) for i in range(64)]
    df = spark.createDataFrame(rows, "k int, p string, m int")
    snapshot_merge(
        df, table, key_cols=["k"], partition_col="p", stats_cols=["m"]
    )
    full = snapshot_read(spark, table)
    narrow = snapshot_scan(spark, table, "m", 0, 70)  # k in 0..7 only
    assert len(narrow.inputFiles()) < len(full.inputFiles())
    got = sorted(r.k for r in narrow.collect())
    want = sorted(
        r.k for r in full.filter("m >= 0 and m <= 70").collect()
    )
    assert got == want  # pruning never changes the answer


def test_snapshot_scan_without_stats_reads_everything(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_scan

    snapshot_overwrite(
        spark.createDataFrame([(1, 5), (2, 500)], "k int, m int"), table
    )  # overwrite records no stats
    got = sorted(r.k for r in snapshot_scan(spark, table, "m", 0, 10).collect())
    assert got == [1]


def test_schema_evolution_append_adds_column(spark, table):
    """Delta-style schema evolution: an append with a NEW column evolves
    the committed schema under explicit ``merge_schema=True`` (the
    mergeSchema opt-in); the latest snapshot reads old files with NULL
    for the added column (by-name parquet resolution), and time travel
    still serves the old schema."""
    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    wider = spark.createDataFrame([(2, "b", "fr")], "k int, v string, lang string")
    snapshot_append(wider, table, merge_schema=True)
    latest = snapshot_read(spark, table)
    assert latest.columns == ["k", "v", "lang"]
    got = {r.k: r.lang for r in latest.collect()}
    assert got == {1: None, 2: "fr"}
    old = snapshot_read(spark, table, version=1)
    assert old.columns == ["k", "v"]


# ---------------------------------------------------------------------------
# property: any sequence of partitioned merges equals the dict replay
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # key
        st.sampled_from(["a", "b", "c"]),               # partition
        st.text(alphabet="xyz", min_size=1, max_size=3) # value
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_batch, min_size=1, max_size=3))
def test_partitioned_merge_sequence_equals_dict_replay(spark, tmp_path_factory, batches):
    """Whatever the batch sequence, the final snapshot must equal a
    last-writer-wins dict keyed on k — including the partition-pruned
    carried-file paths. The partition value per key is pinned (k % 3's
    letter) to honor the functional-dependency contract."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_read,
    )

    letters = ["a", "b", "c"]
    table = str(tmp_path_factory.mktemp("prop") / "t")
    replay: dict[int, tuple[str, str]] = {}
    for batch in batches:
        # pin partition to a key-derived value; dedup keys within a batch
        # (last wins, matching a delta that was itself key-deduped)
        rows = {}
        for k, _p, v in batch:
            rows[k] = (k, letters[k % 3], v)
        df = spark.createDataFrame(list(rows.values()), "k int, p string, v string")
        snapshot_merge(df, table, key_cols=["k"], partition_col="p")
        for k, p, v in rows.values():
            replay[k] = (p, v)
    got = {r.k: (r.p, r.v) for r in snapshot_read(spark, table).collect()}
    assert got == replay


# ---------------------------------------------------------------------------
# optimistic concurrency: racing writers must not lose each other's commits
# ---------------------------------------------------------------------------


def test_concurrent_appends_lose_nothing(spark, table):
    """4 threads append disjoint rows concurrently. State-dependent
    commits that blindly took 'next free version' would drop a racer's
    files from the composed manifest; the conflict-aware append must
    land all 4 commits' rows in the final snapshot."""
    from concurrent.futures import ThreadPoolExecutor

    snapshot_overwrite(_df(spark, [(0, "base")]), table)

    def do_append(i: int) -> int:
        return snapshot_append(_df(spark, [(i, f"v{i}")]), table)

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(do_append, [1, 2, 3, 4]))
    assert sorted(versions) == [2, 3, 4, 5]  # every commit got its own version
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {0: "base", 1: "v1", 2: "v2", 3: "v3", 4: "v4"}


def test_concurrent_merges_serialize(spark, table):
    """2 threads merge different keys concurrently: the loser recomputes
    against the winner's snapshot, so both updates land."""
    from concurrent.futures import ThreadPoolExecutor

    snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), table)

    def do_merge(args):
        k, v = args
        return snapshot_merge(_df(spark, [(k, v)]), table, key_cols=["k"])

    with ThreadPoolExecutor(max_workers=2) as ex:
        versions = list(ex.map(do_merge, [(1, "A!"), (2, "B!")]))
    assert sorted(versions) == [2, 3]
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "A!", 2: "B!"}


def test_append_retries_across_interloper_commit(spark, table):
    """An interloper claiming the version mid-append must not be lost:
    the append re-reads and composes on top of the interloper's state."""
    import json as _json
    import os

    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(1, "a")]), table)

    real_claim = snap._claim_version
    fired = {"done": False}

    def claiming_interloper(spark_, table_, manifest, v):
        # before the append's first claim, an overwrite lands v2
        if not fired["done"] and manifest.get("operation") == "append":
            fired["done"] = True
            with open(os.path.join(table_, "_manifests", "v2.json"), "x") as f:
                _json.dump(
                    {
                        "operation": "overwrite",
                        "files": [],
                        "schema": _json.loads(
                            _df(spark, [(0, "x")]).schema.json()
                        ),
                        "committed_at_unix": 0.0,
                        "version": 2,
                    },
                    f,
                )
        return real_claim(spark_, table_, manifest, v)

    snap._claim_version = claiming_interloper
    try:
        v = snapshot_append(_df(spark, [(9, "nine")]), table)
    finally:
        snap._claim_version = real_claim
    assert v == 3
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    # the interloper's overwrite (files=[]) is the base the append saw on
    # retry: only the appended row survives — append applied to the TIP
    assert got == {9: "nine"}


def test_zorder_snapshot_scan_prunes_on_both_dimensions(spark, table):
    """End-to-end z-order × snapshot integration: a z-ordered layout
    committed with stats on both dimensions lets snapshot_scan
    whole-file-skip on EITHER predicate column."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_scan
    from bookstore_aws_lakehouse_spark.sources.writers import zorder_value

    n = 1 << 13
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.floor(F.col("id") / 64) % 128).alias("y"),
        F.col("id").alias("payload"),
    )
    z = zorder_value("x", "y").alias("_z")
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(16, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    snapshot_overwrite(clustered, table, stats_cols=["x", "y"])
    full = snapshot_read(spark, table)
    n_files = len(full.inputFiles())
    for col, lo, hi in [("x", 0, 7), ("y", 0, 15)]:
        pruned = snapshot_scan(spark, table, col, lo, hi)
        assert len(pruned.inputFiles()) < n_files, f"no pruning on {col}"
        got = sorted(r.payload for r in pruned.collect())
        want = sorted(
            r.payload
            for r in full.filter((F.col(col) >= lo) & (F.col(col) <= hi)).collect()
        )
        assert got == want


# ---------------------------------------------------------------------------
# conflict classes: disjoint partitioned merges rebase instead of recompute
# ---------------------------------------------------------------------------


def _racing_merge_setup(spark, table, racer_delta):
    """Monkeypatch scaffolding for the conflict-class tests: seed a 3-
    partition table, then arrange for ``racer_delta`` to be merged by an
    interloper immediately before the test's own merge claims its
    version (so the test merge ALWAYS loses the race and enters the
    conflict path). Returns (counts, restore) where counts['writes']
    tallies _write_data_files invocations — the recompute detector."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = _pdf(
        spark,
        [(1, "a", "a1"), (2, "b", "b2"), (3, "d", "d3")],
    )
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")

    real_claim = snap._claim_version
    real_write = snap._write_data_files
    state = {"fired": False}
    counts = {"writes": 0}

    def counting_write(df, table_, **kw):
        counts["writes"] += 1
        return real_write(df, table_, **kw)

    def racing_claim(spark_, table_, manifest, v):
        if not state["fired"] and manifest.get("operation") == "merge":
            state["fired"] = True  # guard BEFORE the recursive merge below
            snap.snapshot_merge(
                racer_delta, table_, key_cols=["k"], partition_col="p"
            )
        return real_claim(spark_, table_, manifest, v)

    snap._claim_version = racing_claim
    snap._write_data_files = counting_write

    def restore():
        snap._claim_version = real_claim
        snap._write_data_files = real_write

    return counts, restore


def test_partitioned_merge_rebases_provably_disjoint_racer(
    spark, table, monkeypatch
):
    """A racer merging partition 'd' (distinct hash bucket, stats-proven
    disjoint) commits first; our merge of partition 'b' must REBASE its
    already-written files onto the racer's tip — one data write, no
    recompute, no second read of the new files' footers — and both
    writers' rows land."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    real_stats = snap._collect_file_stats
    footer_reads = []

    def counting_stats(files, *a, **kw):
        footer_reads.append(tuple(files))
        return real_stats(files, *a, **kw)

    monkeypatch.setattr(snap, "_collect_file_stats", counting_stats)
    racer = _pdf(spark, [(3, "d", "D3!"), (5, "d", "d5")])
    counts, restore = _racing_merge_setup(spark, table, racer)
    try:
        ours = _pdf(spark, [(2, "b", "B2!"), (4, "b", "b4")])
        v = snap.snapshot_merge(
            ours, table, key_cols=["k"], partition_col="p"
        )
    finally:
        restore()
    assert v == 3  # racer took v2; rebase landed on the new tip
    written = [f for f in footer_reads if f]
    assert len(written) == len(set(written))  # each file set's footers once
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a1", 2: "B2!", 3: "D3!", 4: "b4", 5: "d5"}
    # one write for the racer's merge + ONE for ours: a recompute would
    # have written a second set of files for our merge (writes == 3)
    assert counts["writes"] == 2, "disjoint conflict must not recompute"
    # and the rebase preserved the racer's stats for its files: a fresh
    # disjoint merge afterwards still prunes (carries) both b- and d-files
    m3 = snap._read_manifest(spark, table, 3)
    assert m3.get("file_stats"), "rebase must compose stats, not drop them"
    later = _pdf(spark, [(1, "a", "A1!")])
    snap.snapshot_merge(later, table, key_cols=["k"], partition_col="p")
    m4 = snap._read_manifest(spark, table, 4)
    assert set(m3["files"]) & set(m4["files"]), "stats lost: nothing carried"


def test_partitioned_merge_recomputes_overlapping_racer(spark, table):
    """A racer touching the SAME partition 'b' commits first: the rebase
    proof must fail (our touched files are gone from the tip) and the
    merge recomputes against the racer's snapshot — last writer wins for
    the contested key, no racer row lost."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    racer = _pdf(spark, [(2, "b", "RACER"), (6, "b", "b6")])
    counts, restore = _racing_merge_setup(spark, table, racer)
    try:
        ours = _pdf(spark, [(2, "b", "OURS"), (4, "b", "b4")])
        v = snap.snapshot_merge(
            ours, table, key_cols=["k"], partition_col="p"
        )
    finally:
        restore()
    assert v == 3
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    # our merge recomputed against the racer's tip: we win k=2, racer's
    # k=6 insert survives, our k=4 insert lands
    assert got == {1: "a1", 2: "OURS", 3: "d3", 4: "b4", 6: "b6"}
    assert counts["writes"] == 3, "overlapping conflict must recompute"


def test_partitioned_merge_recomputes_across_overwrite_racer(spark, table):
    """An OVERWRITE racer invalidates the base wholesale: never rebase,
    even though file-level stats might look disjoint."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = _pdf(spark, [(1, "a", "a1"), (2, "b", "b2")])
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")

    real_claim = snap._claim_version
    state = {"fired": False}

    def racing_claim(spark_, table_, manifest, v):
        if not state["fired"] and manifest.get("operation") == "merge":
            state["fired"] = True
            snap.snapshot_overwrite(_pdf(spark, [(9, "d", "wiped")]), table_)
        return real_claim(spark_, table_, manifest, v)

    snap._claim_version = racing_claim
    try:
        ours = _pdf(spark, [(2, "b", "OURS")])
        v = snap.snapshot_merge(
            ours, table, key_cols=["k"], partition_col="p"
        )
    finally:
        snap._claim_version = real_claim
    assert v == 3
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    # merge applied to the OVERWRITTEN state, not the stale base
    assert got == {2: "OURS", 9: "wiped"}


def test_partitioned_merge_recomputes_when_racer_dropped_touched_file(spark, table):
    """A DELETE racer that dropped a file this merge rewrote adds no file,
    so only the rebase's touched-files check sees the conflict: a rebase
    would resurrect the racer's deleted rows (k=3) from the merge's
    rewrite."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = _pdf(spark, [(1, "a", "a1"), (2, "b", "b2"), (3, "b", "b3")])
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")

    real_claim = snap._claim_version
    state = {"fired": False}

    def racing_claim(spark_, table_, manifest, v):
        if not state["fired"] and manifest.get("operation") == "merge":
            state["fired"] = True
            snap.snapshot_delete(spark, table_, "p", "b", "b")
        return real_claim(spark_, table_, manifest, v)

    snap._claim_version = racing_claim
    try:
        ours = _pdf(spark, [(2, "b", "OURS")])
        v = snap.snapshot_merge(ours, table, key_cols=["k"], partition_col="p")
    finally:
        snap._claim_version = real_claim
    assert v == 3
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a1", 2: "OURS"}


# ---------------------------------------------------------------------------
# history checkpointing: DESCRIBE HISTORY without O(versions) manifest reads
# ---------------------------------------------------------------------------


def test_checkpoint_history_matches_and_skips_manifest_reads(spark, table):
    """After checkpoint_history, history() must return exactly what the
    uncheckpointed path returns while opening ONLY manifests newer than
    the checkpointed tip — the micro-batch-sink listing fix."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(0, "base")]), table)
    for i in range(1, 6):
        snapshot_append(_df(spark, [(i, f"v{i}")]), table)
    want = [tuple(r) for r in history(spark, table).collect()]

    assert snap.checkpoint_history(spark, table) == 6
    snapshot_append(_df(spark, [(9, "after")]), table)  # one post-ckpt commit

    real_read = snap._read_manifest
    opened = []

    def counting_read(spark_, table_, version):
        opened.append(version)
        return real_read(spark_, table_, version)

    snap._read_manifest = counting_read
    try:
        got = [tuple(r) for r in snap.history(spark, table).collect()]
    finally:
        snap._read_manifest = real_read
    assert opened == [7], "history read a manifest the checkpoint covers"
    assert got[:-1] == want and got[-1][:2] == (7, "append")


def test_checkpoint_history_survives_vacuum(spark, table):
    """Vacuum drops versions AFTER a checkpoint was taken: checkpoint
    rows for dead versions must be filtered out, and incremental
    re-checkpointing must not resurrect them."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(0, "base")]), table)
    for i in range(1, 4):
        snapshot_append(_df(spark, [(i, f"v{i}")]), table)
    snap.checkpoint_history(spark, table)
    vacuum(spark, table, keep_last=2)

    got = [r.version for r in snap.history(spark, table).collect()]
    assert got == [3, 4], "vacuumed versions leaked from the checkpoint"

    # re-checkpoint on the vacuumed table, append once more: still consistent
    snap.checkpoint_history(spark, table)
    snapshot_append(_df(spark, [(9, "after")]), table)
    got = [r.version for r in snap.history(spark, table).collect()]
    assert got == [3, 4, 5]


# ---------------------------------------------------------------------------
# row-level DELETE and OPTIMIZE (bin-pack compaction)
# ---------------------------------------------------------------------------


def test_snapshot_delete_prunes_carries_and_keeps_nulls(spark, table):
    """DELETE WHERE p BETWEEN 'b' AND 'b' AND k % 2 = 0: files provably
    outside the range are carried by path identity; NULL-partition rows
    (predicate evaluates NULL) are KEPT; prior version still readable."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = spark.createDataFrame(
        [(1, "a", "a1"), (2, "b", "b2"), (4, "b", "b4"), (5, "b", "b5"),
         (3, "d", "d3"), (6, None, "n6")],
        "k int, p string, v string",
    )
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    m1 = snap._read_manifest(spark, table, 1)

    v = snap.snapshot_delete(spark, table, "p", "b", "b", "k % 2 = 0")
    assert v == 2
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a1", 3: "d3", 5: "b5", 6: "n6"}  # only even b-keys gone

    m2 = snap._read_manifest(spark, table, 2)
    assert m2["operation"] == "delete"
    carried = set(m1["files"]) & set(m2["files"])
    assert carried, "out-of-range files must carry by identity"
    for f in carried:
        row = m1["file_stats"][f].get("p")
        if row and row[0] is not None:
            lo_, hi_, _ = row
            assert not (lo_ <= "b" <= hi_)
    # rewritten files keep usable stats for future pruning
    assert any(f not in m1["files"] and "p" in m2["file_stats"].get(f, {})
               for f in m2["files"])
    # time travel: pre-delete version intact
    pre = {r.k: r.v for r in snapshot_read(spark, table, version=1).collect()}
    assert pre == {1: "a1", 2: "b2", 3: "d3", 4: "b4", 5: "b5", 6: "n6"}


def test_snapshot_delete_whole_file_drops_from_manifest(spark, table):
    """Deleting every row of a file leaves no zero-row part file in the
    new manifest."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = _pdf(spark, [(1, "a", "a1"), (2, "b", "b2")])
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    snap.snapshot_delete(spark, table, "p", "b", "b")
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a1"}
    m2 = snap._read_manifest(spark, table, 2)
    assert len(m2["files"]) < len(snap._read_manifest(spark, table, 1)["files"])


def test_snapshot_optimize_packs_small_files_value_identical(spark, table):
    """Many single-commit appends → optimize packs the small files into
    few; values byte-identical; old versions time-travelable; vacuum then
    reclaims the packed-away small files."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(0, "base")]), table)
    for i in range(1, 9):
        snapshot_append(_df(spark, [(i, f"v{i}")]), table)
    before = snapshot_read(spark, table)
    n_before = len(before.inputFiles())
    want = {r.k: r.v for r in before.collect()}

    v = snap.snapshot_optimize(spark, table, target_file_bytes=1 << 20)
    assert v == 10
    after = snapshot_read(spark, table)
    assert len(after.inputFiles()) < n_before
    assert {r.k: r.v for r in after.collect()} == want
    m = snap._read_manifest(spark, table, v)
    assert m["operation"] == "optimize"
    # pre-optimize tip still readable, then vacuum reclaims its files
    assert {r.k: r.v for r in snapshot_read(spark, table, version=9).collect()} == want
    deleted = vacuum(spark, table, keep_last=1)
    assert deleted > 0
    assert {r.k: r.v for r in snapshot_read(spark, table).collect()} == want


def test_snapshot_optimize_clustered_keeps_stats_tight(spark, table):
    """cluster_col packing: after optimize the files' stat ranges stay
    narrow and pairwise disjoint so snapshot_scan still file-skips;
    already-large files are carried by identity."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("p"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),  # incompressible
    )
    snap.snapshot_overwrite(big.coalesce(1), table, stats_cols=["p"])
    m1 = snap._read_manifest(spark, table, 1)
    big_files = set(m1["files"])
    for i in range(4):
        small = spark.range(20000 + 5000 * i, 25000 + 5000 * i).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).alias("p"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        ).coalesce(1)
        snapshot_append(small, table)
    # append must have CARRIED the overwrite's stats and collected its own
    m_before = snap._read_manifest(spark, table, list_versions(spark, table)[-1])
    assert all("p" in (m_before.get("file_stats") or {}).get(f, {})
               for f in m_before["files"]), "append dropped stats continuity"
    v = snap.snapshot_optimize(
        spark, table, target_file_bytes=1 << 20, cluster_col="p"
    )
    m = snap._read_manifest(spark, table, v)
    assert big_files and big_files <= set(m["files"]), "large file not carried"
    assert len(m["files"]) < len(m_before["files"])
    total = snapshot_read(spark, table).count()
    assert total == 40000
    # range-clustered packing keeps per-file p-ranges narrow: a selective
    # scan skips the packed files whose range can't intersect
    pruned = snap.snapshot_scan(spark, table, "p", 0, 5)
    assert len(pruned.inputFiles()) < len(m["files"])
    assert pruned.count() == snapshot_read(spark, table).filter(
        (F.col("p") >= 0) & (F.col("p") <= 5)
    ).count()


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF + change data feed
# ---------------------------------------------------------------------------


def test_version_at_timestamp_resolves_and_bounds(spark, table):
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_append(_df(spark, [(2, "b")]), table)
    ts = {
        v: snap._read_manifest(spark, table, v)["committed_at_unix"]
        for v in [1, 2]
    }
    assert snap.version_at_timestamp(spark, table, ts[1]) == 1
    assert snap.version_at_timestamp(spark, table, ts[2]) == 2
    assert snap.version_at_timestamp(spark, table, ts[2] + 3600) == 2
    with pytest.raises(ValueError, match="no version"):
        snap.version_at_timestamp(spark, table, ts[1] - 1.0)
    got = {r.k: r.v for r in snap.snapshot_read_asof(spark, table, ts[1]).collect()}
    assert got == {1: "a"}


def test_snapshot_changes_feed(spark, table):
    """table_changes(v1 -> latest): merge updates/inserts + a delete show
    up as changed/added/removed; unchanged keys are absent."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = _pdf(spark, [(1, "a", "x1"), (2, "b", "x2"), (3, "d", "x3")])
    snap.snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    delta = _pdf(spark, [(2, "b", "X2!"), (4, "b", "x4")])
    snap.snapshot_merge(delta, table, key_cols=["k"], partition_col="p")
    snap.snapshot_delete(spark, table, "p", "d", "d")

    got = {
        r.k: r.status
        for r in snap.snapshot_changes(spark, table, ["k"], v_from=1).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}
    # bounded feed: v1 -> v2 must not see the later delete
    got12 = {
        r.k: r.status
        for r in snap.snapshot_changes(spark, table, ["k"], 1, 2).collect()
    }
    assert got12 == {2: "changed", 4: "added"}


def test_snapshot_restore_rolls_back_as_new_commit(spark, table):
    """RESTORE: v3 = v1's content under a new version; shared files
    survive vacuum via refcounting; a racing merge must not rebase
    across it."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), table)
    snapshot_merge(_df(spark, [(2, "B!"), (3, "c")]), table, key_cols=["k"])
    v = snap.snapshot_restore(spark, table, 1)
    assert v == 3
    got = {r.k: r.v for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a", 2: "b"}
    h = {r.version: r.operation for r in history(spark, table).collect()}
    assert h[3] == "restore"
    assert "restore" not in snap._REBASEABLE_OPS
    # vacuum to the restore only: v1's files are shared and must survive
    vacuum(spark, table, keep_last=1)
    assert {r.k for r in snapshot_read(spark, table).collect()} == {1, 2}
    with pytest.raises(ValueError, match="not in"):
        snap.snapshot_restore(spark, table, 99)


# ---- bloom-filter file index + schema evolution (r9) ----------------------


def test_bloom_index_prunes_point_lookup(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        _read_manifest,
        snapshot_bloom_index,
        snapshot_point_lookup,
    )

    # 4 files with disjoint k ranges; NO manifest stats — any pruning the
    # lookup achieves is the bloom filter's alone
    df = (
        spark.range(0, 400)
        .select(F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    assert snapshot_overwrite(df, table) == 1
    assert snapshot_bloom_index(spark, table, "k") == 2
    m = _read_manifest(spark, table, 2)
    assert m["operation"] == "index"
    assert set(m["file_blooms"]) == set(m["files"])

    kept, all_files, _, _m = _point_lookup_files(spark, table, "k", 123, None)
    assert len(all_files) == 4
    assert len(kept) < len(all_files)  # bloom skipped provably-absent files
    got = snapshot_point_lookup(spark, table, "k", 123).collect()
    assert [(r.k, r.v) for r in got] == [(123, 123 % 7)]
    # absent value: every file's bloom proves absence (deterministic corpus)
    assert snapshot_point_lookup(spark, table, "k", 100_000).count() == 0


def test_bloom_index_carried_by_append_new_files_conservative(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        _read_manifest,
        snapshot_bloom_index,
        snapshot_point_lookup,
    )

    base = (
        spark.range(0, 300)
        .select(F.col("id").cast("int").alias("k"), F.lit("old").alias("v"))
        .repartitionByRange(3, "k")
        .sortWithinPartitions("k")
    )
    snapshot_overwrite(base, table)
    snapshot_bloom_index(spark, table, "k")
    delta = spark.createDataFrame([(1000, "new")], "k int, v string")
    v = snapshot_append(delta, table)
    m = _read_manifest(spark, table, v)
    indexed = set(m.get("file_blooms") or {})
    assert indexed and indexed < set(m["files"])  # old files keep entries

    # value only in the UNindexed appended file: old files bloom-pruned,
    # new file conservatively read
    kept, all_files, _, _m = _point_lookup_files(spark, table, "k", 1000, None)
    assert len(kept) < len(all_files)
    assert {r.v for r in snapshot_point_lookup(spark, table, "k", 1000).collect()} == {"new"}
    # old value still found (its file's bloom hits; append didn't break it)
    assert snapshot_point_lookup(spark, table, "k", 42).count() == 1


def test_bloom_and_stats_pruning_compose(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        snapshot_bloom_index,
    )

    # stats on k (clustered), bloom on v (high-cardinality, unclustered):
    # a lookup on v must prune via bloom even though k-stats say nothing
    df = (
        spark.range(0, 400)
        .select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 37 % 1000).cast("int").alias("v"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    snapshot_overwrite(df, table, stats_cols=["k"])
    snapshot_bloom_index(spark, table, "v")
    kept_v, all_files, _, _m = _point_lookup_files(spark, table, "v", 37, None)
    assert len(kept_v) < len(all_files)
    # and a k-lookup prunes via the min/max stats with no bloom for k
    kept_k, _, _, _m2 = _point_lookup_files(spark, table, "k", 5, None)
    assert len(kept_k) == 1


def test_append_schema_evolution_add_column(spark, table):
    import pytest as _pytest

    snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), table)
    wider = spark.createDataFrame([(3, "c", 9.5)], "k int, v string, score double")
    with _pytest.raises(ValueError, match="merge_schema"):
        snapshot_append(wider, table)
    v = snapshot_append(wider, table, merge_schema=True)
    out = snapshot_read(spark, table, v)
    assert [f.name for f in out.schema.fields] == ["k", "v", "score"]
    got = {r.k: (r.v, r.score) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    # narrower delta is also an evolution (missing col reads back NULL)
    v2 = snapshot_append(
        spark.createDataFrame([(4,)], "k int"), table, merge_schema=True
    )
    got2 = {r.k: (r.v, r.score) for r in snapshot_read(spark, table, v2).collect()}
    assert got2[4] == (None, None)
    assert got2[3] == ("c", 9.5)


def test_append_schema_type_change_always_raises(spark, table):
    import pytest as _pytest

    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    drifted = spark.createDataFrame([("oops", "x")], "k string, v string")
    with _pytest.raises(ValueError, match="type CHANGES"):
        snapshot_append(drifted, table, merge_schema=True)
    # rejected commit reclaimed its orphaned data files: only v1 exists
    # and a fresh identical-schema append still works
    assert list_versions(spark, table) == [1]
    assert snapshot_append(_df(spark, [(2, "b")]), table) == 2


def test_incremental_rollup_matches_recompute(spark, table):
    """IVM refresh off the change feed equals a from-scratch recompute
    across all three change kinds: update (both-side weight), insert
    (new group appears), delete (group count reaches zero and vanishes)."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        apply_rollup_delta,
        rollup_delta,
        snapshot_changed_rows,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_merge

    rows = [(k, "g1" if k < 5 else "g2", k * 10) for k in range(10)]
    base = spark.createDataFrame(rows, "k int, g string, amt long")
    v1 = snapshot_overwrite(base, table)
    mart1 = (
        snapshot_read(spark, table, v1)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .localCheckpoint(eager=True)
    )
    # update k=1 (+5), insert k=100 into NEW group g3, delete all of g2
    # (merge can't delete → emulate via overwrite of the final state? no:
    # use merge for upserts, then snapshot_delete on g)
    snapshot_merge(
        spark.createDataFrame([(1, "g1", 15), (100, "g3", 7)], "k int, g string, amt long"),
        table,
        key_cols=["k"],
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_delete

    snapshot_delete(spark, table, "g", "g2", "g2")
    old_rows, new_rows = snapshot_changed_rows(spark, table, ["k"], v1)
    delta = rollup_delta(old_rows, new_rows, ["g"], ["amt"])
    mart2 = apply_rollup_delta(mart1, delta, ["g"], "n", {"s": "amt"})
    got = {r.g: (r.n, r.s) for r in mart2.collect()}
    want = {
        r.g: (r.n, r.s)
        for r in snapshot_read(spark, table)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .collect()
    }
    assert got == want
    assert "g2" not in got and got["g3"] == (1, 7)


def test_rollup_delta_no_changes_is_empty(spark, table):
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        rollup_delta,
        snapshot_changed_rows,
    )

    v1 = snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), table)
    old_rows, new_rows = snapshot_changed_rows(spark, table, ["k"], v1, v1)
    assert rollup_delta(old_rows, new_rows, ["v"], []).count() == 0


def test_in_lookup_prunes_union_of_files(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        snapshot_bloom_index,
        snapshot_point_lookup,
    )

    df = (
        spark.range(0, 400)
        .select(F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    snapshot_overwrite(df, table)
    snapshot_bloom_index(spark, table, "k")
    # two needles in different files: plan must keep ~2 files, not 8
    kept, all_files, _, _m = _point_lookup_files(spark, table, "k", [10, 390], None)
    assert len(all_files) == 8
    assert 2 <= len(kept) < len(all_files)
    got = sorted(
        r.k for r in snapshot_point_lookup(spark, table, "k", [10, 390]).collect()
    )
    assert got == [10, 390]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-null"):
        snapshot_point_lookup(spark, table, "k", [])


def test_incremental_rollup_composes_across_versions(spark, table):
    """The CDC walk: applying per-version deltas v1→v2→v3 one step at a
    time must land on the same mart as one v1→v3 delta AND as a full
    recompute — the streaming-consumer contract (each micro-batch applies
    one version's changes)."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        apply_rollup_delta,
        rollup_delta,
        snapshot_changed_rows,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_merge

    base = spark.createDataFrame(
        [(k, "g%d" % (k % 3), k) for k in range(12)], "k int, g string, amt long"
    )
    v1 = snapshot_overwrite(base, table)
    mart = (
        snapshot_read(spark, table, v1)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .localCheckpoint(eager=True)
    )
    v2 = snapshot_merge(
        spark.createDataFrame([(1, "g1", 100), (20, "g0", 7)], "k int, g string, amt long"),
        table, key_cols=["k"],
    )
    v3 = snapshot_merge(
        spark.createDataFrame([(20, "g0", 9), (2, "g2", -5)], "k int, g string, amt long"),
        table, key_cols=["k"],
    )
    stepped = mart
    for lo, hi in ((v1, v2), (v2, v3)):
        o, n = snapshot_changed_rows(spark, table, ["k"], lo, hi)
        stepped = apply_rollup_delta(
            stepped, rollup_delta(o, n, ["g"], ["amt"]), ["g"], "n", {"s": "amt"}
        ).localCheckpoint(eager=True)
    o, n = snapshot_changed_rows(spark, table, ["k"], v1, v3)
    oneshot = apply_rollup_delta(
        mart, rollup_delta(o, n, ["g"], ["amt"]), ["g"], "n", {"s": "amt"}
    )
    want = {
        r.g: (r.n, r.s)
        for r in snapshot_read(spark, table)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .collect()
    }
    assert {r.g: (r.n, r.s) for r in stepped.collect()} == want
    assert {r.g: (r.n, r.s) for r in oneshot.collect()} == want


def test_vacuum_time_based_retention(spark, table):
    """retain_seconds keeps every version committed within the window of
    the NEWEST commit (log-clock, not wall-clock), unioned with
    keep_last; outside the window the count policy alone applies."""
    import json as _json
    import os

    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_overwrite(_df(spark, [(2, "b")]), table)
    snapshot_overwrite(_df(spark, [(3, "c")]), table)
    # doctor the log clock: v1 is 2h old, v2 30min old, v3 now
    mdir = f"{table}/_manifests"
    now = 1_700_000_000.0
    for v, age in ((1, 7200.0), (2, 1800.0), (3, 0.0)):
        p = os.path.join(mdir, f"v{v}.json")
        with open(p) as f:
            m = _json.load(f)
        m["committed_at_unix"] = now - age
        with open(p, "w") as f:
            _json.dump(m, f)
        # Hadoop's LocalFileSystem checksums reads: drop the stale crc
        crc = os.path.join(mdir, f".v{v}.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
    # 1h retention: v2 and v3 are in-window -> only v1 expires
    deleted = vacuum(spark, table, keep_last=1, retain_seconds=3600.0)
    assert deleted == 1
    assert list_versions(spark, table) == [2, 3]
    # count policy still guarantees the newest even with zero retention
    deleted = vacuum(spark, table, keep_last=1, retain_seconds=0.0)
    assert list_versions(spark, table) == [3]
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [3]


def test_constraints_enforced_on_all_writers(spark, table):
    """ADD CONSTRAINT proves existing data, then every data-adding op
    validates its delta: violating append/merge/overwrite are rejected
    BEFORE any state change, NULL passes (SQL CHECK), constraints ride
    every commit (still enforced after unrelated merges), and DROP
    lifts enforcement."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_add_constraint,
        snapshot_drop_constraint,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, amt int"), table
    )
    # can't add a constraint current data violates
    with _pytest.raises(SnapshotConstraintError):
        snapshot_add_constraint(spark, table, "big", "amt > 15")
    snapshot_add_constraint(spark, table, "pos", "amt > 0")

    with _pytest.raises(SnapshotConstraintError, match="pos"):
        snapshot_append(
            spark.createDataFrame([(3, -5)], "k int, amt int"), table
        )
    with _pytest.raises(SnapshotConstraintError):
        snapshot_merge(
            spark.createDataFrame([(2, 0)], "k int, amt int"), table, ["k"]
        )
    with _pytest.raises(SnapshotConstraintError):
        snapshot_overwrite(
            spark.createDataFrame([(9, -1)], "k int, amt int"), table
        )
    # rejected commits changed nothing
    got = {r.k: r.amt for r in snapshot_read(spark, table).collect()}
    assert got == {1: 10, 2: 20}

    # NULL passes (CHECK semantics); constraint survives the merge commit
    snapshot_merge(
        spark.createDataFrame([(4, None)], "k int, amt int"), table, ["k"]
    )
    with _pytest.raises(SnapshotConstraintError):
        snapshot_append(spark.createDataFrame([(5, -2)], "k int, amt int"), table)

    snapshot_drop_constraint(spark, table, "pos")
    snapshot_append(spark.createDataFrame([(5, -2)], "k int, amt int"), table)
    got = {r.k: r.amt for r in snapshot_read(spark, table).collect()}
    assert got == {1: 10, 2: 20, 4: None, 5: -2}


@pytest.mark.parametrize(
    "writer",
    [
        "merge",
        "merge_partitioned",
        "merge_when",
        "append",
        "overwrite",
        "replace_where",
        "update",
    ],
)
def test_constraints_check_the_committed_rows(
    spark, table, tmp_path, monkeypatch, writer
):
    """CHECK constraints validate exactly the rows a writer commits, not
    a second evaluation of the delta: here the delta's ``v`` comes from a
    nondeterministic UDF that turns negative once the real check has run
    (the patched check touches a flag file the UDF reads). Every writer
    must commit the rows it checked."""
    import os

    from pyspark.sql.types import IntegerType

    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(
        spark.createDataFrame([(0, 0, 10)], "k int, p int, v int"), table
    )
    if writer == "update":
        # the update rewrites existing rows: give it the delta's keys
        snapshot_append(
            spark.createDataFrame(
                [(k, k % 2, 10) for k in (1, 2, 3)], "k int, p int, v int"
            ),
            table,
        )
    snap.snapshot_add_constraint(spark, table, "nonneg", "v >= 0")
    flag = str(tmp_path / "checked")
    real_validate = snap._validate_constraints

    def validate_then_flip(df, constraints):
        real_validate(df, constraints)
        open(flag, "w").close()

    monkeypatch.setattr(snap, "_validate_constraints", validate_then_flip)
    flips = F.udf(
        lambda: -1 if os.path.exists(flag) else 1, IntegerType()
    ).asNondeterministic()
    delta = spark.createDataFrame(
        [(k, k % 2) for k in (1, 2, 3)], "k int, p int"
    ).withColumn("v", flips())
    if writer == "append":
        snapshot_append(delta, table)
    elif writer == "overwrite":
        snapshot_overwrite(delta, table)
    elif writer == "replace_where":
        snap.snapshot_replace_where(delta, table, "k", 1, 3)
    elif writer == "update":
        spark.udf.register("flips", flips)
        snap.snapshot_update(spark, table, {"v": "flips()"})
    elif writer == "merge_when":
        snap.snapshot_merge_when(
            delta, table, ["k"], when_matched_update={"v": "s.v"}
        )
    else:
        partition_col = "p" if writer == "merge_partitioned" else None
        snapshot_merge(delta, table, ["k"], partition_col=partition_col)
    assert os.path.exists(flag), "the constraint check never ran"
    got = {r.k: r.v for r in snapshot_read(spark, table).collect() if r.k}
    assert got == {1: 1, 2: 1, 3: 1}


def test_materialized_rollup_build_refresh_lifecycle(spark, table, tmp_path):
    """CREATE/REFRESH MATERIALIZED VIEW: build aggregates the tip and
    records it; refresh applies exactly the CDC window (returns versions
    applied, 0 when fresh), equals a from-scratch recompute after
    arbitrary merges+deletes, and the mart — itself a snapshot table —
    keeps its pre-refresh version readable (consistent dashboards
    mid-refresh)."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        materialized_rollup_build,
        materialized_rollup_refresh,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_merge,
    )

    mart = str(tmp_path / "mart_mv")
    src = spark.createDataFrame(
        [(k, "g%d" % (k % 3), k * 10) for k in range(12)], "k int, g string, amt long"
    )
    snapshot_overwrite(src, table)
    v0 = materialized_rollup_build(
        spark, table, mart, key_cols=["k"], group_cols=["g"], sum_cols=["amt"]
    )
    assert v0 == 1
    assert materialized_rollup_refresh(spark, table, mart) == 0  # fresh

    snapshot_merge(
        spark.createDataFrame([(1, "g1", 999), (50, "g9", 5)], "k int, g string, amt long"),
        table, key_cols=["k"],
    )
    snapshot_delete(spark, table, "g", "g2", "g2")
    applied = materialized_rollup_refresh(spark, table, mart)
    assert applied >= 2

    got = {r.g: (r.n_rows, r.sum_amt)
           for r in snapshot_read(spark, mart).collect()}
    want = {
        r.g: (r.n, r.s)
        for r in snapshot_read(spark, table)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .collect()
    }
    assert got == want and "g9" in got and "g2" not in got
    # the mart's PRE-refresh version is still readable (snapshot mart)
    v1_mart = {r.g: r.n_rows for r in snapshot_read(spark, mart, 1).collect()}
    assert v1_mart["g2"] == 4
    # idempotent: nothing new -> no commit, no recompute
    assert materialized_rollup_refresh(spark, table, mart) == 0


def test_delete_where_and_update_predicate_forms(spark, table):
    """General-predicate DELETE/UPDATE: NULL predicates KEEP rows on
    delete and SKIP rows on update (SQL semantics), UPDATE recomputes
    only matching rows, and an UPDATE violating an active CHECK
    constraint is rejected with the table unchanged."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_add_constraint,
        snapshot_delete,
        snapshot_update,
    )

    rows = [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)]
    snapshot_overwrite(
        spark.createDataFrame(rows, "k int, tag string, amt int"), table
    )
    # NULL tag -> predicate NULL -> row KEPT by delete
    snapshot_delete(spark, table, extra_condition="tag = 'b'")
    got = sorted(r.k for r in snapshot_read(spark, table).collect())
    assert got == [1, 3, 4]

    snapshot_update(spark, table, {"amt": "amt + 100"}, where="tag = 'a'")
    got = {r.k: r.amt for r in snapshot_read(spark, table).collect()}
    assert got == {1: 110, 3: 30, 4: 140}  # NULL tag row untouched

    snapshot_add_constraint(spark, table, "amt_cap", "amt < 1000")
    with _pytest.raises(SnapshotConstraintError):
        snapshot_update(spark, table, {"amt": "amt * 100"}, where="k = 1")
    got2 = {r.k: r.amt for r in snapshot_read(spark, table).collect()}
    assert got2 == got  # rejected update changed nothing
    # history records the predicate ops
    ops = [r.operation for r in history(spark, table).sort("version").collect()]
    assert "delete" in ops and "update" in ops


def test_forgotten_key_leaves_no_bytes_after_vacuum(spark, table):
    """Right-to-be-forgotten end-to-end: DELETE the key, VACUUM the
    history, then scan every byte remaining under the table — the
    forgotten value must be physically gone, not just filtered (time
    travel is what keeps deleted data; vacuum is what forgets it)."""
    import glob
    import os

    secret = "SECRET-PII-9f3b7c"
    snapshot_overwrite(
        spark.createDataFrame(
            [(1, secret), (2, "keep-me")], "k int, payload string"
        ),
        table,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
    )

    snapshot_delete(spark, table, extra_condition=f"payload = '{secret}'")
    # pre-vacuum: the old version still serves the secret (time travel)
    assert snapshot_read(spark, table, 1).filter(
        F.col("payload") == secret
    ).count() == 1
    vacuum(spark, table, keep_last=1)
    # post-vacuum: no byte under the table root contains the secret
    hit = []
    for path in glob.glob(f"{table}/**", recursive=True):
        if os.path.isfile(path):
            with open(path, "rb") as f:
                if secret.encode() in f.read():
                    hit.append(path)
    assert not hit, hit
    assert {r.payload for r in snapshot_read(spark, table).collect()} == {"keep-me"}


def test_shallow_clone_zero_copy_divergence_and_vacuum_ownership(spark, tmp_path):
    """SHALLOW CLONE: v1 references the source's files verbatim (zero
    copy), writes diverge (clone merges never touch the source and vice
    versa), constraints travel, and the ownership guard means expiring
    the CLONE's history deletes nothing from the source's directory."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        _read_manifest,
        snapshot_add_constraint,
        snapshot_clone,
        snapshot_merge,
    )

    src = str(tmp_path / "src")
    cl = str(tmp_path / "clone")
    snapshot_overwrite(_df(spark, [(1, "a"), (2, "b")]), src)
    snapshot_add_constraint(spark, src, "k_pos", "k > 0")
    assert snapshot_clone(spark, src, cl) == 1
    m = _read_manifest(spark, cl, 1)
    assert m["files"] == _read_manifest(spark, src, 2)["files"]  # zero copy
    assert {r.k for r in snapshot_read(spark, cl).collect()} == {1, 2}
    # constraints traveled: the clone enforces them
    with _pytest.raises(SnapshotConstraintError):
        snapshot_append(_df(spark, [(-5, "bad")]), cl)

    # divergence: a clone merge writes its own files, source unchanged
    snapshot_merge(_df(spark, [(2, "B!"), (3, "c")]), cl, key_cols=["k"])
    assert {r.v for r in snapshot_read(spark, cl).collect()} == {"a", "B!", "c"}
    assert {r.v for r in snapshot_read(spark, src).collect()} == {"a", "b"}

    # ownership: vacuuming the clone's history (v1 referenced SOURCE
    # files) must not delete anything under the source root
    deleted = vacuum(spark, cl, keep_last=1)
    assert deleted == 0  # the dropped v1's files are source-owned
    assert {r.v for r in snapshot_read(spark, src).collect()} == {"a", "b"}
    assert {r.v for r in snapshot_read(spark, cl).collect()} == {"a", "B!", "c"}
    # clone target collision is refused
    with _pytest.raises(ValueError, match="already exists"):
        snapshot_clone(spark, src, cl)


def test_update_refuses_type_changing_set_expr(spark, table):
    """UPDATE preserves column types: a SET expression whose when/otherwise
    coercion would widen the column (int = double expr) is refused — the
    manifest schema must never disagree with the written parquet files —
    and an explicit CAST back to the column's type passes."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_update

    snapshot_overwrite(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, amt int"), table
    )
    with _pytest.raises(ValueError, match="preserves column types"):
        snapshot_update(spark, table, {"amt": "amt * 1.5"}, where="k = 1")
    # refused commit changed nothing
    assert {r.amt for r in snapshot_read(spark, table).collect()} == {10, 20}
    snapshot_update(
        spark, table, {"amt": "CAST(amt * 1.5 AS int)"}, where="k = 1"
    )
    assert {r.k: r.amt for r in snapshot_read(spark, table).collect()} == {
        1: 15,
        2: 20,
    }


def test_mv_state_rides_mart_manifest_atomically(spark, table, tmp_path):
    """The materialized view's as_of watermark is committed IN the mart's
    manifest (app.mv_state), not in a side file: content and watermark
    can't diverge across a crash, and each mart version pins the state it
    was built with."""
    import json
    import os

    from bookstore_aws_lakehouse_spark.operators.incremental import (
        materialized_rollup_build,
        materialized_rollup_refresh,
    )

    mart = str(tmp_path / "mart_atomic")
    snapshot_overwrite(
        spark.createDataFrame(
            [(k, "g%d" % (k % 2), k) for k in range(8)], "k int, g string, amt long"
        ),
        table,
    )
    materialized_rollup_build(
        spark, table, mart, key_cols=["k"], group_cols=["g"], sum_cols=["amt"]
    )
    assert not os.path.exists(f"{mart}/_mv_state.json")  # no side file
    with open(f"{mart}/_manifests/v1.json") as f:
        st1 = json.load(f)["app"]["mv_state"]
    assert st1["as_of_version"] == 1

    snapshot_append(spark.createDataFrame([(100, "g0", 7)], "k int, g string, amt long"), table)
    assert materialized_rollup_refresh(spark, table, mart) == 1
    with open(f"{mart}/_manifests/v2.json") as f:
        st2 = json.load(f)["app"]["mv_state"]
    assert st2["as_of_version"] == 2
    # v1's manifest still records the state IT reflected (time-travelable)
    with open(f"{mart}/_manifests/v1.json") as f:
        assert json.load(f)["app"]["mv_state"]["as_of_version"] == 1


def test_rollup_handles_null_group_keys(spark, table, tmp_path):
    """NULL group keys are one group (GROUP BY semantics): the delta/mart
    merge joins null-safely, so a refresh touching a NULL-keyed group
    updates THE row instead of leaving a stale row + a delta row."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        materialized_rollup_build,
        materialized_rollup_refresh,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_merge

    mart = str(tmp_path / "mart_nullg")
    rows = [(1, None, 10), (2, None, 20), (3, "g1", 30)]
    snapshot_overwrite(
        spark.createDataFrame(rows, "k int, g string, amt long"), table
    )
    materialized_rollup_build(
        spark, table, mart, key_cols=["k"], group_cols=["g"], sum_cols=["amt"]
    )
    # touch the NULL group: update k=1 (None group) and add k=9 to it
    snapshot_merge(
        spark.createDataFrame(
            [(1, None, 100), (9, None, 1)], "k int, g string, amt long"
        ),
        table,
        key_cols=["k"],
    )
    assert materialized_rollup_refresh(spark, table, mart) == 1
    got = {r.g: (r.n_rows, r.sum_amt) for r in snapshot_read(spark, mart).collect()}
    want = {
        r.g: (r.n, r.s)
        for r in snapshot_read(spark, table)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("amt").alias("s"))
        .collect()
    }
    assert got == want  # exactly one NULL-group row, correctly refreshed
    assert got[None] == (3, 121)
    # the dict above would mask a duplicated NULL row — pin the row count
    assert snapshot_read(spark, mart).count() == 2


def test_merge_when_three_clause_semantics(spark, table):
    """Conditional MERGE (snapshot_merge_when): matched-delete fires
    before matched-update, update is condition-gated with NULL = no
    fire, source-only rows insert, target-only rows optionally delete
    (sync-to-source), and unmatched clauses leave rows untouched."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge_when,
    )

    snapshot_overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
            "k int, g string, amt int",
        ),
        table,
    )
    src = spark.createDataFrame(
        [(2, "B", 5), (3, "x", 999), (5, "e", 50), (4, None, 1)],
        "k int, g string, amt int",
    )
    snapshot_merge_when(
        src,
        table,
        key_cols=["k"],
        when_matched_update={"amt": "CAST(t.amt + s.amt AS int)"},
        when_matched_update_condition="s.g = 'B'",
        when_matched_delete="s.amt > 500",
        when_not_matched_insert=True,
        when_not_matched_by_source_delete="t.k = 1",
    )
    got = {r.k: (r.g, r.amt) for r in snapshot_read(spark, table).collect()}
    assert got == {
        2: ("b", 25),   # update fired (s.g='B'): amt += 5, g untouched
        4: (None, 40),  # matched, update condition NULL -> no fire
        5: ("e", 50),   # inserted
    }  # k=3 deleted (s.amt>500); k=1 deleted (not matched by source)

    # type preservation contract (same as UPDATE)
    with _pytest.raises(ValueError, match="CAST"):
        snapshot_merge_when(
            src, table, ["k"], when_matched_update={"amt": "t.amt * 1.5"}
        )


def test_merge_when_null_safe_keys_and_defaults(spark, table):
    """NULL key values match null-safely (one NULL group, not a dropped
    row), and with no clauses given the merge is conservative: matched
    rows carry unchanged, source-only rows insert, target-only rows
    stay."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge_when,
    )

    snapshot_overwrite(
        spark.createDataFrame(
            [("a", 1), (None, 2)], "g string, amt int"
        ),
        table,
    )
    src = spark.createDataFrame([(None, 99), ("z", 3)], "g string, amt int")
    snapshot_merge_when(
        src,
        table,
        key_cols=["g"],
        when_matched_update={"amt": "s.amt"},
    )
    got = {r.g: r.amt for r in snapshot_read(spark, table).collect()}
    # NULL key matched null-safely and updated; 'a' untouched; 'z' inserted
    assert got == {"a": 1, None: 99, "z": 3}
    assert snapshot_read(spark, table).count() == 3


def test_snapshot_count_matches_scan_per_version(spark, table):
    """Metadata-only count: footer sums must equal the scanned count at
    every version, including after deletes (rewritten file sets)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_count,
        snapshot_delete,
    )

    snapshot_overwrite(
        spark.range(0, 1000).select(F.col("id").cast("int").alias("k")), table
    )
    snapshot_append(
        spark.range(1000, 1300).select(F.col("id").cast("int").alias("k")), table
    )
    snapshot_delete(spark, table, extra_condition="k % 3 = 0")
    for v in (1, 2, 3):
        assert snapshot_count(spark, table, v) == snapshot_read(
            spark, table, v
        ).count()
    assert snapshot_count(spark, table) == snapshot_read(spark, table).count()


# ---- deletion vectors (merge-on-read deletes) -----------------------------


def _dv_table(spark, table, n=200, parts=4):
    snapshot_overwrite(
        spark.range(0, n)
        .selectExpr("id as k", "id % 7 as g", "cast(id * 1.5 as double) as v")
        .repartition(parts),
        table,
    )


def test_dv_delete_is_merge_on_read(spark, table):
    """A DV delete removes rows from every read path WITHOUT touching a
    single data file; time travel to the pre-delete version still sees
    them; metadata-only COUNT subtracts the recorded cardinality."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_count,
        snapshot_delete_dv,
        snapshot_scan,
    )

    _dv_table(spark, table)
    before = _read_manifest(spark, table, 1)
    v = snapshot_delete_dv(spark, table, "k % 10 = 3")
    m = _read_manifest(spark, table, v)
    assert sorted(m["files"]) == sorted(before["files"])  # no rewrite
    assert sum(m["dv"]["cardinality"].values()) == 20
    assert snapshot_read(spark, table).count() == 180
    assert snapshot_count(spark, table) == 180
    assert snapshot_read(spark, table, 1).count() == 200  # time travel
    got = {r.k for r in snapshot_scan(spark, table, "k", 0, 20).collect()}
    assert got == set(range(21)) - {3, 13}


def test_dv_deletes_compose_without_double_count(spark, table):
    """Overlapping MoR deletes record each dead position once: the second
    delete matches against the DV-applied view, so cardinalities add to
    exactly the distinct dead-row count."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_count,
        snapshot_delete_dv,
    )

    _dv_table(spark, table)
    snapshot_delete_dv(spark, table, "k % 10 = 3")  # 20 rows
    v = snapshot_delete_dv(spark, table, "k % 5 = 3")  # k%10 in {3,8}: +20
    m = _read_manifest(spark, table, v)
    assert sum(m["dv"]["cardinality"].values()) == 40
    assert snapshot_read(spark, table).count() == 160
    assert snapshot_count(spark, table) == 160


def test_dv_nothing_matched_is_no_commit(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
    )

    _dv_table(spark, table)
    assert snapshot_delete_dv(spark, table, "k > 1000000") == 1
    # NULL predicate rows never match (SQL DELETE semantics)
    assert snapshot_delete_dv(spark, table, "cast(null as boolean)") == 1


def test_dv_purge_rewrites_only_dirty_files(spark, table):
    """REORG APPLY (PURGE): clean files are carried by identity, dirty
    files are rewritten with the vectors folded in, and the tip ends
    vector-free with identical content."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_count,
        snapshot_delete_dv,
        snapshot_purge_dv,
    )

    _dv_table(spark, table)
    # delete only low keys so some files stay clean under the range
    # clustering of repartition? repartition hashes — instead target a
    # value subset and verify per-file: dirty = files with an entry
    v = snapshot_delete_dv(spark, table, "k < 25")
    m = _read_manifest(spark, table, v)
    dirty = set(m["dv"]["cardinality"])
    clean = set(m["files"]) - dirty
    pv = snapshot_purge_dv(spark, table)
    mp = _read_manifest(spark, table, pv)
    assert "dv" not in mp
    assert clean <= set(mp["files"])  # carried by identity
    assert dirty.isdisjoint(set(mp["files"]))  # rewritten
    assert snapshot_read(spark, table).count() == 175
    assert snapshot_count(spark, table) == 175
    # idempotent no-op on a clean table
    assert snapshot_purge_dv(spark, table) == pv


def test_dv_rewriting_ops_do_not_resurrect(spark, table):
    """Copy-on-write ops over a DV'd table read through the shared
    DV-aware path: a CoW range delete, an UPDATE and an OPTIMIZE each
    preserve the MoR-dead rows' absence, and rewritten files shed their
    cardinality entries via commit inheritance."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete,
        snapshot_delete_dv,
        snapshot_optimize,
        snapshot_update,
    )

    _dv_table(spark, table)
    snapshot_delete_dv(spark, table, "k < 10")
    snapshot_delete(spark, table, "k", 190, 199)  # CoW rewrite
    assert snapshot_read(spark, table).count() == 180
    snapshot_update(spark, table, {"v": "v + 0.5"}, where="k = 50")
    assert snapshot_read(spark, table).count() == 180
    assert snapshot_read(spark, table).filter("k < 10").count() == 0
    ov = snapshot_optimize(spark, table, target_file_bytes=1 << 30)
    mo = _read_manifest(spark, table, ov)
    assert "dv" not in mo  # update rewrote all files, entries dropped
    assert snapshot_read(spark, table).count() == 180


def test_dv_restore_and_clone_carry_vectors(spark, table, tmp_path):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_clone,
        snapshot_count,
        snapshot_delete_dv,
        snapshot_restore,
    )

    _dv_table(spark, table)
    dv_v = snapshot_delete_dv(spark, table, "k % 4 = 0")  # 50 dead
    snapshot_overwrite(spark.range(3).selectExpr("id as k"), table)
    rv = snapshot_restore(spark, table, dv_v)
    assert "dv" in _read_manifest(spark, table, rv)
    assert snapshot_count(spark, table) == 150
    clone = str(tmp_path / "dv_clone")
    snapshot_clone(spark, table, clone)
    assert snapshot_read(spark, clone).count() == 150


def test_dv_vacuum_refcounts_sidecars(spark, table):
    """Sidecars refcount like data files: referenced by any surviving
    version → kept; after purge + vacuum to the tip, the bytes are
    reclaimed on disk."""
    import glob
    import os

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_purge_dv,
        vacuum,
    )

    _dv_table(spark, table)
    snapshot_delete_dv(spark, table, "k % 2 = 0")
    vacuum(spark, table, keep_last=1)  # tip still references the sidecars
    assert glob.glob(os.path.join(table, "_dv", "*", "*.parquet"))
    assert snapshot_read(spark, table).count() == 100
    snapshot_purge_dv(spark, table)
    vacuum(spark, table, keep_last=1)
    assert not glob.glob(os.path.join(table, "_dv", "*", "*.parquet"))
    assert snapshot_read(spark, table).count() == 100


# ---- column mapping: metadata-only RENAME / DROP COLUMN -------------------


def test_rename_column_is_metadata_only(spark, table):
    """RENAME touches one manifest: identical file list, logical reads
    under the new name, time travel keeps the old name, and stats keys
    follow the rename so pruning still works."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_rename_column,
        snapshot_scan,
    )

    snapshot_overwrite(
        spark.range(0, 100)
        .selectExpr("id as k", "cast(id as double) as amount")
        .repartition(2),
        table,
        stats_cols=["k", "amount"],
    )
    v1_files = _read_manifest(spark, table, 1)["files"]
    v = snapshot_rename_column(spark, table, "amount", "price")
    m = _read_manifest(spark, table, v)
    assert m["files"] == v1_files  # not a single byte of data moved
    assert m["column_mapping"]["price"] == "amount"
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "price"]
    assert got.agg(F.sum("price")).head()[0] == 4950.0
    assert snapshot_read(spark, table, 1).columns == ["k", "amount"]
    # stats keys moved to the logical namespace's new name
    assert all("price" in per for per in m["file_stats"].values())
    rows = {r.k for r in snapshot_scan(spark, table, "price", 0.0, 4.0).collect()}
    assert rows == {0, 1, 2, 3, 4}


def test_rename_column_roundtrips_writes(spark, table):
    """Writes after a rename use the logical name; the files carry the
    frozen physical name; merge + update + append all bind logically."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_rename_column,
        snapshot_update,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, amount double"),
        table,
    )
    snapshot_rename_column(spark, table, "amount", "price")
    snapshot_append(
        spark.createDataFrame([(3, 30.0)], "k int, price double"), table
    )
    snapshot_merge(
        spark.createDataFrame([(2, 99.0), (4, 40.0)], "k int, price double"),
        table,
        key_cols=["k"],
    )
    snapshot_update(spark, table, {"price": "price + 1.0"}, where="k = 1")
    got = {r.k: r.price for r in snapshot_read(spark, table).collect()}
    assert got == {1: 11.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # physical layer: every data file stores the birth name 'amount'
    import pyarrow.parquet as pq

    from bookstore_aws_lakehouse_spark.sources.snapshots import _read_manifest

    vs = sorted(
        int(p.split("v")[-1].split(".")[0])
        for p in __import__("os").listdir(f"{table}/_manifests")
    )
    for f in _read_manifest(spark, table, vs[-1])["files"]:
        path = f[5:] if f.startswith("file:") else f
        assert "amount" in pq.ParquetFile(path).schema_arrow.names


def test_rename_refuses_constrained_and_colliding_names(spark, table):
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_add_constraint,
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    snapshot_add_constraint(spark, table, "pos", "amount >= 0")
    with pytest.raises(ValueError, match="constraint"):
        snapshot_rename_column(spark, table, "amount", "price")
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_drop_constraint,
    )

    snapshot_drop_constraint(spark, table, "pos")
    snapshot_rename_column(spark, table, "amount", "price")
    # renaming k to the RETIRED-or-physical name of another column refused
    with pytest.raises(ValueError, match="collides"):
        snapshot_rename_column(spark, table, "k", "amount")
    with pytest.raises(ValueError, match="already exists"):
        snapshot_rename_column(spark, table, "k", "price")


def test_drop_column_retires_physical_name(spark, table):
    """DROP is metadata-only; re-adding the same logical name is refused
    (it would resurrect historic bytes)."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_drop_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0, "x")], "k int, amount double, tag string"),
        table,
    )
    v1_files = _read_manifest(spark, table, 1)["files"]
    v = snapshot_drop_column(spark, table, "tag")
    m = _read_manifest(spark, table, v)
    assert m["files"] == v1_files
    assert "tag" in m["retired_physical"]
    assert snapshot_read(spark, table).columns == ["k", "amount"]
    with pytest.raises(ValueError, match="retired|DROPPED"):
        snapshot_append(
            spark.createDataFrame([(2, 1.0, "y")], "k int, amount double, tag string"),
            table,
            merge_schema=True,
        )


def test_drop_constraint_preserves_dv_and_mapping(spark, table):
    """Regression: the hand-built set_constraint manifest must carry the
    dv/mapping keys — dropping a constraint must not resurrect
    MoR-deleted rows or forget renames."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_add_constraint,
        snapshot_delete_dv,
        snapshot_drop_constraint,
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.range(0, 50).selectExpr("id as k", "cast(id as double) as amount"),
        table,
    )
    snapshot_rename_column(spark, table, "amount", "price")
    snapshot_delete_dv(spark, table, "k < 5")
    snapshot_add_constraint(spark, table, "pos", "k >= 0")
    snapshot_drop_constraint(spark, table, "pos")
    got = snapshot_read(spark, table)
    assert got.columns == ["k", "price"]
    assert got.count() == 45


# ---- idempotent writes (txnAppId / txnVersion) ----------------------------


def test_txn_append_is_exactly_once(spark, table):
    """Delta's txnAppId/txnVersion: re-running an already-applied
    (app, version) no-ops — files unchanged, no new commit — and the
    watermark survives unrelated commits, metadata-only commits and
    VACUUM (it rides the TIP manifest, not the dropped history)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_add_constraint,
        snapshot_drop_constraint,
        vacuum,
    )

    d = spark.createDataFrame([(1, "a")], "k int, v string")
    snapshot_overwrite(d, table)
    v = snapshot_append(d, table, txn_app_id="etl", txn_version=7)
    assert snapshot_read(spark, table).count() == 2
    # replay: at-most-once
    assert snapshot_append(d, table, txn_app_id="etl", txn_version=7) == v
    assert snapshot_append(d, table, txn_app_id="etl", txn_version=6) == v
    assert snapshot_read(spark, table).count() == 2
    # a DIFFERENT app id is independent; a HIGHER version applies
    snapshot_append(d, table, txn_app_id="other", txn_version=1)
    snapshot_append(d, table, txn_app_id="etl", txn_version=8)
    assert snapshot_read(spark, table).count() == 4
    # watermarks survive metadata-only commits and vacuum
    snapshot_add_constraint(spark, table, "pos", "k >= 0")
    snapshot_drop_constraint(spark, table, "pos")
    vacuum(spark, table, keep_last=1)
    tipv = snapshot_append(d, table, txn_app_id="etl", txn_version=8)
    assert snapshot_read(spark, table).count() == 4  # still a no-op
    m = _read_manifest(spark, table, tipv)
    assert m["txn"] == {"etl": 8, "other": 1}


def test_txn_requires_both_parameters(spark, table):
    import pytest

    snapshot_overwrite(spark.createDataFrame([(1,)], "k int"), table)
    with pytest.raises(ValueError, match="together"):
        snapshot_append(
            spark.createDataFrame([(2,)], "k int"), table, txn_app_id="x"
        )


def test_replace_where_swaps_exactly_the_range(spark, table):
    """replaceWhere: one commit replaces exactly the in-range rows;
    stats-disjoint files are carried by identity; out-of-range
    replacement rows refuse; MoR-dead rows stay dead."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete_dv,
        snapshot_replace_where,
    )

    base = spark.createDataFrame(
        [(k, k // 10, float(k)) for k in range(100)], "k int, p bigint, v double"
    )
    snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    snapshot_delete_dv(spark, table, "k = 55")  # MoR-dead inside the range
    m0 = _read_manifest(spark, table, 2)
    stats = m0.get("file_stats") or {}
    disjoint = [
        f
        for f in m0["files"]
        if stats.get(f, {}).get("p")
        and stats[f]["p"][0] is not None
        and (stats[f]["p"][1] < 5 or stats[f]["p"][0] > 6)
    ]
    repl = spark.createDataFrame(
        [(k, k // 10, -1.0) for k in range(50, 70)], "k int, p bigint, v double"
    )
    v = snapshot_replace_where(repl, table, "p", 5, 6)
    m = _read_manifest(spark, table, v)
    assert set(disjoint) <= set(m["files"])  # carried by identity
    got = snapshot_read(spark, table)
    assert got.count() == 100  # 20 replaced (55 was dead, repl re-adds it)
    assert got.filter("p BETWEEN 5 AND 6").agg(F.sum("v")).head()[0] == -20.0
    assert got.filter("p NOT BETWEEN 5 AND 6").filter("v < 0").count() == 0
    # rerunning converges (idempotent reload)
    snapshot_replace_where(repl, table, "p", 5, 6)
    assert snapshot_read(spark, table).count() == 100
    # out-of-range replacement rows refuse
    with pytest.raises(ValueError, match="outside"):
        snapshot_replace_where(
            spark.createDataFrame([(99, 9, 0.0)], "k int, p bigint, v double"),
            table,
            "p",
            5,
            6,
        )


# ---- review-pass regressions (r11 code review findings) -------------------


def test_merge_schema_append_refuses_inuse_physical_name(spark, table):
    """A renamed column's FROZEN physical name is in use in every data
    file — a new logical column with that name would give the physical
    schema a duplicate field. Refused in the engine write path."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    snapshot_rename_column(spark, table, "amount", "price")
    with pytest.raises(ValueError, match="collide"):
        snapshot_append(
            spark.createDataFrame(
                [(2, 20.0, 9.9)], "k int, price double, amount double"
            ),
            table,
            merge_schema=True,
        )
    # the table stays healthy
    assert snapshot_read(spark, table).columns == ["k", "price"]


def test_overwrite_reverting_a_rename_does_not_brick_the_table(spark, table):
    """Overwriting a mapped table with the ORIGINAL column name must not
    retire that (now re-used) physical name — the table keeps accepting
    writes with its own current schema."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        list_versions,
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    snapshot_rename_column(spark, table, "amount", "price")
    snapshot_overwrite(
        spark.createDataFrame([(2, 20.0)], "k int, amount double"), table
    )
    snapshot_append(
        spark.createDataFrame([(3, 30.0)], "k int, amount double"), table
    )
    got = {r.k: r.amount for r in snapshot_read(spark, table).collect()}
    assert got == {2: 20.0, 3: 30.0}
    m = _read_manifest(spark, table, list_versions(spark, table)[-1])
    assert "amount" not in (m.get("retired_physical") or [])


def test_restore_keeps_max_txn_watermark(spark, table):
    """RESTORE rolls data back but never lets an already-applied (app,
    version) re-apply: the committed map is the element-wise max of the
    tip's and the restored version's."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_restore,
    )

    d = spark.createDataFrame([(1, "a")], "k int, v string")
    snapshot_overwrite(d, table)  # v1
    snapshot_append(d, table, txn_app_id="loader", txn_version=5)  # v2
    snapshot_restore(spark, table, 1)  # v3: data rolled back
    assert snapshot_read(spark, table).count() == 1
    # the replay of an applied version must STILL no-op after restore
    snapshot_append(d, table, txn_app_id="loader", txn_version=5)
    assert snapshot_read(spark, table).count() == 1
    snapshot_append(d, table, txn_app_id="loader", txn_version=6)
    assert snapshot_read(spark, table).count() == 2


def test_dv_delete_ranged_form_prunes_files(spark, table):
    """The ranged MoR delete opens only files whose stats may intersect
    the range — and matches the arbitrary-predicate form's result."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete_dv,
    )

    base = spark.createDataFrame(
        [(k, k // 25, float(k)) for k in range(100)], "k int, p bigint, v double"
    )
    snapshot_merge(base, table, key_cols=["k"], partition_col="p")
    v = snapshot_delete_dv(spark, table, column="p", lo=1, hi=1,
                           extra_condition="k % 2 = 0")
    m = _read_manifest(spark, table, v)
    # only files that may hold p=1 carry new vectors
    stats = m.get("file_stats") or {}
    for f in m["dv"]["cardinality"]:
        row = stats.get(f, {}).get("p")
        assert row is None or (row[0] <= 1 <= row[1])
    got = snapshot_read(spark, table)
    assert got.count() == 88  # 12 even k in 26..48 deleted
    assert got.filter("p = 1 AND k % 2 = 0").count() == 0
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_delete_dv(spark, table, "k = 1", column="p", lo=0, hi=0)
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_delete_dv(spark, table)


def _stats_rewrite(spark, table, writer):
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    delta = spark.createDataFrame([(3, -1.0), (100, 2.0)], "k int, v double")
    if writer == "merge":
        return snap.snapshot_merge(delta, table, ["k"])
    if writer == "merge_when":
        return snap.snapshot_merge_when(
            delta, table, ["k"], when_matched_update={"v": "s.v"}
        )
    if writer == "delete_where":
        return snap.snapshot_delete(spark, table, extra_condition="k = 3")
    return snap.snapshot_update(spark, table, {"v": "v + 1.0"}, where="k = 3")


@pytest.mark.parametrize("writer", ["merge", "merge_when", "delete_where", "update"])
def test_full_rewrites_keep_file_stats(spark, table, writer):
    """Stats continuity through the FULL-rewrite writers: every file of
    the new tip carries stats for the column the table tracks, so range
    scans and ranged deletes stay file-pruned after a merge / update /
    predicate delete."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    base = spark.range(0, 80).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 1.5).alias("v")
    )
    snap.snapshot_overwrite(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    v = _stats_rewrite(spark, table, writer)
    m = snap._read_manifest(spark, table, v)
    assert v == 2 and m["files"]
    stats = m.get("file_stats") or {}
    assert all("k" in stats.get(f, {}) for f in m["files"]), stats


@pytest.mark.parametrize(
    "lo_h, hi_h, want",
    [
        (-48, -1, False),  # disjoint, before the file's range
        (24, 40, False),  # disjoint, after it
        (-5, 2, True),  # overlaps the low end
        (5, 6, True),  # inside
        (23, 23, True),  # boundary equality on the max
        (-10, 50, True),  # covers the whole file
    ],
)
def test_range_may_match_normalizes_temporal_probes(lo_h, hi_h, want):
    """The shared file selection (``_select_files``) on a TIMESTAMP stats
    row — stored in the manifest as canonical ISO strings — probed with a
    datetime range: disjoint ranges prune, overlapping ones keep the
    file, an all-NULL file always prunes and a missing stats row never
    does. Raw datetimes compared against the ISO strings would raise
    TypeError and fall back to opening every file."""
    bounds = {"ts": {"lo": _at(lo_h), "hi": _at(hi_h)}}
    row = [_iso(0), _iso(23), False]
    assert _selects({"ts": row}, bounds) is want
    assert _selects({"ts": [None, None, True]}, bounds) is False
    assert _selects(None, bounds) is True


def _at(hours: int):
    import datetime as dt

    return dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        hours=hours
    )


def _selects(stats: dict | None, bounds: dict) -> bool:
    """Does ``_select_files`` touch the one file of a manifest whose
    stats entry is ``stats`` (None: the file has no stats)?"""
    from bookstore_aws_lakehouse_spark.sources.snapshots import _select_files

    m = {"files": ["f"], "file_stats": {} if stats is None else {"f": stats}}
    touched, carried = _select_files(m, bounds)
    assert touched + carried == ["f"]
    return touched == ["f"]


def _iso(hours: int) -> str:
    from bookstore_aws_lakehouse_spark.sources.snapshots import _stat_norm

    return _stat_norm(_at(hours))


_K19 = {"k": [1, 9, False]}
_NULL_PROBE = {"k": {"values": [None]}}


@pytest.mark.parametrize(
    "stats, bounds, want",
    [
        # the lakesnap reader's null-probe cases
        pytest.param({"k": [None, None, True]}, _NULL_PROBE, True,
                     id="all-null-file-null-probe"),
        pytest.param({"k": [None, None, True]}, {"k": {"values": [5]}}, False,
                     id="all-null-file-value-probe"),
        pytest.param({"k": [None, None, False]}, _NULL_PROBE, False,
                     id="empty-file-null-probe"),
        pytest.param({"k": [None, None, False]}, {"k": {"values": [5]}}, False,
                     id="empty-file-value-probe"),
        pytest.param({"k": [1, 9, True]}, _NULL_PROBE, True,
                     id="file-with-nulls-null-probe"),
        pytest.param(_K19, _NULL_PROBE, False, id="null-free-file-null-probe"),
        pytest.param(_K19, {"k": {"values": [None, 5]}}, True,
                     id="null-and-value-probe"),
        # missing stats keep the file
        pytest.param(None, {"k": {"values": [5]}}, True, id="no-stats-entry"),
        pytest.param({"j": [1, 9, False]}, {"k": {"lo": 50}}, True,
                     id="no-stats-for-column"),
        pytest.param({"k": [None, None, False]}, {"k": {"lo": 0, "hi": 9}},
                     False, id="empty-file-range"),
        pytest.param({"k": [None, None, True]}, {"k": {"lo": 0, "hi": 9}},
                     False, id="all-null-file-range"),
        # a probe of another type keeps the file
        pytest.param(_K19, {"k": {"values": ["x"]}}, True,
                     id="cross-type-value"),
        pytest.param(_K19, {"k": {"lo": "a"}}, True, id="cross-type-lo"),
        # temporal probes meet ISO-string stats in canonical form
        pytest.param({"ts": [_iso(0), _iso(23), False]},
                     {"ts": {"lo": _at(24), "hi": _at(40)}}, False,
                     id="temporal-disjoint"),
        pytest.param({"ts": [_iso(0), _iso(23), False]},
                     {"ts": {"values": [_at(23)]}}, True,
                     id="temporal-boundary-value"),
        # open-ended ranges
        pytest.param(_K19, {"k": {"lo": 10}}, False, id="lo-only-above"),
        pytest.param(_K19, {"k": {"lo": 9}}, True, id="lo-only-boundary"),
        pytest.param(_K19, {"k": {"hi": 0}}, False, id="hi-only-below"),
        pytest.param(_K19, {"k": {"hi": 1}}, True, id="hi-only-boundary"),
        # values and a range on one column are ANDed per column
        pytest.param(_K19, {"k": {"values": [5], "lo": 10}}, False,
                     id="values-and-range-range-prunes"),
        pytest.param(_K19, {"k": {"values": [12], "lo": 6}}, False,
                     id="values-and-range-value-prunes"),
        pytest.param(_K19, {"k": {"values": []}}, False, id="empty-in-list"),
        pytest.param(_K19, {}, True, id="no-bounds"),
        # every bounded column must allow a match
        pytest.param({"k": [1, 9, False], "j": [100, 200, False]},
                     {"k": {"lo": 1, "hi": 5}, "j": {"lo": 300}}, False,
                     id="two-columns-one-prunes"),
        pytest.param({"k": [1, 9, False], "j": [100, 200, False]},
                     {"k": {"lo": 1, "hi": 5}, "j": {"hi": 150}}, True,
                     id="two-columns-both-match"),
    ],
)
def test_select_files_edge_cases(stats, bounds, want):
    """The one file-selection predicate every snapshot read and write
    shares, row by row: NULL probes match exactly the files holding
    NULLs, empty files match nothing, missing stats and cross-type
    compares keep the file."""
    assert _selects(stats, bounds) is want


def test_select_files_bloom_layer():
    """A bloom entry proving every probed value absent carries the file;
    a file without an entry, or an entry of an uncomputed (m, k) config,
    stays touched."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import _select_files

    bits = bytearray(1)
    bits[0] = 0b0000_0101  # positions 0 and 2 set
    entry = {"m": 8, "k": 1, "bits": bits.hex()}
    m = {
        "files": ["hit", "miss", "bare", "other_cfg"],
        "file_blooms": {
            "hit": {"k": entry},
            "miss": {"k": {**entry, "bits": "00"}},
            "other_cfg": {"k": {**entry, "m": 16, "bits": "0000"}},
        },
    }
    bounds = {"k": {"values": [1, 2]}}
    touched, carried = _select_files(m, bounds, blooms={"k": {(8, 1): [[1], [2]]}})
    assert touched == ["hit", "bare", "other_cfg"] and carried == ["miss"]


def test_dv_delete_ranged_form_prunes_temporal_stats(spark, table):
    """The ranged deletion-vector delete on a TIMESTAMP column never
    opens a file whose stats exclude the range: the out-of-range file is
    removed from disk and the delete still succeeds."""
    import datetime as dt
    import os

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete_dv,
    )

    start = dt.datetime(2026, 3, 1)
    rows = [(i, start + dt.timedelta(hours=i)) for i in range(40)]
    snapshot_overwrite(
        spark.createDataFrame(rows, "k int, ts timestamp")
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts"),
        table,
        stats_cols=["ts"],
    )
    m = _read_manifest(spark, table, 1)
    last = max(m["files"], key=lambda f: m["file_stats"][f]["ts"][1])
    os.remove(last[5:] if last.startswith("file:") else last)
    lo, hi = start, start + dt.timedelta(hours=2)
    v = snapshot_delete_dv(spark, table, column="ts", lo=lo, hi=hi)
    assert sum(_read_manifest(spark, table, v)["dv"]["cardinality"].values()) == 3


def test_merge_refuses_type_drifted_delta(spark, table):
    """A delta whose column type drifts would widen the union output
    while the pinned manifest schema stays narrow — unreadable tip.
    Both merge forms refuse with a CAST hint instead."""
    import pytest

    snapshot_overwrite(
        spark.createDataFrame([(1, 10)], "k int, v int"), table
    )
    with pytest.raises(ValueError, match="CAST"):
        snapshot_merge(
            spark.createDataFrame([(1, 1.5)], "k int, v double"), table, ["k"]
        )
    with pytest.raises(ValueError, match="CAST"):
        snapshot_merge(
            spark.createDataFrame([(1, 1.5)], "k int, v double"),
            table,
            key_cols=["k"],
            partition_col="k",
        )
    # healthy table, merge still works with matching types
    snapshot_merge(
        spark.createDataFrame([(2, 20)], "k int, v int"), table, ["k"]
    )
    assert snapshot_read(spark, table).count() == 2


def test_merge_when_refuses_ambiguous_source(spark, table):
    """Delta's 'multiple source rows matched' contract: two source rows
    on one key with a matched clause refuse instead of duplicating the
    target row through the full-outer join."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge_when,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, v double"), table
    )
    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double")
    with pytest.raises(ValueError, match="multiple"):
        snapshot_merge_when(dup, table, ["k"], when_matched_update={"v": "s.v"})
    # insert-only merges take every source row (Delta does too)
    snapshot_merge_when(
        spark.createDataFrame([(2, 1.0), (2, 2.0)], "k int, v double"),
        table,
        ["k"],
        when_matched_update=None,
    )
    assert snapshot_read(spark, table).count() == 3


def test_merge_when_delete_by_keylist_source(spark, table):
    """A delete-only merge may ship a KEYS-ONLY source (insert disabled)
    — the standard delete-by-keylist shape."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge_when,
    )

    snapshot_overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
        ),
        table,
    )
    snapshot_merge_when(
        spark.createDataFrame([(1,), (3,)], "k int"),
        table,
        ["k"],
        when_matched_delete="true",
        when_not_matched_insert=False,
    )
    assert {r.k for r in snapshot_read(spark, table).collect()} == {2}


def test_delete_where_detects_racing_append(spark, table, monkeypatch):
    """A predicate delete (snapshot_delete without a range) is
    state-dependent: a commit that lands
    between its read and its claim must force a recompute, never be
    silently erased from the file list."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(
        spark.createDataFrame([(k,) for k in range(10)], "k int"), table
    )
    real_write = snap._write_data_files
    raced = {"done": False}

    def racing_write(df, tbl, *a, **kw):
        files = real_write(df, tbl, *a, **kw)
        if not raced["done"] and tbl == table:
            raced["done"] = True  # racer appends AFTER the rewrite is
            # computed+written but BEFORE the claim
            snapshot_append(
                spark.createDataFrame([(100,)], "k int"), table
            )
        return files

    monkeypatch.setattr(snap, "_write_data_files", racing_write)
    snap.snapshot_delete(spark, table, extra_condition="k < 5")
    got = {r.k for r in snapshot_read(spark, table).collect()}
    assert got == {5, 6, 7, 8, 9, 100}  # racer's row survived the delete


def test_overwrite_race_reinherits_racer_constraint(spark, table, monkeypatch):
    """A state-independent overwrite that loses its version race must
    RE-INHERIT table facts from the new tip: a racing ADD CONSTRAINT
    (or txn watermark) is never erased."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(spark.createDataFrame([(1,)], "k int"), table)
    real_claim = snap._claim_version
    state = {"raced": False}

    def racing_claim(spark_, tbl, manifest, v):
        if not state["raced"] and manifest.get("operation") == "overwrite" and v > 1:
            state["raced"] = True
            snap.snapshot_add_constraint(spark, table, "pos", "k >= 0")
            return False  # the racer took our number
        return real_claim(spark_, tbl, manifest, v)

    monkeypatch.setattr(snap, "_claim_version", racing_claim)
    snapshot_overwrite(spark.createDataFrame([(2,)], "k int"), table)
    tip = snap._read_manifest(spark, table, snap.list_versions(spark, table)[-1])
    assert "pos" in (tip.get("constraints") or {})  # fact survived the race


def test_commit_io_errors_surface_not_retried_as_races(spark, tmp_path):
    """Only version-exists is a race: a broken manifest location must
    raise the real error immediately, not burn 50 'lost races'."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    snapshot_overwrite(spark.createDataFrame([(1,)], "k int"), table)
    # replace the manifest DIRECTORY with a plain file: fs.create of
    # _manifests/v2.json now fails with a parent-not-a-directory error
    import shutil

    shutil.rmtree(f"{table}/_manifests")
    with open(f"{table}/_manifests", "w") as f:
        f.write("not a directory")
    with pytest.raises(Exception) as ei:
        snapshot_overwrite(spark.createDataFrame([(2,)], "k int"), table)
    # the real error, not an exhausted retry loop of 50 lost races
    assert not isinstance(ei.value, snap.SnapshotConflictError)


def test_txn_overwrite_is_exactly_once(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        list_versions,
    )

    d1 = spark.createDataFrame([(1,)], "k int")
    d2 = spark.createDataFrame([(2,), (3,)], "k int")
    snapshot_overwrite(d1, table, txn_app_id="nightly", txn_version=1)
    v = list_versions(spark, table)[-1]
    # replay of the same nightly run: no new version, content untouched
    assert snapshot_overwrite(d2, table, txn_app_id="nightly", txn_version=1) == v
    assert snapshot_read(spark, table).count() == 1
    snapshot_overwrite(d2, table, txn_app_id="nightly", txn_version=2)
    assert snapshot_read(spark, table).count() == 2


def test_update_retry_revalidates_racer_rows(spark, table, monkeypatch):
    """snapshot_update's conflict-retry recomputes from the new tip — it
    must RE-validate constraints on the recomputed frame: a racer's
    appended rows can be updated into CHECK-violating values the
    pre-race validation never saw (ADVICE r9 #1)."""
    from bookstore_aws_lakehouse_spark.sources import snapshots as snap

    snapshot_overwrite(spark.createDataFrame([(1, 10)], "k int, v int"), table)
    snap.snapshot_add_constraint(spark, table, "v_cap", "v < 100")
    real_write = snap._write_data_files
    raced = {"done": False}

    def racing_write(df, tbl, *a, **kw):
        files = real_write(df, tbl, *a, **kw)
        if not raced["done"] and tbl == table:
            raced["done"] = True  # racer appends a 99 (passes the CHECK)
            # AFTER the update's rewrite is written but BEFORE its claim;
            # the retry's SET v = v + 1 drives it to 100 — violating
            snapshot_append(
                spark.createDataFrame([(2, 99)], "k int, v int"), table
            )
        return files

    monkeypatch.setattr(snap, "_write_data_files", racing_write)
    with pytest.raises(snap.SnapshotConstraintError, match="v_cap"):
        snap.snapshot_update(spark, table, {"v": "CAST(v + 1 AS INT)"})
    # nothing violating was committed
    got = {(r.k, r.v) for r in snapshot_read(spark, table).collect()}
    assert got == {(1, 10), (2, 99)}


def test_overwrite_refuses_logical_plus_physical_duplicate(spark, table):
    """An overwrite df carrying BOTH a renamed logical column and a new
    column equal to its frozen physical name would produce duplicate
    physical fields under the rename — refuse with a targeted error, not
    an opaque parquet failure (ADVICE r9 #2). Re-using the physical name
    WITHOUT the logical column stays allowed (revert-a-rename)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 2.0)], "k int, amount double"), table
    )
    snapshot_rename_column(spark, table, "amount", "price")
    with pytest.raises(ValueError, match="collide"):
        snapshot_overwrite(
            spark.createDataFrame(
                [(1, 2.0, 3.0)], "k int, price double, amount double"
            ),
            table,
        )
    # the legal sub-case still works: physical name alone, logical gone
    snapshot_overwrite(
        spark.createDataFrame([(9, 9.0)], "k int, amount double"), table
    )
    assert snapshot_read(spark, table).columns == ["k", "amount"]


def test_vacuum_reclaims_crashed_commit_tmp_files(spark, table):
    """A writer that dies between writing its manifest payload and the
    atomic link leaves a ``v*.json.tmp-*`` orphan; vacuum reclaims aged
    orphans (mtime > 10 min) but never a live writer's fresh tmp."""
    import os
    import time as _time

    from bookstore_aws_lakehouse_spark.sources.snapshots import vacuum

    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_append(_df(spark, [(2, "b")]), table)
    mdir = os.path.join(table, "_manifests")
    old_tmp = os.path.join(mdir, "v3.json.tmp-deadbeef0000")
    new_tmp = os.path.join(mdir, "v3.json.tmp-cafebabe0000")
    for p in (old_tmp, new_tmp):
        with open(p, "w") as f:
            f.write("{}")
    past = _time.time() - 3600
    os.utime(old_tmp, (past, past))
    vacuum(spark, table, keep_last=1)
    assert not os.path.exists(old_tmp)   # aged orphan reclaimed
    assert os.path.exists(new_tmp)       # fresh (possibly live) tmp kept
    # the janitor never touched real manifests
    assert snapshot_read(spark, table).count() == 2


def test_vacuum_reclaims_crash_orphaned_data_files(spark, table):
    """A writer that dies between ``_write_data_files`` and its manifest
    link leaves a ``tx-`` directory no manifest ever named — version
    expiry walks manifests only, so nothing can reclaim it. The opt-in
    ``orphan_age_seconds`` scan removes aged untracked data files; a
    fresh (possibly in-flight) tx dir and every tracked file survive,
    and the default (``None``) never scans at all."""
    import os
    import shutil
    import time as _time

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
    )

    snapshot_overwrite(_df(spark, [(1, "a")]), table)
    snapshot_append(_df(spark, [(2, "b")]), table)
    ddir = os.path.join(table, "data")
    src = os.path.join(
        ddir, next(d for d in os.listdir(ddir) if d.startswith("tx-"))
    )
    orphan_dir = os.path.join(ddir, "tx-crashdead0000")
    fresh_dir = os.path.join(ddir, "tx-crashfresh000")
    shutil.copytree(src, orphan_dir)
    shutil.copytree(src, fresh_dir)
    past = _time.time() - 7200
    for root, _dirs, files in os.walk(orphan_dir):
        for f in files:
            os.utime(os.path.join(root, f), (past, past))
    now = _time.time()
    for root, _dirs, files in os.walk(fresh_dir):
        for f in files:
            os.utime(os.path.join(root, f), (now, now))

    def _parquets(d):
        return [
            f
            for f in (os.listdir(d) if os.path.isdir(d) else [])
            if f.endswith(".parquet") or f.startswith("part-")
        ]

    # default: no orphan scan — crash debris untouched
    vacuum(spark, table, keep_last=10)
    assert _parquets(orphan_dir)
    # opt-in: aged orphans reclaimed, fresh ones age-protected
    assert vacuum(spark, table, keep_last=10, orphan_age_seconds=3600) >= 1
    assert not _parquets(orphan_dir)
    assert _parquets(fresh_dir)
    # table content and every tracked file intact
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [1, 2]
    for v in list_versions(spark, table):
        for f in _read_manifest(spark, table, v)["files"]:
            local = "/" + f[5:].lstrip("/") if f.startswith("file:") else f
            assert os.path.exists(local)


def test_zorder_multi_column_pruning(spark, table):
    """OPTIMIZE ZORDER BY: after the rewrite, stats-pruned probes on
    BOTH zorder columns must skip files (linear clustering can only
    serve one), content must be byte-identical, and the commit is
    layout-only time-travelable history."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_scan,
        snapshot_zorder,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    snapshot_overwrite(
        li.repartitionByRange(16, "l_orderkey").sortWithinPartitions("l_orderkey"),
        table,
        stats_cols=["l_orderkey", "l_partkey", "l_suppkey"],
    )
    v = snapshot_zorder(
        spark, table, ["l_partkey", "l_suppkey"], target_file_bytes=64_000
    )
    m = _read_manifest(spark, table, v)
    stats = m["file_stats"]

    def surviving(col, lo, hi):
        keep = 0
        for f in m["files"]:
            row = stats.get(f, {}).get(col)
            if row is None or row[0] is None:
                keep += row is None
                continue
            if row[0] <= hi and lo <= row[1]:
                keep += 1
        return keep

    n = len(m["files"])
    assert n >= 4
    assert surviving("l_partkey", 100, 120) < n
    assert surviving("l_suppkey", 5, 7) < n
    # content identical across the layout rewrite; scan == filter
    before = snapshot_read(spark, table, 1)
    after = snapshot_read(spark, table, v)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
    got = snapshot_scan(spark, table, "l_suppkey", 5, 7).count()
    assert got == after.filter("l_suppkey between 5 and 7").count()


def test_zorder_guards(spark, table):
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_zorder

    snapshot_overwrite(
        spark.createDataFrame([(1, "a")], "k int, s string"), table
    )
    with pytest.raises(ValueError, match="not numeric"):
        snapshot_zorder(spark, table, ["s"])
    with pytest.raises(ValueError, match="not in"):
        snapshot_zorder(spark, table, ["nope"])
    with pytest.raises(ValueError, match="1-4"):
        snapshot_zorder(spark, table, [])


def test_stats_collection_survives_undecodable_column_stats(spark, table):
    """A column whose parquet min/max pyarrow cannot decode (e.g. an
    all-NULL double) must be SKIPPED conservatively, never fail the
    commit — found by zordering a table with an all-NULL column."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_zorder,
    )

    df = spark.sql(
        "select id as k, cast(id*1.5 as decimal(10,2)) as d, "
        "cast(NULL as double) as nn from range(1000)"
    )
    snapshot_overwrite(df.repartition(4), table, stats_cols=["k"])
    v = snapshot_zorder(spark, table, ["d", "nn"], target_file_bytes=8_000)
    assert snapshot_read(spark, table).count() == 1000
    m = _read_manifest(spark, table, v)
    # k's stats survive; the undecodable/unportable columns are absent
    assert all("k" in st for st in m["file_stats"].values())


def test_snapshot_files_metadata_table(spark, table):
    """The per-file metadata table answers layout questions from footers
    and the manifest only: sizes, footer rows, DV-adjusted live rows,
    and the recorded stats per file."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_files,
    )

    snapshot_overwrite(
        spark.range(0, 100)
        .selectExpr("id as k", "cast(id as double) as v")
        .repartition(4),
        table,
        stats_cols=["k"],
    )
    snapshot_delete_dv(spark, table, "k < 10")
    out = snapshot_files(spark, table).collect()
    assert len(out) == 4
    assert sum(r.num_rows for r in out) == 100
    assert sum(r.num_live_rows for r in out) == 90
    assert any(r.has_deletion_vector for r in out)
    for r in out:
        assert r.size_bytes > 0
        assert "k" in r.stats and len(r.stats["k"]) == 3
    # time travel: version 1 has no vectors
    v1 = snapshot_files(spark, table, version=1).collect()
    assert sum(r.num_live_rows for r in v1) == 100
    assert not any(r.has_deletion_vector for r in v1)


def test_zorder_skewed_and_negative_distributions(spark, table):
    """Equi-depth bucketing must keep the Z-curve balanced under skew and
    handle negative values: content preserved exactly, and per-file
    ranges on both columns still prune on the non-leading column."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_zorder,
    )

    # zipf-ish skew on a, negatives on b
    df = spark.sql(
        "select id as k, cast(pow(2, id % 12) as bigint) as a, "
        "cast(id % 97 - 48 as bigint) as b, cast(id as double) as v "
        "from range(20000)"
    )
    snapshot_overwrite(df.repartition(8), table, stats_cols=["k"])
    ver = snapshot_zorder(spark, table, ["a", "b"], target_file_bytes=24_000)
    m = _read_manifest(spark, table, ver)
    stats = m["file_stats"]
    n = len(m["files"])
    assert n >= 4

    def surviving(col, lo, hi):
        keep = 0
        for f in m["files"]:
            row = stats.get(f, {}).get(col)
            if row is None or row[0] is None:
                keep += row is None
                continue
            if row[0] <= hi and lo <= row[1]:
                keep += 1
        return keep

    assert surviving("b", -48, -40) < n  # negative range prunes
    assert surviving("a", 1, 2) < n      # skewed column still prunes
    before = snapshot_read(spark, table, 1)
    after = snapshot_read(spark, table, ver)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_scan_multi_prunes_on_every_dimension(spark, table):
    """snapshot_scan(ranges=...): file pruning factors multiply across
    predicates on a Z-ordered table, and the result equals the plain
    doubly-filtered read."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_scan,
        snapshot_zorder,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    snapshot_overwrite(
        li.repartition(8), table, stats_cols=["l_partkey", "l_suppkey"]
    )
    v = snapshot_zorder(
        spark, table, ["l_partkey", "l_suppkey"], target_file_bytes=64_000
    )
    m = _read_manifest(spark, table, v)
    stats, n = m["file_stats"], len(m["files"])

    def surviving(rngs):
        keep = 0
        for f in m["files"]:
            ok = True
            for col, (lo, hi) in rngs.items():
                row = stats.get(f, {}).get(col)
                if row is None or row[0] is None:
                    ok = ok and row is None
                    continue
                if not (row[0] <= hi and lo <= row[1]):
                    ok = False
            keep += ok
        return keep

    both = surviving({"l_partkey": (100, 160), "l_suppkey": (2, 40)})
    only_a = surviving({"l_partkey": (100, 160)})
    only_b = surviving({"l_suppkey": (2, 40)})
    assert only_a < n and only_b < n
    assert both <= min(only_a, only_b)
    got = snapshot_scan(
        spark, table, ranges={"l_partkey": (100, 160), "l_suppkey": (2, 40)}
    )
    want = snapshot_read(spark, table).filter(
        "l_partkey between 100 and 160 and l_suppkey between 2 and 40"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---- concurrent-METADATA races (Delta's ConcurrentMetadataUpdate class) ----
#
# The commuting-ops fuzz can never see these: a rename/drop/add-constraint
# landing between an op's data-file write and its manifest claim changes
# what the committed manifest MEANS for files written under the old
# metadata. Each test injects the racer deterministically at the exact
# write→claim window via a _write_data_files hook.


def _race_after_write(monkeypatch, racer):
    """Run ``racer()`` once, immediately after the next engine data-file
    write returns — i.e. inside the write→claim window."""
    import bookstore_aws_lakehouse_spark.sources.snapshots as S

    real = S._write_data_files
    fired = {}

    def hooked(df_, table_, **kw):
        files = real(df_, table_, **kw)
        if not fired:
            fired["x"] = True
            racer()
        return files

    monkeypatch.setattr(S, "_write_data_files", hooked)


def _all_data_files_tracked(spark, table):
    import os

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        list_versions,
    )

    tracked = set()
    for v in list_versions(spark, table):
        for f in _read_manifest(spark, table, v)["files"]:
            tracked.add("/" + f[5:].lstrip("/") if f.startswith("file:") else f)
    on_disk = set()
    ddir = os.path.join(table, "data")
    for root, _d, files in os.walk(ddir):
        for f in files:
            if f.endswith(".parquet") or f.startswith("part-"):
                on_disk.add(os.path.join(root, f))
    return on_disk <= tracked


def test_append_racing_rename_aborts_not_corrupts(spark, table, monkeypatch):
    """A rename landing in an append's write→claim window would make the
    committed mapping disagree with the appended files' physical columns
    (wrong-column / resurrected reads). The append must abort loudly —
    Delta's ConcurrentMetadataUpdate — and leave no orphan files."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConflictError,
        snapshot_rename_column,
    )

    df0 = spark.createDataFrame([(1, 10.0)], "k int, amount double")
    snapshot_overwrite(df0, table)
    _race_after_write(
        monkeypatch,
        lambda: snapshot_rename_column(spark, table, "amount", "price"),
    )
    delta = spark.createDataFrame([(2, 20.0)], "k int, amount double")
    with pytest.raises(SnapshotConflictError, match="rename/drop"):
        snapshot_append(delta, table, merge_schema=True)
    assert _all_data_files_tracked(spark, table)
    # the caller's documented recovery — re-run against the new metadata —
    # works and reads back in the RIGHT column
    retry = spark.createDataFrame([(2, 20.0)], "k int, price double")
    snapshot_append(retry, table)
    rows = {r.k: r.price for r in snapshot_read(spark, table).collect()}
    assert rows == {1: 10.0, 2: 20.0}


def test_append_racing_add_constraint_revalidates(spark, table, monkeypatch):
    """An ADD CONSTRAINT landing in the append's write→claim window binds
    the append's rows: the commit inherits the new set, so unvalidated
    violating rows must be rejected (and their files reclaimed), never
    committed unchecked."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_add_constraint,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    _race_after_write(
        monkeypatch,
        lambda: snapshot_add_constraint(spark, table, "pos", "amount >= 0"),
    )
    bad = spark.createDataFrame([(2, -5.0)], "k int, amount double")
    with pytest.raises(SnapshotConstraintError, match="pos"):
        snapshot_append(bad, table)
    assert _all_data_files_tracked(spark, table)
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [1]


def test_overwrite_racing_rename_commits_write_time_mapping(
    spark, table, monkeypatch
):
    """An overwrite's files are written with the pre-race mapping's
    physical names; the commit must carry THAT mapping, not the racing
    rename's — inheriting the claim-time tip's would resolve the logical
    column to a physical name the new parquet files don't contain
    (silent NULLs)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_rename_column,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    snapshot_rename_column(spark, table, "amount", "price")  # phys: amount
    _race_after_write(
        monkeypatch,
        lambda: snapshot_rename_column(spark, table, "price", "cost"),
    )
    snapshot_overwrite(
        spark.createDataFrame([(7, 70.0)], "k int, price double"), table
    )
    out = snapshot_read(spark, table).collect()
    assert [(r.k, r.price) for r in out] == [(7, 70.0)]  # not NULL


def test_merge_racing_add_constraint_revalidates(spark, table, monkeypatch):
    """MERGE's delta was validated against the pre-race constraint set;
    a racing ADD CONSTRAINT must be re-checked against the delta at
    claim time (the racer's own commit validated the kept rows)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_add_constraint,
    )

    snapshot_overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, amount double"), table
    )
    _race_after_write(
        monkeypatch,
        lambda: snapshot_add_constraint(spark, table, "pos", "amount >= 0"),
    )
    bad = spark.createDataFrame([(2, -5.0)], "k int, amount double")
    with pytest.raises(SnapshotConstraintError, match="pos"):
        snapshot_merge(bad, table, ["k"])
    assert _all_data_files_tracked(spark, table)
    assert sorted(r.k for r in snapshot_read(spark, table).collect()) == [1]


_scan_rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),   # a
        st.integers(min_value=-50, max_value=50),   # b
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # c
    ),
    min_size=1,
    max_size=40,
)
_range = st.tuples(
    st.integers(min_value=-60, max_value=60), st.integers(min_value=-60, max_value=60)
).map(lambda t: (min(t), max(t)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_scan_rows, ra=_range, rb=_range, use_c=st.booleans())
def test_scan_multi_pruning_never_changes_semantics(
    spark, tmp_path_factory, rows, ra, rb, use_c
):
    """Property: snapshot_scan(ranges=...) over ANY data layout and range set
    equals the plain read + conjunctive filter — file pruning on
    recorded stats (including NULLable and all-NULL columns) is a pure
    optimization, never a semantics change."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
        snapshot_scan,
        snapshot_zorder,
    )

    table = str(tmp_path_factory.mktemp("scanprop") / "t")
    df = spark.createDataFrame(rows, "a int, b int, c int")
    snapshot_overwrite(
        df.repartition(4), table, stats_cols=["a", "b", "c"]
    )
    snapshot_zorder(spark, table, ["a", "b"], target_file_bytes=4_000, bits=4)
    ranges = {"a": ra, "b": rb}
    if use_c:
        ranges["c"] = (-2, 3)
    pred = None
    for col, (lo, hi) in ranges.items():
        c = (F.col(col) >= lo) & (F.col(col) <= hi)
        pred = c if pred is None else pred & c
    want = sorted(
        map(tuple, snapshot_read(spark, table).filter(pred).collect())
    )
    got = sorted(
        map(tuple, snapshot_scan(spark, table, ranges=ranges).collect())
    )
    assert got == want


def test_stat_norm_canonical_ordering():
    """_stat_norm: tz-aware and (host-UTC) naive twins land on the SAME
    string (boundary-equality probes must not mis-prune), dates
    midnight-extend to the fixed-width form, and lexicographic order of
    the canonical strings equals chronological order. TZ is pinned to
    UTC inside the test (ADVICE r10) — the naive==aware assertion is a
    UTC-host statement, not a container assumption."""
    import datetime as dt
    import os
    import time

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        _stat_norm_canonical_ordering_body(dt)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _stat_norm_canonical_ordering_body(dt):
    from bookstore_aws_lakehouse_spark.sources.snapshots import _stat_norm

    aware = dt.datetime(2026, 8, 15, 4, 30, 0, 500, tzinfo=dt.timezone.utc)
    naive = dt.datetime(2026, 8, 15, 4, 30, 0, 500)  # TZ pinned UTC above
    assert _stat_norm(aware) == _stat_norm(naive) == "2026-08-15T04:30:00.000500"
    assert _stat_norm(dt.date(2026, 8, 15)) == "2026-08-15T00:00:00.000000"
    seq = [
        dt.datetime(2026, 8, 15, 4, 30, 0, 499),
        dt.datetime(2026, 8, 15, 4, 30, 0, 500),
        dt.datetime(2026, 8, 15, 4, 30, 1),
        dt.datetime(2026, 8, 16),
        dt.datetime(2027, 1, 1),
    ]
    canon = [_stat_norm(v) for v in seq]
    assert canon == sorted(canon)
    assert _stat_norm(None) is None and _stat_norm(7) == 7


def test_stat_norm_naive_datetime_is_host_local():
    """ADVICE r9 (medium): a NAIVE probe datetime must normalize to the
    same UTC instant PySpark's TimestampType.toInternal produces (mktime
    → host zone), not pass through as-UTC — on a non-UTC host the old
    pass-through made the prune bound and the actual filter disagree by
    the UTC offset, silently skipping files with matching rows."""
    import datetime as dt
    import os
    import time

    from bookstore_aws_lakehouse_spark.sources.snapshots import _stat_norm

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        naive = dt.datetime(2024, 1, 1, 12, 0, 0)  # EST, no DST ambiguity
        # the instant the actual filter evaluates: mktime semantics
        epoch = time.mktime(naive.timetuple())
        want = dt.datetime.fromtimestamp(epoch, dt.timezone.utc).replace(
            tzinfo=None
        )
        assert want == dt.datetime(2024, 1, 1, 17, 0, 0)  # UTC-5
        assert _stat_norm(naive) == want.isoformat(timespec="microseconds")
        # a tz-aware twin of the same instant normalizes identically
        assert _stat_norm(naive.astimezone()) == _stat_norm(naive)
        # DST-ambiguous local time (ADVICE r10): 2024-11-03 01:30 EST/EDT
        # exists twice; mktime (tm_isdst=-1) and astimezone (fold=0) may
        # pick different instants — the normalizer must land EXACTLY where
        # the filter's toInternal lands, microseconds carried
        fold = dt.datetime(2024, 11, 3, 1, 30, 0, 250)
        want_fold = dt.datetime.fromtimestamp(
            int(time.mktime(fold.timetuple())), dt.timezone.utc
        ).replace(tzinfo=None) + dt.timedelta(microseconds=250)
        assert _stat_norm(fold) == want_fold.isoformat(timespec="microseconds")
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_zorder_on_timestamp_column_prunes_and_preserves(spark, table):
    """OPTIMIZE ZORDER BY (ts, user_id) on an events fact — the single
    most common real Z-order shape (time + entity). Temporal file stats
    ride the manifest as canonical ISO strings; datetime probes through
    snapshot_scan(ranges=...) must (a) return exactly read+filter — including
    a lo==hi probe equal to one row's timestamp, the boundary-equality
    case a sloppier normalization would mis-prune — and (b) skip files
    on BOTH dimensions."""
    import datetime as dt

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        _stat_norm,
        snapshot_read,
        snapshot_scan,
        snapshot_zorder,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    snapshot_overwrite(
        ev.repartitionByRange(12, "event_id").sortWithinPartitions("event_id"),
        table,
        stats_cols=["event_id"],
    )
    v = snapshot_zorder(
        spark, table, ["ts", "user_id"], target_file_bytes=32_000
    )
    m = _read_manifest(spark, table, v)
    stats = m["file_stats"]
    n = len(m["files"])
    assert n >= 4
    ts_rows = [stats[f]["ts"] for f in m["files"] if "ts" in stats.get(f, {})]
    assert ts_rows and all(isinstance(r[0], str) for r in ts_rows)

    # probe window: the middle third of the time domain × a user band
    all_ts = sorted(r.ts for r in ev.select("ts").collect() if r.ts is not None)
    # a band fully inside the lower half of the time domain — a probe
    # straddling the global median can never prune a 2-dim Z layout
    lo_ts, hi_ts = all_ts[len(all_ts) // 3], all_ts[(len(all_ts) * 43) // 100]
    got = snapshot_scan(
        spark, table, ranges={"ts": (lo_ts, hi_ts), "user_id": (5, 40)}
    )
    exp = snapshot_read(spark, table).filter(
        (F.col("ts") >= F.lit(lo_ts))
        & (F.col("ts") <= F.lit(hi_ts))
        & (F.col("user_id") >= 5)
        & (F.col("user_id") <= 40)
    )
    key = lambda r: (r.event_id, r.ts, r.user_id)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(exp.collect(), key=key)

    # both dimensions prune (canonical-form compare, same as the scan's)
    def surviving(col, lo, hi):
        lo, hi = _stat_norm(lo), _stat_norm(hi)
        keep = 0
        for f in m["files"]:
            row = stats.get(f, {}).get(col)
            if row is None:
                keep += 1
            elif row[0] is not None and row[0] <= hi and lo <= row[1]:
                keep += 1
        return keep

    assert surviving("ts", lo_ts, hi_ts) < n
    assert surviving("user_id", 5, 40) < n

    # boundary equality: a point probe at one row's exact timestamp must
    # return that row (a file whose min/max equals the probe must not be
    # pruned by string-form skew)
    pin = all_ts[len(all_ts) // 4]
    got_pin = snapshot_scan(spark, table, ranges={"ts": (pin, pin)}).collect()
    exp_pin = (
        snapshot_read(spark, table).filter(F.col("ts") == F.lit(pin)).collect()
    )
    assert len(got_pin) == len(exp_pin) >= 1


def test_zorder_refuses_string_column(spark, table):
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_zorder

    snapshot_overwrite(
        spark.createDataFrame([(1, "a")], "k int, s string"), table
    )
    with pytest.raises(ValueError, match="numeric/temporal"):
        snapshot_zorder(spark, table, ["s"])


_ts_rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),    # a
        st.one_of(                                   # hours from epoch, NULLable
            st.none(), st.integers(min_value=0, max_value=2000)
        ),
    ),
    min_size=1,
    max_size=40,
)
_ts_range = st.tuples(
    st.integers(min_value=-100, max_value=2100),
    st.integers(min_value=-100, max_value=2100),
).map(lambda t: (min(t), max(t)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_ts_rows, ra=_range, rt=_ts_range)
def test_scan_multi_temporal_pruning_never_changes_semantics(
    spark, tmp_path_factory, rows, ra, rt
):
    """Property (temporal twin of the numeric test above): a Z-ordered
    (int, timestamp) layout probed with random datetime ranges — stats
    in canonical ISO form, probes normalized at the compare site —
    always equals the plain read + filter, NULL timestamps included."""
    import datetime as dt

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
        snapshot_scan,
        snapshot_zorder,
    )

    base = dt.datetime(2026, 1, 1)
    table = str(tmp_path_factory.mktemp("scants") / "t")
    df = spark.createDataFrame(
        [
            (a, None if h is None else base + dt.timedelta(hours=h))
            for a, h in rows
        ],
        "a int, ts timestamp",
    )
    snapshot_overwrite(df.repartition(4), table, stats_cols=["a", "ts"])
    snapshot_zorder(spark, table, ["a", "ts"], target_file_bytes=4_000, bits=4)
    lo_ts = base + dt.timedelta(hours=rt[0])
    hi_ts = base + dt.timedelta(hours=rt[1])
    ranges = {"a": ra, "ts": (lo_ts, hi_ts)}
    pred = (
        (F.col("a") >= ra[0])
        & (F.col("a") <= ra[1])
        & (F.col("ts") >= F.lit(lo_ts))
        & (F.col("ts") <= F.lit(hi_ts))
    )
    want = sorted(
        map(tuple, snapshot_read(spark, table).filter(pred).collect())
    )
    got = sorted(
        map(tuple, snapshot_scan(spark, table, ranges=ranges).collect())
    )
    assert got == want


def test_point_lookup_on_timestamp_column_prunes_both_layers(spark, table):
    """snapshot_point_lookup on a TIMESTAMP key: min/max stats (ISO
    canonical) and the bloom index (JVM-hashed via lit(ts).cast) must
    both participate — a present needle returns its rows, an absent
    in-range needle is bloom-pruned to zero files read, and an
    out-of-range needle is stats-pruned."""
    import datetime as dt

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        snapshot_bloom_index,
        snapshot_point_lookup,
    )

    base = dt.datetime(2026, 3, 1)
    rows = [(i, base + dt.timedelta(hours=2 * i)) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp")
    snapshot_overwrite(
        df.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        table,
        stats_cols=["ts"],
    )
    snapshot_bloom_index(spark, table, "ts")

    present = base + dt.timedelta(hours=2 * 77)
    got = snapshot_point_lookup(spark, table, "ts", present).collect()
    assert [r.k for r in got] == [77]
    files, all_files, _, _ = _point_lookup_files(
        spark, table, "ts", present, None
    )
    assert len(files) < len(all_files)  # stats alone prune to one band

    # in-range but absent (odd hour): the bloom layer must prove it out
    absent = base + dt.timedelta(hours=2 * 77 + 1)
    files, all_files, _, _ = _point_lookup_files(
        spark, table, "ts", absent, None
    )
    assert files == []
    assert snapshot_point_lookup(spark, table, "ts", absent).collect() == []

    # out of range entirely: stats prune every file
    files, _, _, _ = _point_lookup_files(
        spark, table, "ts", base - dt.timedelta(days=30), None
    )
    assert files == []
