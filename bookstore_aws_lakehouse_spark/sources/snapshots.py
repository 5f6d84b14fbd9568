"""Manifest-versioned parquet tables: the in-repo stand-in for a lakehouse
table format (Delta/Iceberg), built from nothing but parquet + a JSON
commit log — because this sandbox verifiably ships no delta/iceberg
runtime (no python module, no jars, offline package fetch; NOTES_r7).

Layout (all paths via the Hadoop FileSystem API, so file:// , hdfs:// and
s3a:// behave identically):

    <table>/
      data/tx-<uuid>/part-*.parquet     -- immutable data files, one dir per commit
      _manifests/v<N>.json              -- commit N: file list + schema + op metadata

Semantics this buys over bare parquet directories:

- **Snapshot isolation**: a reader pins one manifest; writers never delete
  or rewrite a committed data file, so concurrent reads see a consistent
  version even while a MERGE commits. (Rewriting a bare directory in
  place deletes the files a concurrent reader's plan references.)
- **Time travel**: every version stays readable until ``vacuum``.
- **Atomic commit with conflict detection**: a manifest claims
  ``v<N>.json`` by an exclusive create (``_claim_version``). Every writer
  commits through ONE optimistic-concurrency loop (``_commit_loop``, the
  Delta contract): read the tip, compose against it, claim exactly
  tip+1; a lost claim reclaims the attempt's files and retries against
  the new tip a bounded number of times, any other failure reclaims them
  and raises. Writers differ only in their compose step — append and
  overwrite recompose a manifest over files written once; rewriting
  writers recompute. Merges additionally resolve conflict CLASSES: a
  merge provably disjoint from every racing commit (the racers kept all
  files this merge rewrote, and every file they added is stats-excluded
  from this merge's partition values) REBASES its already-written files
  onto the new tip without recomputing the merge — only overlapping
  writers pay the recompute (``_try_rebase``).
- **Logical operations**: append = old files ∪ new files; overwrite = new
  files only; every copy-on-write op (merge, delete, update, optimize,
  ...) = carried files ∪ a rewrite of the rest (``_rewrite``), with
  per-file stats carried for the former and re-collected for the latter;
  a full-rewrite op simply carries nothing.

Scale shape: a commit writes only its delta's data files plus one small
JSON manifest; readers do ONE metadata read (the latest manifest) and then
a plain multi-path parquet scan — Catalyst sees an ordinary FileSourceScan
with pushdown/pruning intact. The manifest grows with file count per
snapshot, exactly like Delta's checkpointed log; at 100 TB one would add
manifest compaction, which ``vacuum`` already approximates by dropping
expired versions.

Reference parity: the reference's mart is overwrite-loaded CSV folders on
S3 (`workflow/Loader.py:2-3`); this module is the §1.5-mapped lakehouse
upgrade of that sink.
"""

from __future__ import annotations

import functools
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
#: deletion-vector sidecars: (file, pos) parquet under <table>/_dv/tx-*/
_DV_DIR = "_dv"
#: bounded optimistic-concurrency retries: losing this many consecutive
#: version races means a pathologically hot commit loop, not bad luck
_MAX_COMMIT_RETRIES = 50


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _list_parquet_files(spark: SparkSession, directory: str) -> list[str]:
    """Part-file paths (absolute URIs) under one commit's tx dir."""
    fs, hpath, _ = _fs(spark, directory)
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.endswith(".parquet") or name.startswith("part-"):
            if not name.startswith("_") and not name.endswith(".crc"):
                out.append(st.getPath().toString())
    return sorted(out)


def _manifest_path(table: str, version: int) -> str:
    return f"{table.rstrip('/')}/{_MANIFEST_DIR}/v{version}.json"


def _read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    fs, hpath, jvm = _fs(spark, _manifest_path(table, version))
    stream = fs.open(hpath)
    try:
        # IOUtils drains the JVM-side stream in one call; py4j hands the
        # byte[] back as Python bytes (a Python-side read(buf) loop can't
        # work — py4j passes buffer copies, never mutates the original)
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        return json.loads(data.decode("utf-8"))
    finally:
        stream.close()


def list_versions(spark: SparkSession, table: str) -> list[int]:
    fs, hpath, _ = _fs(spark, f"{table.rstrip('/')}/{_MANIFEST_DIR}")
    if not fs.exists(hpath):
        return []
    versions = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions)


def _resolve(
    spark: SparkSession, table: str, version: int | None = None
) -> tuple[int, dict]:
    """``(version, manifest)`` of one committed snapshot (default: the
    tip) — the version lookup every reader pins its scan to."""
    versions = list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {table} (have {versions})")
    return v, _read_manifest(spark, table, v)


class SnapshotConflictError(RuntimeError):
    """A commit's base version was superseded more times than the
    writer's retry bound allows, or (append) a concurrent column rename/
    drop invalidated files already written — re-run the operation.
    Blindly taking the next free number instead would LOSE the racing
    writer's changes (the manifest was composed against stale state)."""


class _LostRace(SnapshotConflictError):
    """The claim of exactly tip+1 found that version taken: the one
    conflict that re-reading the tip and composing again resolves."""


def _claim_version(spark: SparkSession, table: str, manifest: dict, v: int) -> bool:
    """Atomically claim AND publish ``v<v>.json``. True on success, False
    if the version already exists (lost the race).

    The claim must also be an atomic PUBLISH: the old exclusive-create-
    then-write sequence made the version name visible (the claim) before
    the payload landed, so a concurrent reader listing versions could
    open the new tip and read zero/partial bytes — the concurrent-writer
    fuzz caught exactly that (EOF on a half-written manifest). On a
    local filesystem the payload is therefore written to a temp name and
    hard-linked into place: ``link(2)`` is atomic, fails EEXIST when the
    version is already claimed, and readers can only ever observe a
    complete manifest. (Delta on HDFS gets this from atomic no-overwrite
    rename.)"""
    manifest["version"] = v
    payload = json.dumps(manifest, sort_keys=True).encode("utf-8")
    target_str = _manifest_path(table, v)
    local = (
        "/" + target_str[5:].lstrip("/")
        if target_str.startswith("file:")
        else (target_str if "://" not in target_str else None)
    )
    if local is not None:
        import os as _os

        _os.makedirs(_os.path.dirname(local), exist_ok=True)
        tmp = f"{local}.tmp-{uuid.uuid4().hex[:12]}"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            _os.fsync(f.fileno())
        try:
            _os.link(tmp, local)
        except FileExistsError:
            return False
        finally:
            _os.unlink(tmp)
        return True
    # remote FS fallback: exclusive create (HDFS rename-based commit
    # services are the production answer; this path is not the sandbox's)
    fs, _, jvm = _fs(spark, table)
    target = jvm.org.apache.hadoop.fs.Path(target_str)
    try:
        out = fs.create(target, False)  # overwrite=False: exclusive
    except Exception:
        # ONLY a lost version race returns False — and the proof of a
        # race is that the target manifest now EXISTS (Hadoop's local FS
        # raises FileAlreadyExistsException for unrelated causes too,
        # e.g. a parent that is not a directory). A permissions/disk/
        # path error must surface, not masquerade as 50 lost races.
        try:
            if fs.exists(target):
                return False
        except Exception:
            pass
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    return True


def _try_commit(
    spark: SparkSession, table: str, manifest: dict, version: int
) -> int:
    """Claim EXACTLY ``version`` for a manifest composed against
    ``version - 1``; a racing writer holding it raises :class:`_LostRace`
    so the caller re-reads and recomposes instead of silently dropping
    the racer's files — the optimistic-concurrency contract Delta's
    commit protocol enforces. Even a state-INDEPENDENT overwrite claims
    exactly tip+1: the table facts it inherits are read from that tip."""
    if _claim_version(spark, table, manifest, version):
        return version
    raise _LostRace(
        f"version {version} on {table} was taken by a concurrent writer; "
        f"re-read and retry the operation"
    )


def _delete_files(spark: SparkSession, files: list[str]) -> None:
    """Remove orphaned data files from an aborted commit attempt — they
    are referenced by no manifest, so vacuum would never reclaim them."""
    if not files:
        return
    fs, _, jvm = _fs(spark, files[0])
    for f in files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)


def _write_data_files(
    df: DataFrame,
    table: str,
    subdir: str = _DATA_DIR,
    schema_replacing: bool = False,
    tip_manifest: dict | None = None,
) -> list[str]:
    """Write ``df`` as an immutable commit directory; returns its files.
    Zero-row part files (empty shuffle buckets under an explicit
    repartition) are deleted and excluded — they carry no data but would
    otherwise ride every future manifest as permanently-carried files."""
    spark = df.sparkSession
    if subdir == _DATA_DIR:
        # column mapping: files store physical names (frozen at column
        # birth); a never-renamed column's physical IS its logical name.
        # Every data write passes the tip it composes against; None is a
        # new table, which has no mapping (a racer that creates it first
        # holds v1, so the claim loses and the retry sees the real tip).
        mapping = (tip_manifest or {}).get("column_mapping") or {}
        retired = (tip_manifest or {}).get("retired_physical") or []
        # a NEW column (absent from the mapping) must not collide with a
        # retired physical name (would resurrect dropped data) NOR with
        # the in-use physical name of a RENAMED column (its physical
        # schema would gain a duplicate field and the table tip would
        # become unreadable)
        # an OVERWRITE replaces the whole schema and every file, so a
        # column re-using a renamed column's physical name is fine WHEN
        # the mapped column is gone from the committed schema — but if
        # the overwrite df carries BOTH the renamed logical column and a
        # new column equal to its frozen physical name, the rename below
        # would manufacture duplicate physical fields and the parquet
        # write fails opaquely; refuse that sub-case up front. Appends/
        # merges carry old files and must refuse every collision.
        other_phys = (
            {p for l, p in mapping.items() if l != p and l in df.columns}
            if schema_replacing
            else {p for l, p in mapping.items() if l != p}
        )
        clash = [
            c
            for c in df.columns
            if c not in mapping and (c in set(retired) or c in other_phys)
        ]
        if clash:
            raise ValueError(
                f"column name(s) {clash} collide with physical column names "
                f"of {table}'s data files (a dropped column's retired name, "
                f"or a renamed column's frozen physical name) — pick a "
                f"different logical name"
            )
        renames = {
            l: p for l, p in mapping.items() if l != p and l in df.columns
        }
        if renames:
            df = df.withColumnsRenamed(renames)
    tx_dir = f"{table.rstrip('/')}/{subdir}/tx-{uuid.uuid4().hex[:12]}"
    # timestamps as INT64 micros, not Spark's legacy INT96: INT96 column
    # chunks carry NO parquet min/max statistics, so every temporal
    # column would silently lose file-level pruning (stats collection
    # skips it and scans degrade to conservative full reads). INT64 is
    # what Delta/Iceberg write; pyarrow reads it back as timestamp[us].
    # Scoped to THIS write (save + restore): a bare conf.set would
    # permanently override a user's explicit INT96 choice for every
    # subsequent non-snapshot write in the session (ADVICE r9).
    _TS_KEY = "spark.sql.parquet.outputTimestampType"
    prev_ts = spark.conf.get(_TS_KEY, None)
    spark.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
    try:
        df.write.mode("error").parquet(tx_dir)
    finally:
        if prev_ts is None:
            spark.conf.unset(_TS_KEY)
        else:
            spark.conf.set(_TS_KEY, prev_ts)
    files = _list_parquet_files(spark, tx_dir)
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return files
    kept = []
    fs = None
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        if "://" in path:  # remote: can't cheaply check, keep
            kept.append(uri)
            continue
        try:
            empty = pq.ParquetFile(path).metadata.num_rows == 0
        except OSError:
            kept.append(uri)
            continue
        if empty:
            if fs is None:
                fs, _, jvm = _fs(spark, uri)
            fs.delete(jvm.org.apache.hadoop.fs.Path(uri), False)
        else:
            kept.append(uri)
    return kept


class SnapshotConstraintError(ValueError):
    """A data-adding commit violated one of the table's CHECK constraints
    (``snapshot_add_constraint``). The commit was rejected and its data
    files reclaimed — the table is unchanged."""


def _tip_constraints(spark: SparkSession, table: str) -> dict[str, str]:
    """The table's active constraints as of the current tip (empty for a
    new or unconstrained table)."""
    versions = list_versions(spark, table)
    if not versions:
        return {}
    return _read_manifest(spark, table, versions[-1]).get("constraints") or {}


def _validate_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """SQL CHECK semantics: a row violates a constraint only when the
    expression evaluates to FALSE (NULL passes, as in the standard and in
    Delta). One count job over the DELTA — O(commit), never the table."""
    from pyspark.sql import functions as F

    for name, expr in constraints.items():
        n_bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).count()
        if n_bad:
            raise SnapshotConstraintError(
                f"constraint {name!r} ({expr}) violated by {n_bad} row(s) "
                f"in this commit's data"
            )


def _checked_written(
    spark: SparkSession,
    schema: StructType,
    files: list[str],
    tip: dict,
    constraints: dict[str, str],
):
    """Validate freshly written, uncommitted ``files`` against
    ``constraints`` (reclaiming them on a violation) and return the
    ``_commit`` ``delta`` function that reads them back. Checking the
    files, not the frame they were written from, checks exactly the rows
    that commit: a nondeterministic frame evaluated twice could differ.
    An unconstrained table reads nothing back."""

    def written() -> DataFrame:
        return _read_data_files(spark, schema, files, tip)

    if constraints:
        try:
            _validate_constraints(written(), constraints)
        except SnapshotConstraintError:
            _delete_files(spark, files)
            raise
    return written


# MANIFEST FACT KEYS — the carry checklist. Any new key added to a
# manifest must be threaded through EVERY commit path or it is silently
# lost on the next commit of that path:
#   _commit (every writer commits through it inside _commit_loop):
#     file_stats (explicit arg — _rewrite_stats composes the carried
#     files' entries with re-collected ones for every copy-on-write op
#     through _rewrite, and for append and the partitioned merge and its
#     rebase directly); file_blooms, constraints, dv,
#     txn, column_mapping, retired_physical (inherited from the loop's
#     tip unless the writer passes them explicitly)
#   hand-built manifests (explicit copy lists — grep these when adding a
#     key): snapshot_restore (txn merges by max) and snapshot_clone
#     (deliberately omits txn — a fork is a new writer identity).
# The review that added this list found keys dropped exactly this way
# (dv in drop_constraint, txn in restore).


def _commit(
    spark: SparkSession,
    table: str,
    operation: str,
    files: list[str],
    schema: StructType,
    tip_v: int,
    tip: dict | None,
    file_stats: dict | None = None,
    file_blooms: dict | None = None,
    constraints: dict | None = None,
    app: dict | None = None,
    dv: dict | None = None,
    txn: tuple[str, int] | None = None,
    column_mapping: dict | None = None,
    retired_physical: list | None = None,
    delta: DataFrame | None = None,
    constraints_validated: dict | None = None,
    extra: dict | None = None,
) -> int:
    """Compose the manifest committing ``files`` under ``schema`` against
    the tip ``tip`` (version ``tip_v``; None for a new table) and claim
    exactly ``tip_v + 1`` — :class:`_LostRace` when a racer holds it.
    Every fact but ``file_stats`` (always explicit) is inherited from the
    tip when left as None.

    ``column_mapping``: explicit logical→physical map describing how
    THIS commit's files store their columns (a per-file fact, like
    stats). Schema-replacing commits pass the mapping their files were
    actually written with — inheriting the tip's instead would let a
    racing rename land a mapping the files don't satisfy (logical names
    resolving to physical columns the parquet lacks).
    ``delta`` / ``constraints_validated``: a zero-argument function
    returning exactly the rows this commit adds (never a re-evaluation
    that could differ from them), and the constraint set the caller
    validated them against; when the inherited tip constraints differ (a
    racing ADD CONSTRAINT), ``delta()`` is re-validated before claiming
    so no unchecked rows ride in.
    ``extra``: operation metadata stored verbatim in the manifest."""
    tip = tip or {}
    if constraints is None:
        # constraints are table-level facts every commit carries forward
        # unless explicitly replacing them (snapshot_add/drop_constraint)
        constraints = tip.get("constraints") or {}
        if delta is not None and constraints != constraints_validated:
            _validate_constraints(delta(), constraints)  # raises on violation
    if file_blooms is None:
        # bloom entries are PER-FILE facts about immutable files — any
        # entry whose file this commit still references stays valid
        # verbatim. Ops that rewrite files produce new names, so stale
        # entries can't survive; new files are simply unindexed
        # (conservative). Best-effort: absence is safe.
        prev = tip.get("file_blooms") or {}
        file_blooms = {f: prev[f] for f in files if f in prev}
    if dv is None:
        # deletion vectors are per-file facts like blooms: entries
        # survive exactly as long as their data file stays referenced
        # (a rewriting op drops the file, and with it the dead rows),
        # and the sidecar list rides along while any entry survives
        prev_dv = tip.get("dv") or {}
        prev_card = prev_dv.get("cardinality") or {}
        dv = {
            "sidecars": prev_dv.get("sidecars") or [],
            "cardinality": {f: prev_card[f] for f in files if f in prev_card},
        }
    # idempotent-writer watermarks ride the TIP (not the whole log):
    # one manifest read answers "was (app, version) already applied",
    # and vacuum dropping old manifests can't forget a watermark
    txn_map = dict(tip.get("txn") or {})
    if txn is not None:
        app_id, v = txn
        txn_map[app_id] = max(int(v), int(txn_map.get(app_id, v)))
    # column mapping rides every commit: entries for logical names still
    # in the committed schema persist; a vanished logical (overwrite with
    # a redefined schema) just drops its entry — overwrite replaces every
    # file, so nothing can resurrect and NO retirement is added (retiring
    # here once bricked the revert-a-rename case: the vanished logical's
    # physical equalled a committed column). Genuine retirement happens
    # in snapshot_drop_column only.
    if column_mapping is None:
        column_mapping = tip.get("column_mapping") or {}
    names = set(schema.names)
    column_mapping = {l: p for l, p in column_mapping.items() if l in names}
    if retired_physical is None:
        retired_physical = tip.get("retired_physical") or []
    manifest = {
        "operation": operation,
        "files": files,
        "schema": json.loads(schema.json()),
        "committed_at_unix": round(time.time(), 3),
        **(extra or {}),
    }
    # application metadata (``app``) rides the commit ATOMICALLY (Delta's
    # txn/commitInfo analog): e.g. the materialized-view watermark
    # advances in the same manifest write that publishes the mart
    # content, so no crash window can separate the two
    for key, value in (
        ("txn", txn_map),
        ("column_mapping", column_mapping),
        ("retired_physical", retired_physical),
        ("file_stats", file_stats),
        ("file_blooms", file_blooms),
        ("constraints", constraints),
        ("app", app),
    ):
        if value:
            manifest[key] = value
    if dv.get("cardinality"):
        manifest["dv"] = dv
    return _try_commit(spark, table, manifest, tip_v + 1)


def _commit_loop(
    spark: SparkSession,
    table: str,
    operation: str,
    compose,
    attempts: int = 3,
    create: bool = False,
    prewritten=(),
) -> int:
    """The optimistic-concurrency loop every writer commits through.

    Each attempt reads the tip once — ``(tip_v, tip)``, or ``(0, None)``
    for a table that does not exist yet (FileNotFoundError unless
    ``create``) — and returns ``compose(tip_v, tip, write)``: the version
    the writer committed against that tip (through ``_commit`` or
    ``_rewrite``, claiming exactly tip_v+1) or a no-op version.
    ``write(df, **kw)`` is ``_write_data_files`` on this table, recording
    the attempt's files. A lost claim (:class:`_LostRace`) reclaims them
    and retries against the new tip; any other exception reclaims them
    and propagates. ``prewritten`` files are written once before the
    loop and reused by every attempt (append, overwrite); they are
    reclaimed only when the loop raises. ``attempts`` bounds consecutive
    lost races: 3 where each attempt recomputes data,
    ``_MAX_COMMIT_RETRIES`` where it only recomposes a manifest."""
    for _ in range(attempts):
        versions = list_versions(spark, table)
        if not versions and not create:
            raise FileNotFoundError(f"no snapshot manifests under {table}")
        tip_v = versions[-1] if versions else 0
        tip = _read_manifest(spark, table, tip_v) if versions else None
        written: list[str] = []

        def write(df: DataFrame, **kw) -> list[str]:
            files = _write_data_files(df, table, **kw)
            written.extend(files)
            return files

        try:
            return compose(tip_v, tip, write)
        except _LostRace:
            _delete_files(spark, written)
        except BaseException:
            # a rejected attempt's files are referenced by no manifest —
            # reclaim them now (vacuum never would)
            _delete_files(spark, written + list(prewritten))
            raise
    _delete_files(spark, list(prewritten))
    raise _LostRace(
        f"{operation} on {table} lost {attempts} consecutive races — retry "
        f"under lower write concurrency"
    )


def _rewrite_stats(
    tip: dict,
    carried: list[str],
    new_files: list[str],
    stats_cols=(),
    cache: dict | None = None,
) -> dict | None:
    """``file_stats`` for a commit of ``carried + new_files`` against
    ``tip``: the tip's entries for the carried files, plus footer stats
    for the new files on every column the tip tracks and ``stats_cols`` —
    so a stats-pruned table keeps whole-file skipping across every
    rewrite instead of silently losing it. ``cache`` (one dict per set
    of new files, keyed by column tuple) lets a writer that commits the
    same files against several tips — append's retries, the partitioned
    merge's rebase — read their footers once."""
    prev_stats = tip.get("file_stats") or {}
    cols = _prev_stats_cols(prev_stats)
    cols += [c for c in stats_cols if c not in cols]
    cache = {} if cache is None else cache
    key = tuple(cols)
    if key not in cache:
        cache[key] = (
            _collect_file_stats(new_files, cols, tip.get("column_mapping") or {})
            if cols
            else None
        )
    carried_stats = {f: prev_stats[f] for f in carried if f in prev_stats}
    return {**carried_stats, **(cache[key] or {})} or None


def _rewrite(
    spark: SparkSession,
    table: str,
    operation: str,
    tip_v: int,
    tip: dict | None,
    write,
    carried: list[str],
    df: DataFrame | None,
    schema: StructType | None = None,
    stats_cols=(),
    **commit_kw,
) -> int:
    """The copy-on-write step of every rewriting writer, run inside its
    ``_commit_loop`` attempt: write ``df`` — the replacement for every
    tip file not in ``carried`` — as new data files, compose their
    re-collected stats with the carried files' (``_rewrite_stats``), and
    commit ``carried + new files`` against the tip. A full rewrite
    carries nothing; ``df`` None rewrites nothing (every file carried).
    ``schema`` defaults to the tip's (``df``'s for a new table);
    ``commit_kw`` passes through to ``_commit``. A lost race propagates:
    the loop reclaims the new files and recomputes."""
    tip = tip or {}
    new_files = write(df, tip_manifest=tip) if df is not None else []
    if schema is None:
        schema = StructType.fromJson(tip["schema"]) if tip else df.schema
    return _commit(
        spark,
        table,
        operation,
        carried + new_files,
        schema,
        tip_v,
        tip,
        file_stats=_rewrite_stats(tip, carried, new_files, stats_cols),
        **commit_kw,
    )


def _check_types(old: StructType, new: StructType, what: str, hint: str) -> None:
    """Refuse a rewrite whose output changes a column's type: the files
    would carry ``new``'s types while the pinned manifest schema stays
    ``old`` — a lying manifest and an unreadable tip. ``hint`` may name
    the table's type as ``{t}``."""
    for f_old, f_new in zip(old.fields, new.fields):
        if f_old.dataType != f_new.dataType:
            t = f_old.dataType.simpleString()
            raise ValueError(
                f"{what} changes column {f_old.name!r} from {t} to "
                f"{f_new.dataType.simpleString()} — {hint.format(t=t)}"
            )


def _stat_norm(v):
    """Canonical JSON-portable form for a stats/probe value. Numerics,
    strings and bools pass through; datetimes and dates become a FIXED-
    WIDTH UTC-naive ISO string (``YYYY-MM-DDTHH:MM:SS.ffffff`` — dates
    midnight-extended) whose lexicographic order equals chronological
    order, so every ``<=`` pruning comparison keeps working across the
    manifest JSON round-trip. The same function normalizes PROBE values
    at the compare sites: stats and probes must land in the identical
    canonical form or boundary-equality probes would mis-prune (a
    tz-aware "…+00:00" string sorts after its naive twin).

    A NAIVE datetime is treated as HOST-LOCAL, because that is what the
    actual filter does: PySpark's ``TimestampType.toInternal`` converts a
    naive literal via ``time.mktime(dt.timetuple())`` (host zone), so on
    a non-UTC host a naive probe passed through as-UTC would disagree
    with the filter by the UTC offset and silently skip files containing
    matching rows. The conversion here IS ``time.mktime`` — not
    ``astimezone()`` — because the two disagree by an hour for
    DST-ambiguous or nonexistent local times (mktime resolves with
    ``tm_isdst=-1``, astimezone with ``fold=0``; ADVICE r10), and a
    probe in a DST transition hour must land exactly where the filter
    does. Footer stats are never naive (pyarrow returns tz-aware UTC for
    Spark's TIMESTAMP_MICROS), so this branch only ever sees user probe
    values. The ``lakesnap`` reader (sources/pyds.py) prunes with this
    same function."""
    import datetime as _dt
    import time as _time

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            # the TimestampType.toInternal twin: int(mktime) seconds +
            # carried microseconds
            v = _dt.datetime.fromtimestamp(
                int(_time.mktime(v.timetuple())), _dt.timezone.utc
            ) + _dt.timedelta(microseconds=v.microsecond)
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat(
            timespec="microseconds"
        )
    return v


def _collect_file_stats(
    files: list[str], columns: list[str], mapping: dict | None = None
) -> dict | None:
    """Iceberg-style per-file column stats from parquet footers:
    ``{file: {col: [min, max, has_null]}}``, aggregated across row groups
    via pyarrow (metadata-only reads — no data I/O). A column without
    usable stats in some file is simply absent from that file's entry —
    readers treat absence conservatively (file may match anything).
    Returns None when any file is non-local (can't stat cheaply);
    callers then skip stats entirely. ``columns`` and the returned keys
    are LOGICAL names; ``mapping`` translates to the physical names the
    footers carry (column-mapped tables)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    out: dict = {}
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        if "://" in path:
            return None
        try:
            meta = pq.ParquetFile(path).metadata
        except OSError:
            return None
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        per_col: dict = {}
        for logical in columns:
            column = (mapping or {}).get(logical, logical)
            if column not in idx:
                continue
            lo = hi = None
            has_null = False
            usable = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[column]).statistics
                if st is None or not st.has_min_max:
                    usable = False
                    break
                has_null = has_null or bool(st.null_count)
                try:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                except Exception:
                    # pyarrow can't decode min/max for every physical type
                    # (ArrowNotImplementedError, e.g. an all-NULL column
                    # stored as typeless) — skip the column conservatively
                    # (absent stats = file may match anything) instead of
                    # failing the whole commit
                    usable = False
                    break
            if not usable:
                continue
            lo, hi = _stat_norm(lo), _stat_norm(hi)
            if lo is not None and not isinstance(lo, (str, int, float, bool)):
                continue  # not JSON-portable (binary etc.): skip this col
            per_col[logical] = [lo, hi, has_null]
        out[uri] = per_col
    return out


def _stats_may_match(row, b: dict) -> bool:
    """Can a file whose ``[min, max, has_null]`` stats row for a column
    is ``row`` hold a value meeting the bound ``b``? Conservative: no
    stats or a cross-type compare keep the file. Probes meet the stats in
    their canonical form (``_stat_norm``: temporal stats are ISO strings
    in the manifest)."""
    if row is None:
        return True
    fmin, fmax, has_null = row
    values, lo, hi = b.get("values"), b.get("lo"), b.get("hi")
    if (
        has_null
        and lo is None
        and hi is None
        and any(v is None for v in values or ())
    ):
        return True  # a NULL probe meets the file's NULLs
    if fmin is None:  # empty or all-NULL: no non-null value to match
        return False
    try:
        return (
            (lo is None or _stat_norm(lo) <= fmax)
            and (hi is None or fmin <= _stat_norm(hi))
            and (
                values is None
                or any(
                    v is not None and fmin <= _stat_norm(v) <= fmax
                    for v in values
                )
            )
        )
    except TypeError:
        return True


def _select_files(
    manifest: dict, bounds: dict, blooms: dict | None = None
) -> tuple[list, list]:
    """The one file-selection step of every snapshot read and write:
    ``(touched, carried)`` — the manifest's files that may hold a row
    matching ``bounds``, and the rest, which the stats PROVE cannot.

    ``bounds`` maps a column to ``{"values": [...], "lo": x, "hi": y}``,
    every key optional: ``values`` is an IN list (a ``None`` in it is a
    NULL probe, matching exactly the files that hold NULLs) and
    ``lo``/``hi`` an inclusive range, open-ended when absent. A file is
    touched when it may match on EVERY bounded column; no bounds touch
    every file. ``blooms`` maps a column to the bloom bit positions of
    each of its ``values`` per ``(m, k)`` config (``_point_lookup_files``
    computes them); a file whose bloom entry proves every value absent is
    carried too."""
    stats = manifest.get("file_stats") or {}
    file_blooms = manifest.get("file_blooms") or {}
    touched, carried = [], []
    for f in manifest["files"]:
        may = all(
            _stats_may_match(stats.get(f, {}).get(c), b)
            for c, b in bounds.items()
        ) and all(
            _bloom_may_contain(file_blooms[f][c], by_cfg)
            for c, by_cfg in (blooms or {}).items()
            if c in file_blooms.get(f, {})
        )
        (touched if may else carried).append(f)
    return touched, carried


def _between(column: str, lo, hi):
    """``column BETWEEN lo AND hi`` — the row filter every ranged read and
    delete applies on top of its file selection."""
    return (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))


# ---- column mapping: metadata-only RENAME / DROP COLUMN -------------------
#
# Delta's column-mapping (name mode) rebuilt on the manifest: every data
# file stores PHYSICAL column names, the manifest schema stores LOGICAL
# names, and ``column_mapping`` ({logical: physical}) bridges them. A
# table starts unmapped (physical == logical, no key); the first RENAME
# seeds the mapping with identity entries and then renames ONLY the
# logical side — the physical name is frozen at column birth, so a
# rename touches one JSON manifest however many exabytes the files hold.
# DROP removes the logical field and retires its physical name
# (``retired_physical``) so a later column with the same logical name
# can never resurrect the old bytes. All other manifest metadata
# (file_stats, file_blooms, constraints) stays in the LOGICAL namespace
# — the rename op rewrites those keys in its one manifest write — so
# every pruning/lookup path reads it unchanged; only the file I/O
# boundary translates: ``_write_data_files`` renames logical→physical
# before the write, ``_read_data_files`` reads the physical schema and
# renames back.


def _physical_schema(schema: StructType, mapping: dict) -> StructType:
    if not mapping:
        return schema
    return StructType(
        [
            StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


def snapshot_convert(
    spark: SparkSession,
    directory: str,
    stats_cols: list[str] | None = None,
) -> int:
    """``CONVERT TO DELTA`` analog: turn an EXISTING parquet directory
    into a snapshot table IN PLACE — v1's manifest references the
    directory's current files where they already sit; not one data byte
    is read or copied (stats, if requested, are footer-only reads). The
    100 TB migration path: a plain parquet lake becomes ACID/time-
    travel/DV-capable in O(files) metadata work. After conversion the
    directory IS the table root: subsequent commits write under
    ``data/tx-*`` beside the original files, and vacuum's ownership
    guard covers both (everything lives under the root). The schema is
    taken from the files (one Spark schema inference over the file
    list); refuses a directory already holding a commit log."""
    files = _list_parquet_files(spark, directory)
    if not files:
        raise FileNotFoundError(f"no parquet files under {directory}")
    if list_versions(spark, directory):
        raise ValueError(
            f"{directory} is already a snapshot table — CONVERT is for "
            f"plain parquet directories"
        )
    df = spark.read.parquet(*files)
    stats = _collect_file_stats(files, stats_cols) if stats_cols else None
    # creates the table: claims v1 directly (a racer raises), nothing to
    # recompose against
    return _commit(
        spark, directory, "convert", files, df.schema, 0, None, file_stats=stats
    )


def snapshot_overwrite(
    df: DataFrame,
    table: str,
    stats_cols: list[str] | None = None,
    app: dict | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Logical overwrite: the new version references ONLY this commit's
    files. Prior versions (and their files) remain readable — time travel
    — until ``vacuum``. Returns the committed version.

    ``stats_cols`` records per-file footer stats for those columns in the
    manifest, enabling ``snapshot_scan`` whole-file skipping — pair with
    a clustered/z-ordered layout (``write_parquet_clustered`` /
    ``write_parquet_zordered`` shapes applied to ``df`` BEFORE the call,
    e.g. ``df.repartitionByRange(n, col).sortWithinPartitions(col)``) so
    the recorded ranges are actually tight."""
    spark = df.sparkSession
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    txn = (txn_app_id, int(txn_version)) if txn_app_id is not None else None
    versions = list_versions(spark, table)
    tip_pre = _read_manifest(spark, table, versions[-1]) if versions else {}
    if txn is not None and versions:
        # idempotent writer protocol, same contract as snapshot_append:
        # an already-applied (app, version) no-ops before writing a byte
        if int((tip_pre.get("txn") or {}).get(txn_app_id, -1)) >= txn[1]:
            return versions[-1]
    cons_seen = tip_pre.get("constraints") or {}
    mapping = tip_pre.get("column_mapping") or {}
    files = _write_data_files(
        df, table, schema_replacing=True, tip_manifest=tip_pre
    )
    written = _checked_written(spark, df.schema, files, tip_pre, cons_seen)
    stats = (
        _collect_file_stats(files, stats_cols, mapping) if stats_cols else None
    )
    # the mapping these files were WRITTEN with (restricted to the
    # committed schema): a racing rename landing between the write and
    # the claim must not install a mapping the parquet files don't
    # satisfy — overwrite replaces the whole schema, so the racer's
    # rename is superseded, not half-applied
    mapping = {l: p for l, p in mapping.items() if l in df.columns}

    def compose(tip_v: int, tip: dict | None, write) -> int:
        # the content is state-free, but the inherited TABLE FACTS
        # (constraints, txn watermarks) come from this tip — a lost claim
        # re-inherits from the new tip, so a racing ADD CONSTRAINT or
        # watermark advance is never erased (and re-checks the delta)
        return _commit(
            spark, table, "overwrite", files, df.schema, tip_v, tip,
            file_stats=stats, app=app, txn=txn, column_mapping=mapping,
            delta=written, constraints_validated=cons_seen,
        )

    return _commit_loop(
        spark, table, "overwrite", compose, attempts=_MAX_COMMIT_RETRIES,
        create=True, prewritten=files,
    )


def _merged_append_schema(
    prev_schema: StructType, new_schema: StructType, merge_schema: bool
) -> StructType:
    """Schema-evolution contract for append (the ``mergeSchema`` analog):
    fields present in both MUST keep their dataType (nullability is not
    compared — parquet round-trips flip it); with ``merge_schema`` the
    committed schema is prev's fields followed by the delta's new fields
    (added nullable — historic files read back NULL for them, the
    standard ADD COLUMN semantics); without it any difference raises, so
    a producer with a drifted schema can't silently narrow or widen the
    table."""
    prev_types = {f.name: f.dataType for f in prev_schema.fields}
    new_types = {f.name: f.dataType for f in new_schema.fields}
    for name, dt in new_types.items():
        if name in prev_types and prev_types[name] != dt:
            raise ValueError(
                f"append schema conflict on column {name!r}: table has "
                f"{prev_types[name].simpleString()}, delta has "
                f"{dt.simpleString()} (type CHANGES are never merged)"
            )
    extra = [n for n in new_types if n not in prev_types]
    missing = [n for n in prev_types if n not in new_types]
    if not merge_schema and (extra or missing):
        raise ValueError(
            f"append schema mismatch (extra={extra}, missing={missing}); "
            f"pass merge_schema=True to evolve the table schema"
        )
    fields = list(prev_schema.fields) + [
        StructField(f.name, f.dataType, True)
        for f in new_schema.fields
        if f.name in extra
    ]
    return StructType(fields)


def snapshot_append(
    df: DataFrame,
    table: str,
    merge_schema: bool = False,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Append: new version = previous version's files ∪ this commit's.
    No read or rewrite of existing data — O(delta) like Delta's append.
    Conflict-safe: the data files are written once; if a racing writer
    claims our version, only the cheap manifest composition re-reads the
    new latest and retries, so no concurrent commit's files are lost.

    Schema evolution: the committed schema is validated against the
    tip's (see :func:`_merged_append_schema`) — identical schemas pass,
    new columns require ``merge_schema=True`` (they commit as nullable;
    ``snapshot_read`` pins the manifest schema, so historic files read
    back NULL for them with no rewrite), and type changes always raise.
    Active CHECK constraints validate the written files before the
    commit; a violation reclaims them.

    Idempotent writes (Delta's ``txnAppId``/``txnVersion``): with
    ``txn_app_id`` + ``txn_version``, the append is applied AT MOST ONCE
    per (app, version) — a retry after an ambiguous failure, or a
    restarted job re-running a completed step, sees the watermark and
    no-ops (returns the current version, writes nothing). Watermarks
    live in the TIP manifest and are carried forward by every commit
    (``_commit``), so one metadata read answers the check and VACUUM
    can never forget a watermark. Versions must be monotonically
    increasing per app id."""
    spark = df.sparkSession
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    txn = (txn_app_id, int(txn_version)) if txn_app_id is not None else None

    def applied(tip: dict) -> bool:
        return int((tip.get("txn") or {}).get(txn_app_id, -1)) >= txn[1]

    versions = list_versions(spark, table)
    tip_pre = _read_manifest(spark, table, versions[-1]) if versions else {}
    if txn is not None and versions and applied(tip_pre):
        return versions[-1]  # already applied: exactly-once no-op
    cons_seen = tip_pre.get("constraints") or {}
    new_files = _write_data_files(df, table, tip_manifest=tip_pre)
    written = _checked_written(spark, df.schema, new_files, tip_pre, cons_seen)
    new_stats: dict = {}  # new_files' footer stats, reused by every retry
    map_pre = tip_pre.get("column_mapping") or {}
    ret_pre = tip_pre.get("retired_physical") or []

    def compose(tip_v: int, tip: dict | None, write) -> int:
        tip = tip or {}
        # Delta-style concurrent-METADATA detection: the delta files were
        # written with the pre-write tip's column mapping and retired
        # set; a racer's rename/drop landing since would make the
        # committed mapping disagree with the files' physical column
        # names (wrong-column reads, or a dropped column's data
        # resurrecting through a re-used physical name). Abort loudly —
        # the caller re-runs the append and writes against the new
        # metadata. (Delta raises ConcurrentMetadataUpdate for exactly
        # this interleaving.) Not a lost race: the loop reclaims the
        # files and raises instead of retrying.
        if (
            (tip.get("column_mapping") or {}) != map_pre
            or (tip.get("retired_physical") or []) != ret_pre
        ):
            raise SnapshotConflictError(
                f"a concurrent column rename/drop changed {table}'s column "
                f"metadata while this append was writing — re-run the append"
            )
        schema = df.schema
        if tip.get("schema") is not None:
            schema = _merged_append_schema(
                StructType.fromJson(tip["schema"]), df.schema, merge_schema
            )
        if txn is not None and applied(tip):
            # a racer (same app) applied this version while we wrote:
            # reclaim our files and report the tip — still at-most-once
            _delete_files(spark, new_files)
            return tip_v
        prev = tip.get("files", [])
        return _commit(
            spark, table, "append", prev + new_files, schema, tip_v, tip,
            # every prior file and its stats / bloom entry stay valid
            # verbatim; the new files get stats on the columns the tip
            # tracks (_rewrite_stats), so a stats-pruned table keeps
            # whole-file skipping across appends
            file_stats=_rewrite_stats(tip, prev, new_files, cache=new_stats),
            txn=txn,
            # a racing ADD CONSTRAINT binds our delta too: rows this
            # append never validated must not ride in unchecked
            delta=written, constraints_validated=cons_seen,
        )

    return _commit_loop(
        spark, table, "append", compose, attempts=_MAX_COMMIT_RETRIES,
        create=True, prewritten=new_files,
    )


# ---- deletion vectors: merge-on-read row-level deletes --------------------
#
# A copy-on-write DELETE rewrites every touched file — at 100 TB, deleting
# ten rows from a 1 GB file costs a 1 GB write. Deletion vectors (Delta's
# DVs / Iceberg's position deletes) invert the cost: the data files stay
# IMMUTABLE and the commit records which (file, row-position) pairs are
# dead, in parquet sidecars whose size is proportional to the rows
# deleted, not the rows kept. Readers subtract the dead positions with
# one anti-join against the (tiny) sidecar set; OPTIMIZE-style
# ``snapshot_purge_dv`` folds the vectors back into rewritten files when
# a file accumulates enough dead rows to be worth the I/O.
#
# Manifest shape: ``"dv": {"sidecars": [uri...],
# "cardinality": {data_file_uri: n_dead}}``. Cardinality is per data
# file, so metadata-only COUNT stays metadata-only (footer rows minus
# dead rows) and rewriting commits drop a file's entry the moment the
# file leaves the manifest (``_commit`` inheritance). Sidecar rows whose
# data file is no longer referenced are inert — the anti-join can't
# match them — and vacuum reclaims sidecar bytes by the same
# refcounting as data files.


def _dv_norm_path_expr(col):
    """file:///x, file:/x and /x all name the same local path — the Spark
    expression twin of :func:`_norm_uri`, applied to
    ``_metadata.file_path`` so scan-reported paths join against the
    normalized paths the sidecars store."""
    return F.regexp_replace(col, "^file:/+", "/")


def _dv_union_df(spark: SparkSession, manifest: dict) -> DataFrame | None:
    """All dead (file, pos) pairs of a manifest, or None when the
    snapshot carries no deletion vectors."""
    dv = manifest.get("dv") or {}
    sidecars = dv.get("sidecars") or []
    if not sidecars or not dv.get("cardinality"):
        return None
    return spark.read.schema("file string, pos bigint").parquet(*sidecars)


def _read_data_files(
    spark: SparkSession,
    schema: StructType,
    files: list[str],
    manifest: dict,
) -> DataFrame:
    """The one read path every snapshot consumer shares: a pinned-schema
    multi-path parquet scan with the manifest's deletion vectors
    subtracted. DV-free tables get the plain scan (no ``_metadata``
    column, no join — Catalyst sees an ordinary FileSourceScan).

    The subtraction is a left_anti join on (normalized file path,
    ``_metadata.row_index``). The sidecar side is sized by deleted rows
    — explicitly broadcast here; on a cluster where one commit deletes
    beyond the broadcast threshold, drop the hint and let AQE pick the
    strategy (the join stays keyed either way)."""
    if not files:
        return spark.createDataFrame([], schema)
    mapping = manifest.get("column_mapping") or {}
    df = spark.read.schema(_physical_schema(schema, mapping)).parquet(*files)
    card = (manifest.get("dv") or {}).get("cardinality") or {}
    back = {p: l for l, p in mapping.items() if p != l}

    def _logical(frame: DataFrame) -> DataFrame:
        return frame.withColumnsRenamed(back) if back else frame

    if not any(f in card for f in files):
        return _logical(df)
    dv = _dv_union_df(spark, manifest)
    if dv is None:
        return _logical(df)
    tagged = df.select(
        "*",
        _dv_norm_path_expr(F.col("_metadata.file_path")).alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    cond = (tagged["__dv_file"] == dv["file"]) & (tagged["__dv_pos"] == dv["pos"])
    return _logical(
        tagged.join(F.broadcast(dv), cond, "left_anti").drop(
            "__dv_file", "__dv_pos"
        )
    )


def snapshot_read(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read one snapshot (default: latest). The scan is a plain multi-path
    parquet read — pushdown, pruning and the vectorized reader all apply;
    an empty snapshot returns an empty DataFrame with the manifest's
    schema (a zero-file parquet read has no schema to infer)."""
    _, manifest = _resolve(spark, table, version)
    schema = StructType.fromJson(manifest["schema"])
    # pin the schema from the manifest: mixed historic widths across
    # commits must resolve to the COMMITTED schema, not scan-order luck;
    # deletion vectors (if any) are subtracted inside the shared helper
    return _read_data_files(spark, schema, manifest["files"], manifest)


def snapshot_scan(
    spark: SparkSession,
    table: str,
    column: str | None = None,
    lo=None,
    hi=None,
    version: int | None = None,
    *,
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Stats-pruned range scan — Iceberg-style scan planning on the
    manifest: files whose recorded [min, max] for ``column`` cannot
    intersect [lo, hi] are never opened (they don't even reach the file
    index), and the range filter is applied on top so the result is
    exactly ``snapshot_read(...).filter(lo <= column <= hi)``. Files
    without stats for ``column`` are conservatively included — pruning
    is an optimization, never a semantics change. This is what plain
    parquet directories can't do: Spark's scan prunes row groups inside
    files it opens, but only a table format's metadata can skip whole
    files before planning. Record stats via ``stats_cols=[column]`` on
    ``snapshot_overwrite`` or ``snapshot_merge``; every later rewrite
    keeps them.

    ``ranges={col: (lo, hi), ...}`` (instead of ``column``/``lo``/``hi``)
    scans on SEVERAL column ranges at once, ANDed — the consumer the
    Z-ordered layout exists for: a file is opened only when its stats
    intersect EVERY range, so pruning factors multiply across
    dimensions (a linear clustering can only ever serve one)."""
    if (column is None) == (ranges is None):
        raise ValueError(
            "pass exactly one of: column/lo/hi, or ranges={col: (lo, hi)}"
        )
    if ranges is None:
        ranges = {column: (lo, hi)}
    elif not ranges:
        raise ValueError("ranges must name at least one column")
    _, manifest = _resolve(spark, table, version)
    files, _ = _select_files(
        manifest, {c: {"lo": lo, "hi": hi} for c, (lo, hi) in ranges.items()}
    )
    schema = StructType.fromJson(manifest["schema"])
    pred = functools.reduce(
        lambda a, b: a & b, [_between(c, lo, hi) for c, (lo, hi) in ranges.items()]
    )
    return _read_data_files(spark, schema, files, manifest).filter(pred)


#: ceiling on distinct partition values one merge's delta may touch — far
#: above any sane daily batch (a decade of daily partitions is ~3,650)
#: while keeping the driver-side collect bounded
MAX_MERGE_PARTITIONS = 10_000


def _anti_join_null_safe(
    existing: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """``existing`` rows whose key matches no ``delta`` row, compared with
    NULL-SAFE equality: a plain ``on=keys`` join never matches NULL keys,
    so a NULL-keyed row would survive every merge and duplicate on each
    re-delivery."""
    right = delta.select(*[F.col(k).alias(f"_dk_{k}") for k in keys]).distinct()
    cond = functools.reduce(
        lambda a, b: a & b,
        [existing[k].eqNullSafe(right[f"_dk_{k}"]) for k in keys],
    )
    return existing.join(right, on=cond, how="left_anti")


#: racer operations a merge can rebase across: each leaves every
#: untouched base file's CONTENT in place (append/merge/delete rewrite or
#: add files elsewhere; optimize rewrites byte-identical data). An
#: "overwrite" replaces table state wholesale — the base the merge
#: composed against is meaningless and a recompute is mandatory.
_REBASEABLE_OPS = frozenset({"append", "merge", "delete", "optimize"})


def _try_rebase(
    spark: SparkSession,
    table: str,
    base_version: int,
    base_files: list[str],
    touched: list[str],
    new_files: list[str],
    new_stats: dict,
    stats_cols: list[str],
    bounds: dict,
    schema: StructType,
) -> int | None:
    """Conflict-class resolution for a merge that lost its version race:
    if every racing commit since ``base_version`` is provably DISJOINT
    from this merge, re-point the already-written ``new_files`` at the
    new tip instead of recomputing the whole anti-join + rewrite.
    Disjointness is decided from manifests alone (no data I/O), and
    ``new_files``' footer stats come from the ``_rewrite_stats`` cache
    ``new_stats`` the first commit filled:

    1. every racer op is in ``_REBASEABLE_OPS`` (no overwrite);
    2. the tip still references every file this merge rewrote
       (``touched``) — no racer touched the same files; and
    3. every file the racers ADDED (tip ∖ base) is carried by
       ``_select_files`` under the merge's ``bounds`` — its
       ``partition_col`` stats prove it holds none of this merge's
       partition values. With partition_col functionally dependent on
       the merge keys (the documented contract), no racer row can
       collide with a delta key. Files without stats fail the test
       (conservative), and so does every added file of a merge without
       ``partition_col`` (empty ``bounds`` touch every file).

    The rebased manifest is (tip ∖ touched) ∪ new_files — racer rewrites
    of files this merge only CARRIED adopt the racer's version. Returns
    the committed version, or None when the conflict is not provably
    disjoint (caller recomputes). Follow-on races re-run the same proof
    against each newer tip, through the commit loop."""
    touched_set = set(touched)

    def compose(tip_v: int, tip: dict, write) -> int | None:
        if tip_v <= base_version:  # racer vanished (vacuum?) — recompute
            return None
        racers = [
            _read_manifest(spark, table, v)
            for v in list_versions(spark, table)
            if base_version < v < tip_v
        ] + [tip]
        if any(m["operation"] not in _REBASEABLE_OPS for m in racers):
            return None
        tip_files = set(tip["files"])
        if not touched_set <= tip_files:
            return None
        added = {**tip, "files": sorted(tip_files - set(base_files))}
        if _select_files(added, bounds)[0]:
            return None
        rebased = [f for f in tip["files"] if f not in touched_set]
        return _commit(
            spark, table, "merge", rebased + new_files, schema, tip_v, tip,
            file_stats=_rewrite_stats(
                tip, rebased, new_files, stats_cols, new_stats
            ),
        )

    return _commit_loop(
        spark, table, "merge", compose, attempts=_MAX_COMMIT_RETRIES
    )


def snapshot_merge(
    df: DataFrame,
    table: str,
    key_cols: list[str],
    partition_col: str | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """MERGE (upsert) with snapshot isolation, the engine's one keyed
    upsert: tip rows whose key matches a delta row (null-safe) are
    replaced by the delta's rows, every other row is kept, and the result
    commits as a new version (creating the table if needed). No deletion
    of committed files — concurrent readers of version N are untouched
    while N+1 commits; a failed merge leaves no visible state.

    ``partition_col`` makes the merge FILE-PRUNED, the 100 TB shape: only
    data files whose footer stats could hold one of the delta's
    ``partition_col`` values are rewritten; every provably-disjoint file
    is CARRIED into the new manifest untouched (same path, zero I/O) —
    the Iceberg/Delta metadata-pruning model, with the stats collected
    from parquet footers at commit time (``_collect_file_stats``). New
    files are written hash-clustered on ``partition_col`` so each value
    lands in one file and stat ranges stay tight; it remains a normal
    data column (no hive layout). CONTRACT: ``partition_col`` must be
    functionally dependent on the keys — a key that moves between
    partitions would leave its old copy in a carried file. A file without
    stats counts as touched, so missing stats (remote FS, exotic types)
    degrade the merge to a full rewrite, never to a wrong answer. Without
    ``partition_col`` every file is touched: a full rewrite.

    ``stats_cols`` adds columns to record per-file stats for
    (``snapshot_scan`` pruning) on top of the ones the tip tracks.

    The delta is pinned (``localCheckpoint``) before anything reads it,
    so the CHECK constraints validate exactly the rows that commit. A
    lost commit race first tries to rebase the written files onto the
    new tip (``_try_rebase``) and recomputes only when that is not
    provably safe."""
    spark = df.sparkSession
    keys = list(key_cols)
    # one evaluation feeds the partition values, the keys, the union and
    # the constraint check
    df = df.localCheckpoint()
    cons_seen = _tip_constraints(spark, table)
    _validate_constraints(df, cons_seen)
    # EXPLICIT partition count: a bare repartition(col) is AQE-coalescable
    # — small commits would collapse into one file holding every partition
    # value, and file-level stat ranges would never prune. With the count
    # pinned, each value's hash bucket stays its own file; the small-file
    # cost on tiny commits is what snapshot_optimize handles at scale.
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def clustered(d: DataFrame) -> DataFrame:
        if partition_col is None:
            return d
        return d.repartition(n_buckets, partition_col)

    all_stats_cols = [
        c for c in dict.fromkeys([partition_col, *(stats_cols or [])]) if c
    ]
    # the file selection of every attempt and of the rebase proof; no
    # partition column, no bounds: every file is touched
    bounds: dict = {}
    if partition_col is not None:
        cap = MAX_MERGE_PARTITIONS
        parts = [
            r[0]
            for r in df.select(partition_col).distinct().limit(cap + 1).collect()
        ]
        if len(parts) > cap:
            raise ValueError(
                f"snapshot_merge: delta touches more than {cap} distinct "
                f"'{partition_col}' values — key-grade cardinality; "
                f"partition by a coarser derived column or merge without "
                f"partition_col."
            )
        bounds = {partition_col: {"values": parts}}

    def compose(tip_v: int, tip: dict | None, write) -> int:
        if tip is None:  # a new table: the delta is the whole content
            return _rewrite(
                spark, table, "merge", tip_v, tip, write, [], clustered(df),
                stats_cols=all_stats_cols,
            )
        touched, carried = _select_files(tip, bounds)
        schema = StructType.fromJson(tip["schema"])
        if touched:
            existing = _read_data_files(spark, schema, touched, tip)
            keep = _anti_join_null_safe(existing, df, keys)
            merged = keep.unionByName(df.select(keep.columns))
        else:
            merged = df.select(*schema.names)
        _check_types(
            schema, merged.schema, "merge delta",
            "CAST the delta to the table's types first",
        )
        new_files = write(clustered(merged), tip_manifest=tip)
        new_stats: dict = {}  # new_files' footer stats, shared with the rebase
        try:
            return _commit(
                spark, table, "merge", carried + new_files, schema, tip_v, tip,
                file_stats=_rewrite_stats(
                    tip, carried, new_files, all_stats_cols, new_stats
                ),
                # racing ADD CONSTRAINT: re-check the delta at claim time
                # (the racer's own commit validated the kept rows; the
                # rebase never sees one — constraint ops are not in
                # _REBASEABLE_OPS, so those races recompute through here)
                delta=lambda: df, constraints_validated=cons_seen,
            )
        except _LostRace:
            # computed against a superseded snapshot. If every racing
            # commit is provably disjoint (kept our touched files, added
            # nothing in our partition values), rebase the already-written
            # files onto the new tip — no recompute, no data I/O
            version = _try_rebase(
                spark, table, tip_v, tip["files"], touched, new_files,
                new_stats, all_stats_cols, bounds, schema,
            )
            if version is None:
                raise  # the loop reclaims new_files and recomputes
            return version

    return _commit_loop(spark, table, "merge", compose, create=True)


def snapshot_merge_when(
    source: DataFrame,
    table: str,
    key_cols: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    when_not_matched_by_source_delete: str | None = None,
) -> int:
    """Conditional three-clause MERGE (the Delta/SQL:2003 ``MERGE INTO``
    surface; ``snapshot_merge`` is the unconditional upsert special
    case): target rows join the source null-safely on ``key_cols`` and

    - MATCHED + ``when_matched_delete`` condition → row dropped;
    - MATCHED (not deleted) + ``when_matched_update`` (optionally gated
      by ``when_matched_update_condition``) → the listed columns
      recompute from expressions over both sides (``t.col`` = target,
      ``s.col`` = source); other matched rows carry unchanged;
    - NOT MATCHED (source-only) + ``when_not_matched_insert`` → source
      row inserted (source must carry the target's columns);
    - NOT MATCHED BY SOURCE (target-only) +
      ``when_not_matched_by_source_delete`` condition (over ``t.*``) →
      row dropped — the "sync target to source" clause.

    Delete is evaluated before update (a matched row satisfying both is
    deleted). Conditions follow SQL semantics: NULL = clause does not
    fire. Column types must survive (same contract as
    ``snapshot_update``); CHECK constraints validate the result before
    it replaces the tip. One full-outer join + one rewrite, committed
    with the same optimistic-concurrency retry as ``snapshot_merge``.
    Reference: Delta Lake's MERGE (public API semantics), rebuilt
    relationally."""
    spark = source.sparkSession
    keys = list(key_cols)
    upd = dict(when_matched_update or {})
    if upd or when_matched_delete is not None:
        # Delta's 'multiple source rows matched' contract: with a
        # matched clause, two source rows on one key would update/delete
        # the same target row ambiguously — refuse instead of silently
        # duplicating it through the full-outer join (groupBy treats
        # NULL keys as one group, matching the null-safe join)
        if source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count():
            raise ValueError(
                "MERGE source has multiple rows for the same key; "
                "pre-aggregate the source so each key appears once "
                "(Delta raises the same error)"
            )
    def compose(tip_v: int, tip: dict | None, write) -> int:
        tgt = _read_data_files(
            spark, StructType.fromJson(tip["schema"]), tip["files"], tip
        )
        cols = tgt.columns
        missing = [c for c in cols if c not in source.columns]
        if when_not_matched_insert and missing:
            raise ValueError(
                f"WHEN NOT MATCHED INSERT needs the source to carry every "
                f"target column; missing {missing}"
            )
        for c in upd:
            if c not in cols:
                raise ValueError(f"UPDATE SET of unknown column {c!r} ({cols})")
        t = tgt.withColumn("_t_present", F.lit(True)).alias("t")
        s = source.withColumn("_s_present", F.lit(True)).alias("s")
        on = functools.reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        )
        j = t.join(s, on, "full_outer")
        matched = F.coalesce(F.col("t._t_present"), F.lit(False)) & F.coalesce(
            F.col("s._s_present"), F.lit(False)
        )
        t_only = F.coalesce(F.col("t._t_present"), F.lit(False)) & ~F.coalesce(
            F.col("s._s_present"), F.lit(False)
        )

        def cond(expr_str: str | None):
            if expr_str is None:
                return F.lit(False)
            return F.coalesce(F.expr(expr_str), F.lit(False))

        keep = (
            F.when(matched, ~cond(when_matched_delete))
            .when(t_only, ~cond(when_not_matched_by_source_delete))
            .otherwise(F.lit(when_not_matched_insert))
        )
        upd_fires = (
            matched
            & ~cond(when_matched_delete)
            & (
                F.lit(True)
                if when_matched_update_condition is None
                else cond(when_matched_update_condition)
            )
            if upd
            else F.lit(False)
        )
        out_cols = []
        for c in cols:
            col = (
                F.when(upd_fires, F.expr(upd[c])) if c in upd else F.when(F.lit(False), F.col(f"t.{c}"))
            )
            # a delete-only/update-only merge may ship a keys-only source
            # (insert disabled, validated above): the source branch then
            # never survives `keep`, but the expression must still resolve
            insert_src = (
                F.col(f"s.{c}")
                if c in source.columns
                else F.lit(None).cast(tgt.schema[c].dataType)
            )
            out_cols.append(
                col.when(matched | t_only, F.col(f"t.{c}"))
                .otherwise(insert_src)
                .alias(c)
            )
        merged = j.filter(keep).select(*out_cols)
        _check_types(
            tgt.schema, merged.schema, "MERGE UPDATE expression",
            "add an explicit CAST(... AS {t})",
        )
        # pinned: the constraint check and the write see one evaluation
        merged = merged.localCheckpoint()
        _validate_constraints(merged, tip.get("constraints") or {})
        return _rewrite(
            spark, table, "merge", tip_v, tip, write, [], merged, schema=tgt.schema
        )

    return _commit_loop(spark, table, "merge", compose)


def _prev_stats_cols(prev_stats: dict) -> list[str]:
    """Union of columns any file in a manifest has stats for — rewrites
    re-collect the same columns so pruning survives the operation."""
    cols: list[str] = []
    for per_col in prev_stats.values():
        for c in per_col:
            if c not in cols:
                cols.append(c)
    return cols


def snapshot_delete(
    spark: SparkSession,
    table: str,
    column: str | None = None,
    lo=None,
    hi=None,
    extra_condition=None,
) -> int:
    """Row-level copy-on-write DELETE — the ``DELETE FROM t WHERE column
    BETWEEN lo AND hi [AND extra]`` analog, stats-pruned: files whose
    manifest stats prove ``column`` never lands in ``[lo, hi]`` are
    CARRIED into the new version untouched (zero I/O, same path); only
    files that may hold a matching row are read and rewritten without
    the deleted rows. Without ``column``, ``extra_condition`` (a SQL
    string or a Column) is the whole predicate and every file counts as
    touched — the ``DELETE FROM t WHERE <any predicate>`` form. SQL
    semantics: a NULL ``column`` (or a NULL ``extra_condition``) never
    matches the predicate, so those rows are kept. The rewrite is a
    narrow filter over the touched files (no shuffle), so each surviving
    file keeps its clustering and its re-collected stats stay tight;
    files rewritten to zero rows drop out of the manifest entirely.
    Prior versions remain readable (time travel) until ``vacuum``.
    Conflicts recompute against the new tip (delete predicates are
    ranges, not value lists, so the partitioned-merge rebase proof
    doesn't apply as-is)."""
    if column is None and extra_condition is None:
        raise ValueError("pass column/lo/hi, extra_condition, or both")
    extra = (
        F.expr(extra_condition)
        if isinstance(extra_condition, str)
        else extra_condition
    )
    if column is None:
        pred, bounds = extra, {}
    else:
        pred = _between(column, lo, hi)
        pred = pred if extra is None else pred & extra
        bounds = {column: {"lo": lo, "hi": hi}}

    def compose(tip_v: int, tip: dict, write) -> int:
        touched, carried = _select_files(tip, bounds)
        survivors = None
        if touched:
            # the shared read path applies any deletion vectors on the
            # touched files, so the rewrite can't resurrect dead rows
            survivors = _read_data_files(
                spark, StructType.fromJson(tip["schema"]), touched, tip
            ).filter(~F.coalesce(pred, F.lit(False)))
        return _rewrite(
            spark, table, "delete", tip_v, tip, write, carried, survivors
        )

    return _commit_loop(spark, table, "delete", compose)


def snapshot_replace_where(
    df: DataFrame,
    table: str,
    column: str,
    lo,
    hi,
) -> int:
    """Delta's ``replaceWhere``: atomically replace exactly the rows with
    ``column BETWEEN lo AND hi`` by ``df``'s rows, in ONE commit (op
    ``replace_where``) — the idempotent partition-reload primitive (a
    nightly job recomputes one day/month and swaps it in; rerunning the
    job converges to the same state). ``df`` is VALIDATED to lie inside
    the range (NULLs fail) — rows outside it would silently corrupt
    untouched partitions, so they refuse instead (Delta's check).

    Scale shape, same as :func:`snapshot_delete`: files whose manifest
    stats prove ``column`` disjoint from the range are CARRIED by
    identity (zero I/O); only boundary files that straddle the range are
    read (DV-aware) and rewritten without their in-range rows. With a
    range-clustered layout the replaced partition's files are dropped
    wholesale and the rewrite set is empty or tiny.

    ``df`` is pinned (``localCheckpoint``) first, so the range check and
    the CHECK constraints see exactly the rows that commit."""
    spark = df.sparkSession
    # one evaluation feeds the range check, the constraint check and the write
    df = df.localCheckpoint()
    pred = _between(column, lo, hi)
    if df.filter(~F.coalesce(pred, F.lit(False))).limit(1).count():
        raise ValueError(
            f"replaceWhere data contains rows outside {column} BETWEEN "
            f"{lo!r} AND {hi!r} (or with NULL {column}) — the replacement "
            f"must lie entirely inside the replaced range"
        )
    cons_seen = _tip_constraints(spark, table)
    _validate_constraints(df, cons_seen)

    def compose(tip_v: int, tip: dict, write) -> int:
        touched, carried = _select_files(tip, {column: {"lo": lo, "hi": hi}})
        schema = StructType.fromJson(tip["schema"])
        replacement = df.select(*schema.names)
        if touched:
            survivors = _read_data_files(spark, schema, touched, tip).filter(
                ~F.coalesce(pred, F.lit(False))
            )
            replacement = survivors.unionByName(replacement)
        return _rewrite(
            spark, table, "replace_where", tip_v, tip, write, carried,
            replacement,
            # a racing ADD CONSTRAINT binds the replacement rows (survivor
            # rows were validated by the constraint-add's full-table pass)
            delta=lambda: df, constraints_validated=cons_seen,
        )

    return _commit_loop(spark, table, "replace_where", compose)


def snapshot_optimize(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 << 20,
    cluster_col: str | None = None,
) -> int:
    """Bin-pack compaction — the OPTIMIZE analog, and the companion of
    the streaming snapshot sink (one micro-batch = one commit = a few
    small files; a day of minutely batches is thousands): files smaller
    than ``target_file_bytes`` are read and rewritten into
    ~``ceil(total/target)`` right-sized files; every already-large file
    is CARRIED by identity. Data is byte-identical — only layout changes
    — so the commit (op ``optimize``) is rebase-transparent to racing
    partitioned merges of untouched files. With ``cluster_col`` the
    rewrite is range-repartitioned + sorted on that column so the packed
    files keep tight, prunable stat ranges (plain packing unions ranges —
    correct, but file skipping degrades); stats are re-collected for the
    same columns the previous manifest tracked either way. No-op (returns
    the current version) when fewer than two files qualify."""

    def compose(tip_v: int, tip: dict, write) -> int:
        fs, _, jvm = _fs(spark, table)
        small, carried, small_bytes = [], [], 0
        for f in tip["files"]:
            size = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            if size < target_file_bytes:
                small.append(f)
                small_bytes += size
            else:
                carried.append(f)
        if len(small) < 2:
            return tip_v
        schema = StructType.fromJson(tip["schema"])
        # DV-aware read: packing a file folds its deletion vector into
        # the rewrite, and _commit inheritance drops the entry with the
        # file — OPTIMIZE doubles as incremental DV purge for small files
        packed = _read_data_files(spark, schema, small, tip)
        n_out = max(1, -(-small_bytes // target_file_bytes))
        if cluster_col is not None:
            packed = packed.repartitionByRange(
                n_out, F.col(cluster_col)
            ).sortWithinPartitions(cluster_col)
        else:
            packed = packed.coalesce(n_out)
        return _rewrite(
            spark, table, "optimize", tip_v, tip, write, carried, packed
        )

    return _commit_loop(spark, table, "optimize", compose)


_CHECKPOINT_NAME = "_history_checkpoint.json"


def _read_history_checkpoint(spark: SparkSession, table: str) -> dict | None:
    path = f"{table.rstrip('/')}/{_MANIFEST_DIR}/{_CHECKPOINT_NAME}"
    fs, hpath, jvm = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        return json.loads(data.decode("utf-8"))
    finally:
        stream.close()


def checkpoint_history(spark: SparkSession, table: str) -> int:
    """Roll the per-version history summaries (version, operation,
    n_files, committed_at_unix) up to the current tip into ONE checkpoint
    file, so ``history`` stops being O(versions) manifest reads — the
    analog of Delta's log checkpoint, sized for this format's pain point:
    a streaming ``foreachBatch`` snapshot sink commits one version per
    micro-batch, and a day of minutely batches is ~1.4k manifests. Data
    manifests stay untouched (each is still the self-contained source of
    truth for READS — time travel and vacuum don't consult the
    checkpoint); only the history LISTING is summarized. The checkpoint
    is derived data: it is rewritten wholesale (overwrite=True — a racing
    checkpoint writes the same prefix plus whatever newer versions it
    saw, so last-writer-wins is safe), and versions vacuumed later are
    filtered out at read time against the live manifest listing. Returns
    the tip version covered."""
    versions = list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    prior = _read_history_checkpoint(spark, table)
    # prune rows for versions vacuum has dropped: the checkpoint should
    # not grow without bound across vacuum cycles (they are filtered at
    # read time anyway — this just bounds the file)
    live = set(versions)
    rows = {r[0]: r for r in (prior or {}).get("rows", []) if r[0] in live}
    for v in versions:
        if v not in rows:
            m = _read_manifest(spark, table, v)
            rows[v] = [v, m["operation"], len(m["files"]),
                       float(m["committed_at_unix"])]
    payload = {
        "upto": versions[-1],
        "rows": sorted(rows.values(), key=lambda r: r[0]),
    }
    target_str = f"{table.rstrip('/')}/{_MANIFEST_DIR}/{_CHECKPOINT_NAME}"
    data = json.dumps(payload, sort_keys=True).encode("utf-8")
    local = (
        "/" + target_str[5:].lstrip("/")
        if target_str.startswith("file:")
        else (target_str if "://" not in target_str else None)
    )
    if local is not None:
        # atomic replace: a concurrent history() must read either the
        # old checkpoint or the new one, never partial bytes (same
        # atomic-publish rule as _claim_version; rename(2) overwrites)
        import os as _os

        tmp = f"{local}.tmp-{uuid.uuid4().hex[:12]}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            _os.fsync(f.fileno())
        _os.replace(tmp, local)
    else:
        fs, _, jvm = _fs(spark, table)
        target = jvm.org.apache.hadoop.fs.Path(target_str)
        out = fs.create(target, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
    return versions[-1]


def snapshot_files(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Per-file metadata table — Iceberg's ``t.files`` / Delta's
    ``DESCRIBE DETAIL`` at file granularity, from the manifest + parquet
    footers only (no data I/O, no distributed job): one row per data
    file with size, footer row count, live rows (footer minus deletion-
    vector cardinality), DV flag, and the recorded min/max/has_null per
    stats column (as a ``stats`` map of ``col -> [min, max, has_null]``
    strings). The operator's view for layout questions — which files are
    tiny (OPTIMIZE?), which carry vectors (purge?), whether the
    clustering actually produced disjoint ranges (zorder verification) —
    all answered without touching data bytes."""
    _, m = _resolve(spark, table, version)
    stats = m.get("file_stats") or {}
    card = (m.get("dv") or {}).get("cardinality") or {}
    try:
        import pyarrow.parquet as pq
    except ImportError:
        pq = None
    fs, _, jvm = _fs(spark, table)
    rows = []
    for f in m["files"]:
        try:
            size = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
        except Exception:
            size = None
        n_rows = None
        local = f[5:] if f.startswith("file:") else f
        if pq is not None and "://" not in local:
            try:
                n_rows = pq.ParquetFile(local).metadata.num_rows
            except OSError:
                n_rows = None
        dead = int(card.get(f, 0))
        st = {
            c: [str(x) for x in row_] for c, row_ in (stats.get(f) or {}).items()
        }
        rows.append(
            (
                f,
                size,
                n_rows,
                (n_rows - dead) if n_rows is not None else None,
                dead > 0,
                st,
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, size_bytes bigint, num_rows bigint, "
        "num_live_rows bigint, has_deletion_vector boolean, "
        "stats map<string, array<string>>",
    )


def history(spark: SparkSession, table: str) -> DataFrame:
    """Commit log as a DataFrame: (version, operation, n_files,
    committed_at_unix) — the DESCRIBE HISTORY analog. With a
    ``checkpoint_history`` checkpoint present, only manifests NEWER than
    the checkpointed tip are opened (plus one checkpoint read); without
    one, every manifest is read. Checkpoint rows for versions vacuum has
    since dropped are filtered against the live listing, so the two
    paths always agree."""
    versions = list_versions(spark, table)
    live = set(versions)
    ckpt = _read_history_checkpoint(spark, table)
    rows_by_v: dict[int, tuple] = {}
    upto = -1
    if ckpt is not None:
        upto = ckpt["upto"]
        for v, op, n_files, ts in ckpt["rows"]:
            if v in live:
                rows_by_v[v] = (v, op, n_files, float(ts))
    for v in versions:
        if v > upto or v not in rows_by_v:
            m = _read_manifest(spark, table, v)
            rows_by_v[v] = (
                v, m["operation"], len(m["files"]), float(m["committed_at_unix"])
            )
    rows = [rows_by_v[v] for v in sorted(rows_by_v)]
    return spark.createDataFrame(
        rows, "version int, operation string, n_files int, committed_at_unix double"
    )


def snapshot_restore(spark: SparkSession, table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the table back to a
    prior version's content AS A NEW COMMIT (op ``restore``): the old
    manifest's file list, schema and stats are re-committed under the
    next version number, so the rollback itself is time-travelable and
    vacuum-refcounting keeps the shared files alive. Nothing is copied —
    O(manifest). Requires ``version`` to still exist (not vacuumed).
    Deliberately NOT rebaseable by racing merges: like overwrite, a
    restore replaces table state wholesale, so concurrent
    state-dependent writers must recompute against it."""
    versions = list_versions(spark, table)
    if version not in versions:
        raise ValueError(
            f"version {version} not in {table} (have {versions})"
        )
    m = _read_manifest(spark, table, version)

    def compose(tip_v: int, tip: dict, write) -> int:
        manifest = {
            "operation": "restore",
            "restored_from": version,
            "files": m["files"],
            "schema": m["schema"],
            "committed_at_unix": round(time.time(), 3),
        }
        for key in ("file_stats", "file_blooms", "dv", "constraints",
                    "column_mapping", "retired_physical"):
            # per-file facts (stats, blooms, deletion vectors) travel with
            # the restored file list; constraints are part of the
            # restored state
            if m.get(key):
                manifest[key] = m[key]
        # idempotent-writer watermarks are HIGH-WATER marks, not state: a
        # restore rolls data back but must never let an already-applied
        # (app, version) re-apply — take the element-wise max of the
        # restored map and the tip's
        restored_txn, tip_txn = m.get("txn") or {}, tip.get("txn") or {}
        merged_txn = {
            a: max(int(restored_txn.get(a, -1)), int(tip_txn.get(a, -1)))
            for a in set(restored_txn) | set(tip_txn)
        }
        if merged_txn:
            manifest["txn"] = merged_txn
        return _try_commit(spark, table, manifest, tip_v + 1)

    return _commit_loop(
        spark, table, "restore", compose, attempts=_MAX_COMMIT_RETRIES
    )


def version_at_timestamp(spark: SparkSession, table: str, ts_unix: float) -> int:
    """``TIMESTAMP AS OF`` resolution: the latest version whose commit
    time is at or before ``ts_unix`` (seconds since epoch, as recorded in
    the manifests' ``committed_at_unix``). Reads the history listing —
    O(recent) when a ``checkpoint_history`` checkpoint exists. Raises
    ValueError when the table has no version that old (the timestamp
    predates the table, or vacuum dropped the era)."""
    rows = history(spark, table).collect()
    eligible = [r.version for r in rows if r.committed_at_unix <= ts_unix]
    if not eligible:
        raise ValueError(
            f"no version of {table} existed at unix time {ts_unix} "
            f"(earliest surviving commit: "
            f"{min((r.committed_at_unix for r in rows), default=None)})"
        )
    return max(eligible)


def snapshot_read_asof(
    spark: SparkSession, table: str, ts_unix: float
) -> DataFrame:
    """Time travel by wall clock instead of version number — the
    ``SELECT ... TIMESTAMP AS OF`` analog."""
    return snapshot_read(spark, table, version_at_timestamp(spark, table, ts_unix))


def snapshot_count(
    spark: SparkSession, table: str, version: int | None = None
) -> int:
    """``COUNT(*)`` from parquet FOOTERS only — Delta's metadata-only
    count: O(files) footer reads (kilobytes each), zero data I/O, no
    Spark job. At 100 TB this answers the most common query against a
    table without touching a single data page. Falls back to a real
    distributed count when any file is non-local or unreadable (remote
    object stores want a ranged footer fetch this sandbox can't do) —
    callers always get the exact answer either way."""
    v, m = _resolve(spark, table, version)
    files = m["files"]
    # merge-on-read deletes stay metadata-only too: the manifest records
    # the dead-row count per file, so COUNT = footer rows - cardinality
    dead = (m.get("dv") or {}).get("cardinality") or {}
    try:
        import pyarrow.parquet as pq

        total = 0
        for uri in files:
            path = uri[5:] if uri.startswith("file:") else uri
            if "://" in path:
                raise OSError("non-local file")
            total += pq.ParquetFile(path).metadata.num_rows
        return total - sum(dead.get(f, 0) for f in files)
    except (ImportError, OSError):
        return snapshot_read(spark, table, v).count()


def snapshot_changes(
    spark: SparkSession,
    table: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions — the
    ``table_changes(t, v_from, v_to)`` analog: one row per key whose
    content differs, with status 'added' / 'removed' / 'changed'
    (operators/quality.py::snapshot_diff does the null-safe keyed
    compare via portable length-prefixed row hashes). Because versions
    are immutable, the feed is reproducible forever — until ``vacuum``
    drops the older version. Both sides are plain manifest-pinned
    parquet scans; the diff is one full-outer hash join on the keys."""
    from bookstore_aws_lakehouse_spark.operators.quality import snapshot_diff

    old = snapshot_read(spark, table, v_from)
    new = snapshot_read(spark, table, v_to)
    return snapshot_diff(old, new, key_cols)


def vacuum(
    spark: SparkSession,
    table: str,
    keep_last: int = 1,
    retain_seconds: float | None = None,
    orphan_age_seconds: float | None = None,
) -> int:
    """Drop expired versions and delete every data file no surviving
    version references (the VACUUM analog; bounds time-travel storage).
    Returns the number of files deleted.

    Retention composes two policies, keeping the UNION (a version
    survives if either rule keeps it — never less retention than asked):
    the newest ``keep_last`` versions always survive, and with
    ``retain_seconds`` every version committed within that window of the
    newest commit's time also survives (Delta's ``RETAIN n HOURS`` —
    time-based, against the log's own clock so a paused table doesn't
    expire everything on resume).

    ``orphan_age_seconds`` additionally reclaims UNTRACKED files — data
    parquet / DV sidecars under the table that no manifest of any
    surviving version references. Crash debris is the only way these
    arise: a writer that died between ``_write_data_files`` and its
    manifest link leaves a ``tx-`` directory no commit ever named, and
    no version expiry can ever reclaim it (expiry only walks manifests).
    Delta's VACUUM removes such untracked files past retention for the
    same reason. Age-gated by mtime so an IN-FLIGHT commit's
    just-written files are never yanked before its manifest lands —
    choose a gate longer than the slowest write job (Delta's default is
    7 days); ``None`` (the default) skips the orphan scan entirely."""
    if keep_last < 1:
        raise ValueError("vacuum must keep at least the latest version")
    versions = list_versions(spark, table)
    n_keep = keep_last
    if retain_seconds is not None and versions:
        newest_ts = _read_manifest(spark, table, versions[-1]).get(
            "committed_at_unix", 0.0
        )
        cutoff = newest_ts - retain_seconds
        in_window = [
            v
            for v in versions
            if _read_manifest(spark, table, v).get("committed_at_unix", 0.0)
            >= cutoff
        ]
        n_keep = max(keep_last, len(in_window))
    kept, dropped = versions[-n_keep:], versions[:-n_keep]
    referenced = set()
    for v in kept:
        m = _read_manifest(spark, table, v)
        referenced.update(m["files"])
        referenced.update((m.get("dv") or {}).get("sidecars") or [])
    doomed = set()
    for v in dropped:
        m = _read_manifest(spark, table, v)
        doomed.update(m["files"])
        # DV sidecars refcount exactly like data files: reclaimed when no
        # surviving version lists them
        doomed.update((m.get("dv") or {}).get("sidecars") or [])
    doomed -= referenced
    # OWNERSHIP guard: a table only ever deletes data under its own root.
    # A shallow clone (snapshot_clone) references the SOURCE table's
    # files — expiring the clone's history must never reach into the
    # source's directory (the clone doesn't own those bytes).
    own_root = _norm_uri(table).rstrip("/") + "/"
    doomed = {f for f in doomed if _norm_uri(f).startswith(own_root)}
    fs, _, jvm = _fs(spark, table)
    for f in sorted(doomed):
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    for v in dropped:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_manifest_path(table, v)), False)
    # crash janitoring for the atomic-publish protocol: a writer that died
    # between writing a ``v*.json.tmp-*`` payload and linking it is the
    # only way a tmp file outlives its commit attempt — no live commit
    # references one (readers filter on ``.json``). Age-gated (10 min by
    # mtime) so a LIVE writer's microseconds-old tmp is never yanked
    # between its write and its link. Not counted in the data-file total.
    mdir = jvm.org.apache.hadoop.fs.Path(
        f"{table.rstrip('/')}/{_MANIFEST_DIR}"
    )
    if fs.exists(mdir):
        cutoff_ms = (time.time() - 600) * 1000
        for st in fs.listStatus(mdir):
            if (
                ".tmp-" in st.getPath().getName()
                and st.getModificationTime() < cutoff_ms
            ):
                fs.delete(st.getPath(), False)
    n_deleted = len(doomed)
    if orphan_age_seconds is not None:
        # re-list AFTER the expiry deletes: the tracked set must reflect
        # every manifest that still exists, including any version a
        # concurrent writer committed while this vacuum ran (its fresh
        # files are also mtime-protected — two independent guards)
        tracked = set()
        for v in list_versions(spark, table):
            m = _read_manifest(spark, table, v)
            tracked.update(_norm_uri(f) for f in m["files"])
            tracked.update(
                _norm_uri(s) for s in (m.get("dv") or {}).get("sidecars") or []
            )
        orphan_cutoff_ms = (time.time() - orphan_age_seconds) * 1000
        for sub in (_DATA_DIR, _DV_DIR):
            root = jvm.org.apache.hadoop.fs.Path(f"{table.rstrip('/')}/{sub}")
            if not fs.exists(root):
                continue
            it = fs.listFiles(root, True)  # recursive: tx-*/part-*
            while it.hasNext():
                st = it.next()
                p = st.getPath()
                if _norm_uri(p.toString()) in tracked:
                    continue
                if st.getModificationTime() >= orphan_cutoff_ms:
                    continue  # could be an in-flight commit's file
                fs.delete(p, False)
                n_deleted += 1
    return n_deleted


# ---- bloom-filter file index: point-lookup skipping -----------------------
#
# Min/max stats prune RANGE predicates on the clustered column; they are
# useless for point lookups on any OTHER high-cardinality column (every
# file's [min, max] spans most of the key space). A per-file Bloom filter
# answers "can this file contain value v?" in O(k) bit probes — Delta/
# Iceberg ship the same idea as bloom-filter indexes / puffin blobs. The
# build is one distributed scan (groupBy file — map-side combinable set
# agg); the probe is metadata-only at plan time. Hashing is single-sourced
# in the JVM (xxhash64(value, seed)): the probe computes the lookup
# value's bit positions through the SAME Spark expression as the build,
# so there is no Python reimplementation to drift.


def _norm_uri(uri: str) -> str:
    """file:///x, file:/x and /x all name the same local path."""
    if uri.startswith("file:"):
        rest = uri[5:].lstrip("/")
        return "/" + rest
    return uri


def _bloom_positions_expr(value_col, num_bits: int, num_hashes: int):
    """array<int> of the k bit positions for one value — build and probe
    both evaluate exactly this expression."""
    return F.array(
        *[
            F.pmod(F.xxhash64(value_col, F.lit(i)), F.lit(num_bits)).cast("int")
            for i in range(num_hashes)
        ]
    )


def snapshot_bloom_index(
    spark: SparkSession,
    table: str,
    column: str,
    num_bits: int = 8192,
    num_hashes: int = 5,
) -> int:
    """Build per-file Bloom filters for ``column`` over the tip snapshot
    and commit them as an ``index`` version (same files, same stats —
    only metadata changes). ``snapshot_point_lookup`` then skips files
    whose filter proves the value absent. NULLs are not represented
    (point lookups are non-null by contract); files whose every value is
    NULL simply get no entry and are conservatively read.

    Scale: the build scans the table once and shuffles at most
    ``num_bits`` distinct positions per (file, column) — kilobytes per
    file; the driver materializes one ``num_bits/8``-byte bitset per
    file into the manifest, so size ``num_bits`` against the expected
    file count (8 KiB × 10k files = 80 MB of manifest — prefer a larger
    ``num_bits`` only for genuinely hot lookup columns). Bloom entries
    are per-file facts about immutable files, so EVERY commit inherits
    the tip's entries for files it still references (see ``_commit``) —
    merges/deletes/optimizes keep carried files indexed; only new or
    rewritten files are unindexed (conservatively read) until the next
    ``snapshot_bloom_index`` run.
    False-positive rate ≈ (1 - e^(-k·n/m))^k — at the defaults, ~2% for
    1k distinct values per file."""
    if num_bits % 8:
        raise ValueError("num_bits must be a multiple of 8")

    def compose(tip_v: int, tip: dict, write) -> int:
        schema = StructType.fromJson(tip["schema"])
        if column not in schema.names:
            raise ValueError(
                f"column {column!r} not in table schema {schema.names}"
            )
        files = tip["files"]
        blooms = dict(tip.get("file_blooms") or {})
        mapping = tip.get("column_mapping") or {}
        if files:
            scan = (
                spark.read.schema(_physical_schema(schema, mapping))
                .parquet(*files)
                .select(
                    F.input_file_name().alias("_f"),
                    F.col(mapping.get(column, column)).alias("_v"),
                )
                .where(F.col("_v").isNotNull())
            )
            per_file = (
                scan.select(
                    "_f",
                    F.explode(
                        _bloom_positions_expr(F.col("_v"), num_bits, num_hashes)
                    ).alias("_p"),
                )
                .groupBy("_f")
                .agg(F.collect_set("_p").alias("_ps"))
            )
            by_norm = {_norm_uri(f): f for f in files}
            for row in per_file.collect():  # O(files) rows — manifest-sized
                f = by_norm.get(_norm_uri(row["_f"]))
                if f is None:
                    continue
                bits = bytearray(num_bits // 8)
                for p in row["_ps"]:
                    bits[p >> 3] |= 1 << (p & 7)
                entry = dict(blooms.get(f) or {})
                entry[column] = {
                    "m": num_bits, "k": num_hashes, "bits": bits.hex()
                }
                blooms[f] = entry
        return _commit(
            spark, table, "index", files, schema, tip_v, tip,
            file_stats=tip.get("file_stats"), file_blooms=blooms,
        )

    return _commit_loop(spark, table, "index", compose, attempts=1)


def _bloom_may_contain(entry: dict, positions_by_cfg: dict) -> bool:
    """Probe one file's bloom entry: may it hold ANY of the values whose
    bit positions for its (m, k) config are precomputed (one position
    list per value)? Unknown config (not precomputed) → conservative
    True."""
    per_value = positions_by_cfg.get((entry["m"], entry["k"]))
    if per_value is None:
        return True
    bits = bytes.fromhex(entry["bits"])
    return any(
        all(bits[p >> 3] & (1 << (p & 7)) for p in pos) for pos in per_value
    )


def _point_lookup_files(
    spark: SparkSession, table: str, column: str, values, version: int | None
) -> tuple[list[str], list[str], StructType, dict]:
    """Scan planning for a point/IN lookup (``values``: one value or a
    list): (files to read, all tip files, pinned schema, manifest). Pruning
    composes BOTH metadata layers through ``_select_files`` — min/max
    stats (range check) and the bloom index (membership check, a file
    survives if ANY value may be present); a file must survive both to be
    read, and files missing either layer pass that layer conservatively."""
    if not isinstance(values, (list, tuple)):
        values = [values]
    _, manifest = _resolve(spark, table, version)
    schema = StructType.fromJson(manifest["schema"])
    if column not in schema.names:
        raise ValueError(f"column {column!r} not in table schema {schema.names}")
    dtype = schema[column].dataType
    cfgs = {
        (e[column]["m"], e[column]["k"])
        for e in (manifest.get("file_blooms") or {}).values()
        if column in e
    }
    # one local job per distinct (m, k) config — normally exactly one —
    # evaluates the BUILD's hash expression on every lookup value at once
    positions_by_cfg: dict[tuple, list[list[int]]] = {}
    for m, k in cfgs:
        row = (
            spark.range(1)
            .select(
                F.array(
                    *[
                        _bloom_positions_expr(F.lit(val).cast(dtype), m, k)
                        for val in values
                    ]
                ).alias("p")
            )
            .head()
        )
        positions_by_cfg[(m, k)] = [list(p) for p in row["p"]]
    files, _ = _select_files(
        manifest,
        {column: {"values": list(values)}},
        blooms={column: positions_by_cfg},
    )
    return files, manifest["files"], schema, manifest


def snapshot_point_lookup(
    spark: SparkSession,
    table: str,
    column: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """``SELECT * FROM t WHERE column = value`` with whole-file skipping:
    files are pruned via the manifest's min/max stats AND the bloom index
    (``snapshot_bloom_index``) before Spark ever plans the scan, then the
    equality filter runs on the survivors (so the result is exactly the
    filtered read — pruning is an optimization, never a semantics
    change). The 100 TB shape: a needle-in-haystack key probe touches
    O(matching files + false positives) instead of every file.

    A list ``value`` is ``WHERE column IN (...)``: a file is read iff
    stats/bloom say it may hold ANY of the values (all probe positions
    come from ONE local hashing job) — the batched-key-fetch shape, where
    a 100-key worklist touches the union of the keys' files."""
    values = list(value) if isinstance(value, (list, tuple)) else [value]
    if not values or any(v is None for v in values):
        raise ValueError(
            "point lookup needs non-null value(s); for IS NULL use "
            "snapshot_read(...).filter(F.col(column).isNull())"
        )
    files, _all, schema, manifest = _point_lookup_files(
        spark, table, column, values, version
    )
    dtype = schema[column].dataType
    pred = F.col(column).isin([F.lit(v).cast(dtype) for v in values])
    return _read_data_files(spark, schema, files, manifest).filter(pred)


# ---- table constraints (CHECK / NOT NULL analog) --------------------------


def snapshot_add_constraint(
    spark: SparkSession, table: str, name: str, expression: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expression): the
    constraint is first proven against the CURRENT table (one scan — a
    constraint you can't trust on existing data is worthless), then
    committed as a metadata-only ``set_constraint`` version. From that
    version on, every data-adding commit (append / merge / partitioned
    merge / overwrite) validates its DELTA against all active
    constraints before writing a single file — O(commit), never the
    table — and rejects with :class:`SnapshotConstraintError` on any
    FALSE row (NULL passes, SQL CHECK semantics). Express NOT NULL as
    ``col IS NOT NULL``."""

    def compose(tip_v: int, tip: dict, write) -> int:
        active = dict(tip.get("constraints") or {})
        if name in active:
            raise ValueError(
                f"constraint {name!r} already exists: {active[name]}"
            )
        schema = StructType.fromJson(tip["schema"])
        _validate_constraints(
            _read_data_files(spark, schema, tip["files"], tip),
            {name: expression},
        )
        active[name] = expression
        return _commit(
            spark, table, "set_constraint", tip["files"], schema, tip_v, tip,
            file_stats=tip.get("file_stats"), constraints=active,
        )

    return _commit_loop(spark, table, "set_constraint", compose, attempts=1)


def snapshot_drop_constraint(spark: SparkSession, table: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: metadata-only commit removing the
    named constraint from the active set."""

    def compose(tip_v: int, tip: dict, write) -> int:
        active = dict(tip.get("constraints") or {})
        if name not in active:
            raise ValueError(
                f"no constraint named {name!r} (have {sorted(active)})"
            )
        del active[name]
        return _commit(
            spark, table, "set_constraint", tip["files"],
            StructType.fromJson(tip["schema"]), tip_v, tip,
            file_stats=tip.get("file_stats"), constraints=active,
        )

    return _commit_loop(spark, table, "set_constraint", compose, attempts=1)


def _constraints_referencing(constraints: dict, col: str) -> list[str]:
    import re as _re

    pat = _re.compile(rf"(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])",
                      _re.IGNORECASE)
    return sorted(n for n, expr in (constraints or {}).items() if pat.search(expr))


def snapshot_rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """``ALTER TABLE t RENAME COLUMN old TO new`` as a METADATA-ONLY
    commit (Delta column mapping, name mode): data files keep the column
    under its physical name — frozen at column birth — and only the
    manifest's logical schema and ``column_mapping`` change, so the op
    is one JSON write at any table size. Writers translate
    logical→physical before writing; readers translate back; stats and
    bloom keys are rewritten to the new logical name in the same commit
    (the manifest metadata namespace is logical). Renaming a column a
    CHECK constraint references is refused — the stored expression would
    silently stop binding (drop the constraint first, re-add against the
    new name)."""

    def compose(tip_v: int, tip: dict, write) -> int:
        schema = StructType.fromJson(tip["schema"])
        if old not in schema.names:
            raise ValueError(f"no column {old!r} in {table} ({schema.names})")
        if new in schema.names:
            raise ValueError(f"column {new!r} already exists in {table}")
        mapping = dict(tip.get("column_mapping") or {})
        retired = tip.get("retired_physical") or []
        phys_in_use = {mapping.get(f.name, f.name) for f in schema.fields}
        if new in (phys_in_use - {mapping.get(old, old)}) or new in retired:
            raise ValueError(
                f"logical name {new!r} collides with a physical column name "
                f"in {table}'s data files — pick a different name"
            )
        refs = _constraints_referencing(tip.get("constraints"), old)
        if refs:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) {refs} "
                f"— drop them before renaming, then re-add against {new!r}"
            )
        # first rename seeds identity entries so every column's physical
        # name is explicit from here on
        if not mapping:
            mapping = {f.name: f.name for f in schema.fields}
        mapping[new] = mapping.pop(old, old)
        fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in schema.fields
        ]
        # manifest metadata is logical-keyed: move old → new in place
        def moved(per_file: dict | None) -> dict | None:
            return per_file and {
                f: {(new if c == old else c): v for c, v in per.items()}
                for f, per in per_file.items()
            }

        return _commit(
            spark, table, "rename_column", tip["files"], StructType(fields),
            tip_v, tip, file_stats=moved(tip.get("file_stats")),
            file_blooms=moved(tip.get("file_blooms")), column_mapping=mapping,
            extra={"renamed": {"from": old, "to": new}},
        )

    return _commit_loop(spark, table, "rename_column", compose)


def snapshot_drop_column(spark: SparkSession, table: str, col: str) -> int:
    """``ALTER TABLE t DROP COLUMN col`` as a METADATA-ONLY commit: the
    logical field leaves the schema and its physical name is RETIRED —
    the bytes stay in the files (parquet column pruning means they are
    never read again; a rewrite op like OPTIMIZE sheds them physically),
    and a future column may reuse the logical name only if it never
    served as a physical name (`retired_physical` guard in the write
    path), so historic data can't resurrect under a re-added column.
    Refused while a CHECK constraint references the column."""

    def compose(tip_v: int, tip: dict, write) -> int:
        schema = StructType.fromJson(tip["schema"])
        if col not in schema.names:
            raise ValueError(f"no column {col!r} in {table} ({schema.names})")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop a table's only column")
        refs = _constraints_referencing(tip.get("constraints"), col)
        if refs:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint(s) {refs} "
                f"— drop them first"
            )
        mapping = dict(tip.get("column_mapping") or {})
        if not mapping:
            mapping = {f.name: f.name for f in schema.fields}
        phys = mapping.pop(col, col)

        def dropped(per_file: dict | None) -> dict | None:
            return per_file and {
                f: {c: v for c, v in per.items() if c != col}
                for f, per in per_file.items()
            }

        return _commit(
            spark, table, "drop_column", tip["files"],
            StructType([f for f in schema.fields if f.name != col]),
            tip_v, tip, file_stats=dropped(tip.get("file_stats")),
            file_blooms=dropped(tip.get("file_blooms")), column_mapping=mapping,
            retired_physical=list(tip.get("retired_physical") or []) + [phys],
            extra={"dropped": col},
        )

    return _commit_loop(spark, table, "drop_column", compose)


def snapshot_update(
    spark: SparkSession,
    table: str,
    set_exprs: dict[str, str],
    where: str | None = None,
) -> int:
    """``UPDATE t SET col = expr, ... [WHERE predicate]``: rows matching
    the predicate (NULL = no match, SQL semantics) get every ``set_exprs``
    column recomputed; all other rows carry unchanged. Committed as a
    full rewrite through the normal path, so active CHECK constraints
    validate the UPDATED table content before it replaces the tip —
    an UPDATE cannot sneak a violating value past ADD CONSTRAINT. For
    key-addressed upserts prefer :func:`snapshot_merge` (file-pruned
    with ``partition_col``); this is the predicate-addressed form."""
    hit = (
        F.coalesce(F.expr(where), F.lit(False)) if where is not None else F.lit(True)
    )

    def compose(tip_v: int, tip: dict, write) -> int:
        # recomputed from each attempt's tip: rows a racer appended are
        # updated, type-checked and validated like the rest
        df = _read_data_files(
            spark, StructType.fromJson(tip["schema"]), tip["files"], tip
        )
        for col in set_exprs:
            if col not in df.columns:
                raise ValueError(
                    f"UPDATE of unknown column {col!r} ({df.columns})"
                )
        updated = df.select(
            *[
                F.when(hit, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in df.columns
            ]
        )
        # UPDATE never changes a column's type: the when/otherwise
        # coercion can silently widen a SET column (int col = double
        # expr); refuse — the caller CASTs explicitly if a type change is
        # intended
        _check_types(
            df.schema, updated.schema, "UPDATE SET expression",
            "UPDATE preserves column types; add an explicit "
            "CAST(... AS {t}) to the SET expression",
        )
        # pinned: the constraint check and the write see one evaluation
        updated = updated.localCheckpoint()
        _validate_constraints(updated, tip.get("constraints") or {})
        return _rewrite(
            spark, table, "update", tip_v, tip, write, [], updated,
            schema=df.schema,
        )

    return _commit_loop(spark, table, "update", compose)


def snapshot_delete_dv(
    spark: SparkSession,
    table: str,
    predicate: str | None = None,
    *,
    column: str | None = None,
    lo=None,
    hi=None,
    extra_condition: str | None = None,
) -> int:
    """``DELETE FROM t WHERE predicate`` as a MERGE-ON-READ commit
    (Delta's deletion vectors / Iceberg's position deletes): no data file
    is rewritten — the commit writes parquet sidecars of dead
    (file, row-position) pairs plus one manifest, so the write cost is
    proportional to the rows DELETED, not the rows kept. At 100 TB this
    is the difference between a kilobyte commit and re-writing every
    touched gigabyte; the copy-on-write :func:`snapshot_delete` stays
    the right tool when a delete guts whole files. SQL semantics: a
    NULL predicate never matches.

    Readers subtract the vectors in the shared read path
    (``_read_data_files``); ``snapshot_count`` stays metadata-only
    (footer rows minus recorded cardinality); ``snapshot_purge_dv`` /
    ``snapshot_optimize`` fold vectors back into rewritten files.
    Repeated MoR deletes compose: matching runs on the DV-applied view,
    so a position is recorded at most once and cardinalities add.
    Returns the committed version (the current tip when nothing
    matched — no empty commit).

    Two predicate forms, matching :func:`snapshot_delete`: an arbitrary
    ``predicate`` string scans every file (row-group pruning still
    applies via pushdown — Delta's DV delete has the same shape), or
    the RANGED form ``column``/``lo``/``hi`` [+ ``extra_condition``]
    where files whose manifest stats prove the range can't match are
    never opened at all — sound by construction, because pruning uses
    exactly the range that is ANDed into the match predicate."""
    if (predicate is None) == (column is None):
        raise ValueError(
            "pass exactly one of: predicate=<sql>, or column/lo/hi"
        )
    if column is not None:
        pred = _between(column, lo, hi)
        if extra_condition is not None:
            pred = pred & F.expr(extra_condition)
    else:
        pred = F.expr(predicate)

    def compose(tip_v: int, tip: dict, write) -> int:
        schema = StructType.fromJson(tip["schema"])
        files = tip["files"]
        # scan_files is what we OPEN to find matches; the commit always
        # references the FULL file list — pruning must never leak into
        # the manifest
        scan_files = files
        if column is not None:
            # whole-file skipping: a file whose [min, max] for `column`
            # cannot intersect [lo, hi] cannot hold a matching row
            scan_files, _ = _select_files(tip, {column: {"lo": lo, "hi": hi}})
        if not scan_files:
            return tip_v
        # scan WITH row positions, existing vectors already subtracted —
        # a row deleted twice must not be recorded twice. Column-mapped
        # tables read by PHYSICAL name and rename back so the user's
        # predicate binds to logical columns.
        mapping = tip.get("column_mapping") or {}
        back = {p: l for l, p in mapping.items() if p != l}
        tagged = (
            spark.read.schema(_physical_schema(schema, mapping))
            .parquet(*scan_files)
            .select(
                "*",
                _dv_norm_path_expr(F.col("_metadata.file_path")).alias(
                    "__dv_file"
                ),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )
        )
        if back:
            tagged = tagged.withColumnsRenamed(back)
        prior = _dv_union_df(spark, tip)
        if prior is not None:
            cond = (tagged["__dv_file"] == prior["file"]) & (
                tagged["__dv_pos"] == prior["pos"]
            )
            tagged = tagged.join(F.broadcast(prior), cond, "left_anti")
        matched = tagged.filter(F.coalesce(pred, F.lit(False))).select(
            F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
        )
        new_sidecars = write(matched, subdir=_DV_DIR)
        if not new_sidecars:  # nothing matched: no commit
            return tip_v
        # per-file dead counts come from the just-written sidecars — a
        # deleted-rows-sized read — NOT a second evaluation of the
        # matched plan (which would re-run the full table scan + anti-join)
        new_card = {
            r["file"]: r["n"]
            for r in spark.read.schema("file string, pos bigint")
            .parquet(*new_sidecars)
            .groupBy("file")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        prev_dv = tip.get("dv") or {}
        # sidecar "file" values are normalized paths; manifest files may
        # carry a scheme — key cardinality by the MANIFEST spelling so
        # _commit inheritance (keyed on manifest file names) works
        norm_to_manifest = {_norm_uri(f): f for f in files}
        card = dict(prev_dv.get("cardinality") or {})
        for nf, n in new_card.items():
            mf = norm_to_manifest.get(nf, nf)
            card[mf] = card.get(mf, 0) + n
        dv = {
            "sidecars": (prev_dv.get("sidecars") or []) + new_sidecars,
            "cardinality": card,
        }
        return _commit(
            spark, table, "delete_dv", files, schema, tip_v, tip,
            file_stats=tip.get("file_stats"), dv=dv,
        )

    return _commit_loop(spark, table, "delete_dv", compose)


def snapshot_zorder(
    spark: SparkSession,
    table: str,
    zorder_cols: list[str],
    target_file_bytes: int = 128 << 20,
    bits: int = 8,
) -> int:
    """``OPTIMIZE t ZORDER BY (c1, c2, ...)`` — rewrite the table's data
    files clustered on the Morton (Z-order) interleaving of the given
    columns, so per-file min/max stats become tight on EVERY zorder
    column at once and stats-pruned scans (:func:`snapshot_scan`, the
    DataSource's pushed-filter pruning) skip files for predicates on any
    of them. Linear clustering (``snapshot_optimize(cluster_col=...)``)
    buys pruning on one column and destroys it on the rest; Z-order is
    the multi-dimensional version Delta/Iceberg ship for exactly the
    100 TB problem: a fact table queried by several independent keys.

    Spark-first shape, no driver-side data: per column, equi-depth
    bucket boundaries come from ``approxQuantile`` (one distributed
    pass, Greenwald-Khanna); each row's bucket id is computed map-side
    with a JVM higher-order ``aggregate`` over the broadcast-literal
    boundary array; the Z-value interleaves the bucket bits with pure
    integer arithmetic (shift/AND — whole-stage codegen); the rewrite is
    ``repartitionByRange + sortWithinPartitions`` on the Z-value. Data
    content is byte-identical (layout-only commit, op ``optimize``);
    deletion vectors fold into the rewrite like OPTIMIZE. Stats are
    re-collected for the union of previously-tracked columns and the
    zorder columns. NULLs sort into bucket 0 (files holding a column's
    NULLs keep ``has_null`` so NULL-probes stay correct).

    Numeric, timestamp and date columns (temporal columns bucket on
    their epoch seconds, and their per-file stats ride the manifest as
    canonical ISO strings — ``_stat_norm``); raise on anything else
    rather than silently hash-bucketing.

    Relation to ``writers.zorder_value`` / ``write_parquet_zordered``:
    those interleave the RAW low bits of two non-negative int columns at
    write time (no table format needed); this is the table-format
    OPTIMIZE — equi-depth bucketing handles arbitrary numeric
    distributions (skew, floats, negatives), takes 1-4 columns, folds
    deletion vectors, re-collects manifest stats, and commits
    layout-only history.
    """
    if not zorder_cols or len(zorder_cols) > 4:
        raise ValueError("zorder takes 1-4 columns")
    if bits * len(zorder_cols) > 62:
        raise ValueError("bits * n_cols must fit a signed 64-bit Z-value")

    def compose(tip_v: int, tip: dict, write) -> int:
        schema = StructType.fromJson(tip["schema"])
        dtype_of = {f.name: f.dataType.simpleString() for f in schema.fields}
        orderable = {
            name
            for name, dt in dtype_of.items()
            if dt
            in (
                "tinyint", "smallint", "int", "bigint", "float", "double",
                # timestamps/dates bucket on their epoch seconds — the
                # single most common Z-order dimension in practice (an
                # events fact queried by time AND entity); their file
                # stats ride the manifest as canonical ISO strings
                # (_stat_norm), so the pruned scans work end-to-end
                "timestamp", "timestamp_ntz", "date",
            )
            or dt.startswith("decimal")
        }
        missing = [c for c in zorder_cols if c not in schema.names]
        if missing:
            raise ValueError(f"zorder column(s) {missing} not in {schema.names}")
        non_num = [c for c in zorder_cols if c not in orderable]
        if non_num:
            raise ValueError(
                f"zorder column(s) {non_num} are not numeric/temporal — "
                f"Z-order bucketing uses approxQuantile; cast or derive a "
                f"numeric sort key first"
            )

        def _as_num(c: str):
            col = F.col(c)
            if dtype_of[c] in ("date", "timestamp_ntz"):
                # neither casts to double directly; the hop goes through
                # session-TZ timestamp. Bucket QUALITY could wobble at a
                # DST fold under a non-UTC session TZ, but never
                # correctness — stats are re-collected from actual values
                col = col.cast("timestamp")
            return col.cast("double")  # timestamp → epoch seconds
        if not tip["files"]:
            return tip_v
        df = _read_data_files(spark, schema, tip["files"], tip)
        n_buckets = 1 << bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # one distributed GK pass for ALL columns' boundaries; decimals
        # are pre-cast (approxQuantile's numeric domain excludes them)
        qdf = df.select(
            *[_as_num(c).alias(f"_q{i}") for i, c in enumerate(zorder_cols)]
        )
        all_bnds = qdf.approxQuantile(
            [f"_q{i}" for i in range(len(zorder_cols))], probs, 0.001
        )
        z = None
        for ci, (col, bnds) in enumerate(zip(zorder_cols, all_bnds)):
            # all-NULL column (GK sees no values): every row buckets to 0
            uniq = sorted({b for b in bnds if b is not None})
            if not uniq:
                bucket = F.lit(0)
            else:
                # rank = |{b in uniq : b <= v}| via a power-of-two upper-
                # bound binary search (classic Fenwick stepping) instead
                # of a linear fold over all |uniq| boundaries: the rank is
                # IDENTICAL (same bucket ids, same layout) but each row
                # pays O(log |uniq|) comparisons instead of O(|uniq|) —
                # at 255 boundaries that is ~30x less per-row compute, and
                # the z-value is evaluated TWICE per rewrite (once in
                # repartitionByRange's sampling pass, once in the shuffle
                # map stage), so the fold was the rewrite's hottest
                # expression (guide §1.2: fix the per-task work). The
                # boundary array is ONE array literal (F.lit(list)), not
                # |uniq| py4j Column calls — the old construction alone
                # cost ~0.5 s of driver time per column at 255 boundaries.
                # NULL values: the comparison is NULL, the WHEN falls to
                # otherwise(lo), rank stays 0 — exactly the old fold's
                # NULL behaviour (NULLs bucket to 0).
                m = len(uniq)
                arr = F.lit([float(b) for b in uniq])
                powers = [1 << i for i in range(m.bit_length() - 1, -1, -1)]
                vnum = _as_num(col)
                raw = F.aggregate(
                    F.lit(powers),
                    F.lit(0),
                    lambda lo, p: F.when(
                        (lo + p <= F.lit(m))
                        & (F.element_at(arr, (lo + p).cast("int")) <= vnum),
                        lo + p,
                    ).otherwise(lo),
                )
                # SCALE the bucket id to span the full 2^bits range: a
                # low-cardinality column (12 distinct values → 12 distinct
                # buckets) would otherwise populate only its LOW bits,
                # the interleave would give it no high-order influence,
                # and file splits would ignore that dimension entirely —
                # caught by the skewed-distribution pruning test.
                bucket = F.floor(
                    raw * F.lit((n_buckets - 1) / len(uniq))
                ).cast("int")
            # interleave: bit j of column ci lands at position j*k + ci
            k = len(zorder_cols)
            for j in range(bits):
                contrib = F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * k + ci
                ).cast("long")
                z = contrib if z is None else z + contrib
        fs, _, jvm = _fs(spark, table)
        total_bytes = sum(
            fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            for f in tip["files"]
        )
        n_out = max(1, -(-total_bytes // target_file_bytes))
        packed = (
            df.withColumn("_zval", z)
            .repartitionByRange(n_out, F.col("_zval"))
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
        # stats for the zorder columns too, so the scans it exists for prune
        return _rewrite(
            spark, table, "optimize", tip_v, tip, write, [], packed,
            stats_cols=zorder_cols,
        )

    return _commit_loop(spark, table, "optimize", compose)


def snapshot_purge_dv(spark: SparkSession, table: str) -> int:
    """``REORG TABLE ... APPLY (PURGE)`` — rewrite ONLY the files that
    carry deletion vectors, folding the dead positions in, and carry
    every clean file by identity. After the commit (op ``purge_dv``) the
    tip has no vectors; older versions keep theirs until ``vacuum``
    reclaims the sidecars. The read-amplification reset knob: run it
    when a file's dead fraction makes the read-side anti-join more
    expensive than one rewrite. No-op (current version) on a clean
    table."""

    def compose(tip_v: int, tip: dict, write) -> int:
        card = (tip.get("dv") or {}).get("cardinality") or {}
        dirty = [f for f in tip["files"] if f in card]
        if not dirty:
            return tip_v
        carried = [f for f in tip["files"] if f not in card]
        compacted = _read_data_files(
            spark, StructType.fromJson(tip["schema"]), dirty, tip
        )
        return _rewrite(
            spark, table, "purge_dv", tip_v, tip, write, carried, compacted,
            dv={"sidecars": [], "cardinality": {}},
        )

    return _commit_loop(spark, table, "purge_dv", compose)


def snapshot_clone(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: create a new table whose v1 manifest references the
    SOURCE's data files at the pinned version — zero data copied, O(one
    manifest) however large the table (Delta's ``CREATE TABLE ... SHALLOW
    CLONE``). The clone is immediately writable: merges/appends/deletes
    on it write THEIR OWN files under the clone's root and never touch
    the source; stats, bloom entries and constraints travel with the
    referenced files/metadata.

    Ownership contract (enforced in ``vacuum``): a table only deletes
    data under its own root, so expiring the CLONE's history can never
    reach into the source. The inverse dependency is Delta's documented
    shallow-clone caveat and holds here too: vacuuming the SOURCE can
    delete files the clone still references (the source doesn't know its
    readers) — deep-copy first if the source's retention is shorter than
    the clone's life."""
    v, m = _resolve(spark, source_table, version)
    if list_versions(spark, target_table):
        raise ValueError(f"clone target {target_table} already exists")
    manifest = {
        "operation": "clone",
        "cloned_from": {"table": source_table, "version": v},
        "files": m["files"],
        "schema": m["schema"],
        "committed_at_unix": round(time.time(), 3),
    }
    for key in ("file_stats", "file_blooms", "constraints", "dv",
                "column_mapping", "retired_physical"):
        if m.get(key):
            manifest[key] = m[key]
    # creates the table: claims v1 directly (a racer raises)
    return _try_commit(spark, target_table, manifest, 1)
