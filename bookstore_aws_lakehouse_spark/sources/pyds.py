"""The snapshot table as a first-class Spark data source (Spark 4's
Python DataSource API): after ``register_snapshot_datasource(spark)``,

    spark.read.format("lakesnap").option("path", table)
         .option("version", "3").load()

plans a manifest-pinned, stats-pruned scan of the table — no helper
function in the read path at all. What the integration buys over
``snapshot_read``:

- **Engine-driven filter pushdown**: Spark hands the reader its
  predicates (``pushFilters``); file-level pruning against the
  manifest's min/max stats happens INSIDE scan planning, for any query
  shape — SQL over a view included — not just calls to
  ``snapshot_scan``. Every filter is also returned as unapplied, so
  Spark re-evaluates them row-level: pruning can only skip files the
  stats PROVE empty for the predicate. (The bloom index stays
  engine-side — probing it requires Spark's xxhash64, and this repo
  deliberately has no second hash implementation to drift.)
- **File-granular parallelism**: one ``InputPartition`` per data file.
- **Arrow batches**: ``read`` yields pyarrow RecordBatches straight from
  the parquet reader — the vectorized path, no Python row objects.

The format is read-only: batch read and stream read. Writes go through
the engine's snapshot functions (``snapshot_append``, ``snapshot_merge``,
...), whose ``_claim_version`` is the one code path that publishes a
manifest; ``snapshot_merge`` under ``foreachBatch`` is the streaming sink.

Local-filesystem scope: manifests and data are read with plain
``open``/pyarrow — the Python DS API runs in Python workers with no JVM
FileSystem handle. On a cluster the package must be shipped to executors
(cloudpickle serializes the reader by reference).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from bookstore_aws_lakehouse_spark.sources.snapshots import _select_files

FORMAT_NAME = "lakesnap"


def _local(path: str) -> str:
    if path.startswith("file:"):
        return "/" + path[5:].lstrip("/")
    return path


def _versions_local(table: str) -> list[int]:
    """Committed versions of ``table``, ascending, from its manifest
    file names."""
    return sorted(
        int(f[1:-5])
        for f in os.listdir(os.path.join(_local(table), "_manifests"))
        if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest_local(table: str, version: int | None) -> dict:
    versions = _versions_local(table)
    if not versions:
        raise FileNotFoundError(f"no snapshot manifests under {table}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {table} (have {versions})")
    with open(os.path.join(_local(table), "_manifests", f"v{v}.json")) as f:
        return json.load(f)


@dataclass
class _FilePartition(InputPartition):
    path: str
    #: logical column names + logical→physical map (None = raw passthrough)
    cols: tuple | None = None
    phys_of: dict | None = None
    #: DV sidecar paths holding dead positions for THIS file (streaming;
    #: the batch reader resolves them from its manifest instead)
    dv_sidecars: tuple | None = None


def _bounds_for(filters: Sequence[Filter]) -> dict[str, dict]:
    """Distill pushed filters into the per-column bounds
    ``snapshots._select_files`` prunes on:
    {col: {"values": [...] | None, "lo": x | None, "hi": y | None}}.
    Only top-level single-part columns participate (nested paths are
    never pruned on)."""
    out: dict[str, dict] = {}

    def ent(col) -> dict | None:
        if len(col) != 1:
            return None
        return out.setdefault(col[0], {"values": None, "lo": None, "hi": None})

    for f in filters:
        if isinstance(f, (EqualTo, EqualNullSafe, In)):
            e = ent(f.attribute)
            if e is not None:  # In.value is the tuple of values
                vals = list(f.value) if isinstance(f, In) else [f.value]
                e["values"] = (e["values"] or []) + vals
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            e = ent(f.attribute)
            if e is not None:
                e["lo"] = f.value if e["lo"] is None else max(e["lo"], f.value)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            e = ent(f.attribute)
            if e is not None:
                e["hi"] = f.value if e["hi"] is None else min(e["hi"], f.value)
    return out


class SnapshotReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self._schema = schema
        version = options.get("version")
        self._manifest = _read_manifest_local(
            options["path"], int(version) if version is not None else None
        )
        # column mapping: files carry physical names; read by physical,
        # emit logical (stats/bounds stay logical-keyed — no translation)
        self._phys_of = {
            c: (self._manifest.get("column_mapping") or {}).get(c, c)
            for c in schema.fieldNames()
        }
        self._bounds: dict[str, dict] = {}

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._bounds = _bounds_for(filters)
        # every filter is re-applied by Spark (pruning is an optimization,
        # never a semantics change) — report them all as unconsumed
        return iter(filters)

    def partitions(self) -> Sequence[InputPartition]:
        kept, _ = _select_files(self._manifest, self._bounds)
        return [_FilePartition(_local(f)) for f in kept]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        cols = self._schema.fieldNames()
        pf = pq.ParquetFile(partition.path)
        present = [
            self._phys_of[c]
            for c in cols
            if self._phys_of[c] in pf.schema_arrow.names
        ]
        dead = _dead_positions(self._manifest, partition.path)
        offset = 0
        for batch in pf.iter_batches(columns=present):
            n = batch.num_rows
            masked = _mask_dead(batch, dead, offset)
            offset += n
            yield from _conform(masked, cols, self._phys_of)


def _dead_positions(manifest: dict, local_path: str):
    """Deletion-vector positions for one data file from a manifest, or
    None when the file is clean."""
    dv = manifest.get("dv") or {}
    card = dv.get("cardinality") or {}
    if not any(_local(f) == local_path for f in card):
        return None
    return _load_positions(
        [_local(sc) for sc in dv.get("sidecars") or []], local_path
    )


def _load_positions(sidecars, local_path: str):
    """Dead positions for one data file from DV sidecar files (pyarrow
    filter pushdown on the ``file`` column — each sidecar read touches
    only matching row groups). Returns a pyarrow array or None."""
    import pyarrow.parquet as pq

    chunks = []
    for sc in sidecars:
        t = pq.read_table(
            sc, columns=["pos"], filters=[("file", "=", local_path)]
        )
        chunks.append(t.column("pos"))
    if not chunks:
        return None
    import pyarrow as pa

    return pa.concat_arrays(
        [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in chunks]
    )


def _mask_dead(batch, dead, offset: int):
    """Drop a batch's rows whose file-relative position (``offset`` +
    batch row index, matching Spark's ``_metadata.row_index``) is in the
    deletion vector. Vectorized: one ``is_in`` over an index array."""
    if dead is None or len(dead) == 0:
        return batch
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = pa.array(range(offset, offset + batch.num_rows), type=pa.int64())
    keep = pc.invert(pc.is_in(idx, value_set=dead.cast(pa.int64())))
    return batch.filter(keep)


def _conform(batch, cols, phys_of=None):
    """Schema evolution at the Arrow layer: historic files may lack
    columns added later — fill them with nulls and order to the table
    schema, exactly like ``snapshot_read``'s pinned-schema read. With a
    column mapping, ``phys_of`` names the physical column each LOGICAL
    output column reads from (identical for unmapped tables)."""
    import pyarrow as pa

    phys_of = phys_of or {}
    src = [phys_of.get(c, c) for c in cols]
    if batch.schema.names == list(cols) and src == list(cols):
        yield batch
        return
    arrays = []
    for c in src:
        if c in batch.schema.names:
            arrays.append(batch.column(batch.schema.names.index(c)))
        else:
            arrays.append(pa.nulls(batch.num_rows))
    yield pa.RecordBatch.from_arrays(arrays, names=list(cols))


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        version = self.options.get("version")
        m = _read_manifest_local(
            self.options["path"], int(version) if version is not None else None
        )
        return StructType.fromJson(m["schema"])

    def reader(self, schema: StructType) -> SnapshotReader:
        return SnapshotReader(dict(self.options), schema)

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        # defined below; resolved at call time
        return SnapshotStreamReader(dict(self.options))


def register_snapshot_datasource(spark) -> None:
    """Register ``format("lakesnap")`` on the session (idempotent). The
    session conf is left alone: the reader needs
    ``spark.sql.python.filterPushdown.enabled``, which ``get_spark`` sets,
    and any other session fails its read with Spark's
    ``DATA_SOURCE_PUSHDOWN_DISABLED`` error naming that conf."""
    spark.dataSource.register(SnapshotDataSource)


# ---- streaming source: tail the snapshot log ------------------------------


class SnapshotStreamReader(DataSourceStreamReader):
    """Micro-batch source over the snapshot COMMIT LOG: offsets are
    version numbers, a batch is the data files that are referenced at
    the end version but not at the start version — i.e. each appended
    commit streams exactly once, with one InputPartition per new file
    (the Delta streaming-source model). Restart-safe by construction:
    the engine checkpoints the version offsets.

    Contract (same as Delta's default streaming source): the table must
    be APPEND-ONLY within the streamed window — an op that rewrites or
    replaces data (merge/overwrite/delete/update/optimize/restore) would
    re-emit or lose rows, so the reader REFUSES the window loudly
    instead of silently corrupting the stream. Metadata-only commits
    (index, set_constraint) are transparent."""

    _APPEND_SAFE_OPS = {"append", "index", "set_constraint"}

    def __init__(self, options: dict) -> None:
        self._table = options["path"]
        # DS options arrive case-insensitively (lowercased keys)
        start = options.get("startingversion", options.get("startingVersion"))
        self._start = int(start) if start is not None else 0
        # maxVersionsPerTrigger: steady-state back-pressure (Delta's
        # maxFilesPerTrigger shape, in commit units). The cap anchors to
        # the first observed tip rather than the checkpointed offset —
        # latestOffset() receives no start in this API, and capping
        # below an unknown committed offset could make the engine record
        # a REGRESSED offset and re-emit data — so the first trigger
        # after (re)start is uncapped and every later trigger admits at
        # most N new versions. Monotonic by construction: never unsafe.
        cap = options.get("maxversionspertrigger")
        self._max_versions = int(cap) if cap is not None else None
        self._last_end: int | None = None
        # manifests are immutable once committed (created with O_EXCL), so
        # caching them by version is always sound — without it every
        # trigger's window loop re-reads each version's JSON (and the end
        # version twice: once for its op check, once for its file list)
        self._mcache: dict[int, dict] = {}

    def _manifest(self, v: int) -> dict:
        m = self._mcache.get(v)
        if m is None:
            m = _read_manifest_local(self._table, v)
            if len(self._mcache) >= 512:  # bounded on high-churn tables
                self._mcache.clear()
            self._mcache[v] = m
        return m

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = _versions_local(self._table)
        tip = vs[-1] if vs else self._start
        if self._max_versions is not None and self._last_end is not None:
            tip = min(tip, self._last_end + self._max_versions)
        self._last_end = max(tip, self._last_end or self._start)
        return {"version": tip}

    def partitions(self, start: dict, end: dict):
        v0, v1 = start["version"], end["version"]
        if v1 <= v0:
            return []
        have = set(_versions_local(self._table))
        base_files: set[str] = set()
        if v0:
            if v0 not in have:
                # the checkpointed start version was vacuumed: the batch
                # [v0, v1] can no longer be diffed, and treating it as
                # "from empty" would RE-EMIT every previously-streamed row.
                # Refuse loudly (Delta's failOnDataLoss default) — the
                # caller must restart from a fresh checkpoint.
                raise ValueError(
                    f"snapshot stream start version {v0} has been vacuumed "
                    f"from {self._table!r} — cannot reconstruct the batch "
                    f"without duplicating already-streamed rows. Restart "
                    f"the stream with a fresh checkpoint (failOnDataLoss)."
                )
            base_files = set(self._manifest(v0)["files"])
        floor = min(have) if have else 0
        for v in range(v0 + 1, v1 + 1):
            if v not in have:
                if v0 == 0 and v < floor:
                    # pre-initial-snapshot history: subsumed by the full
                    # file list we emit at the first retained manifest
                    continue
                # a vacuumed version INSIDE an incremental window hides
                # its op kind — the append-only contract can't be checked
                raise ValueError(
                    f"snapshot stream window ({v0}, {v1}] on "
                    f"{self._table!r} crosses vacuumed version {v} — "
                    f"append-only history cannot be verified; restart "
                    f"from a fresh checkpoint"
                )
            if v0 == 0 and v == floor:
                # streaming from the beginning: the table-creating commit
                # is the INITIAL SNAPSHOT (Delta streams it wholesale) —
                # its op kind is irrelevant, its files emit exactly once
                continue
            op = self._manifest(v).get("operation")
            if op not in self._APPEND_SAFE_OPS:
                raise ValueError(
                    f"snapshot stream requires append-only history, but "
                    f"version {v} is {op!r} — stream from a later "
                    f"startingVersion or keep the table append-only"
                )
        end_m = self._manifest(v1)
        end_schema = StructType.fromJson(end_m["schema"])
        cols = tuple(end_schema.fieldNames())
        mapping = end_m.get("column_mapping") or {}
        phys_of = {c: mapping.get(c, c) for c in cols}
        # deletion vectors: constant across any legal window (delete_dv
        # is refused by the append-only check), but the INITIAL snapshot
        # may carry them — a cloned table's floor, or vacuumed history
        # whose surviving manifest recorded a DV. Emitted rows must
        # subtract them, exactly like every batch read path.
        dv = end_m.get("dv") or {}
        card = dv.get("cardinality") or {}
        sidecars = tuple(_local(sc) for sc in dv.get("sidecars") or [])
        dirty = {_local(f) for f in card}
        return [
            _FilePartition(
                _local(f),
                cols=cols,
                phys_of=phys_of,
                dv_sidecars=sidecars if _local(f) in dirty else None,
            )
            for f in end_m["files"]
            if f not in base_files
        ]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        if partition.cols is None:
            yield from pf.iter_batches()
            return
        present = [
            partition.phys_of[c]
            for c in partition.cols
            if partition.phys_of[c] in pf.schema_arrow.names
        ]
        dead = None
        if partition.dv_sidecars:
            dead = _load_positions(partition.dv_sidecars, partition.path)
        offset = 0
        for batch in pf.iter_batches(columns=present):
            n = batch.num_rows
            masked = _mask_dead(batch, dead, offset)
            offset += n
            yield from _conform(masked, list(partition.cols), partition.phys_of)

    def commit(self, end: dict) -> None:
        v = end.get("version")
        if v is not None:
            self._last_end = max(v, self._last_end or v)
