"""Versioned table storage backends.

The reference keeps one pandas DataFrame per version in an in-process dict
(reference: src/ml_feature_store/store.py:51-69, 112). Here versioning is a
storage concern behind a small interface with two implementations:

* :class:`MemoryVersionStore` — holds (immutable, lazy) DataFrame references.
  Mirrors the reference's in-memory behavior; used by unit tests and for
  ephemeral derived tables. Spark DataFrames are immutable so the reference's
  defensive ``df.copy()`` discipline (store.py:174,206,393,396) is free.

* :class:`ParquetVersionStore` — each version reads an ordered chain of
  Parquet fragment directories under ``<root>/<table>/`` plus a JSON meta
  file. This is the Delta-time-travel fallback (delta-spark is not
  available in this environment); on a cluster you would swap in a
  Delta/Iceberg-backed store and map version -> snapshot
  (``versionAsOf``). Writes optionally ``partitionBy`` a derived date
  column and ``sortWithinPartitions(entity, ts)`` for scan locality /
  pruning at scale.

Chain layout (Parquet backend): a full write (register, upsert, expire,
merge, online snapshots, index state) lands in the version's own directory
``v=<n>`` and its chain is ``[v=<n>]``. An append passes the version it
extends as ``base``: only the new batch is written, as the fragment
``v=<n>``, and the version's chain is the base chain plus that fragment —
an append costs O(batch) bytes, not O(history). ``VersionRecord.fragments``
records the chain; a meta written before the field existed reads as the
version's own directory, so older stores read and append unchanged. A
chain of ``MAX_FRAGMENTS`` folds: the next append writes base rows and
batch together into one fragment, which bounds the paths a read lists.

Fragments are immutable: once written, a fragment directory is never
modified. ``rewrite_version`` (erasure, compaction) writes the new
contents into a fresh directory and re-points only that version's chain.
Deletion is reference-counted: ``drop_version``, ``rollback_version`` and
``rewrite_version`` remove a fragment directory only when no remaining
version's chain references it, and always after the meta save that
unreferenced it. A version's schema is its newest fragment's — an append
writes the full (possibly widened) column set, and older fragments read
columns they lack as null. Each fragment root is handed to Spark as its
own path (a chain of partitioned fragments is a union of per-fragment
scans), so the ``v=`` directory names are never inferred as a partition
column.

Schema contract (Parquet backend): a published version is immutable, so
its schema is memoized per ``(table, version)`` in the store instance —
seeded by ``write_version`` from the written frame, or inferred once from
the newest fragment on the first read — and a memoized read skips Spark's
schema-inference job and footer fetch. File listings are never memoized:
every read lists the chain afresh. ``rewrite_version``, ``drop_version``,
``rollback_version`` and ``drop_table`` evict their entries, and every hit
is checked against the identity (name, inode, mtime) of every fragment in
the version's chain, so a rewrite or drop-and-recreate by another
instance or process is never read through a stale schema. This is what
Delta/Iceberg get from keeping the schema in their log.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


@dataclass
class VersionRecord:
    version: int
    row_count: int
    columns: list[str]
    created_at: str
    # Free-form provenance. The streaming sink writes its micro-batch
    # marker here, which makes the meta save the ATOMIC commit point for
    # both data visibility and batch bookkeeping — the property the
    # exactly-once restart check in streaming_register relies on.
    description: str = ""
    # Upper bound of __row_id__ in this version, observed on the write
    # (None for legacy versions written before the field existed).
    # Append/materialize/rollup watermarks read it instead of paying a
    # full-history max() scan; a stale-but-larger bound is always safe
    # (row ids only need to stay strictly increasing).
    max_row_id: int | None = None
    # Parquet backend: the fragment directories (relative to the table
    # directory) this version reads, oldest first. None — every meta
    # written before chains existed — means the version's own directory.
    fragments: list[str] | None = None

    def chain(self) -> list[str]:
        return self.fragments or [f"v={self.version}"]


@dataclass
class TableState:
    name: str
    description: str
    version: int
    registered_at: str
    updated_at: str
    versions: dict[int, VersionRecord] = field(default_factory=dict)


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


def _stats(row_count, max_row_id, base: VersionRecord | None):
    """Resolve a write's (row_count, max_row_id) — either may be a thunk
    reading ``Dataset.observe`` metrics, so call this only after the
    write action. With ``base`` (an append) the arguments describe the
    batch, and the version adds the base's rows; the batch's ids are
    offset past the base's, so the larger bound is kept."""
    row_count = int(row_count() if callable(row_count) else row_count)
    if callable(max_row_id):
        max_row_id = max_row_id()
    if base is not None:
        row_count += base.row_count
        bounds = [m for m in (base.max_row_id, max_row_id) if m is not None]
        max_row_id = max(bounds) if bounds else None
    return row_count, None if max_row_id is None else int(max_row_id)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — what a
    Parquet read-back reports for whatever Spark wrote."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class MemoryVersionStore:
    """Version store holding DataFrame references in-process."""

    def __init__(self) -> None:
        self._data: dict[str, dict[int, DataFrame]] = {}
        self._meta: dict[str, TableState] = {}

    # -- catalog ----------------------------------------------------------
    def table_names(self) -> list[str]:
        return sorted(self._meta)

    def exists(self, name: str) -> bool:
        return name in self._meta

    def meta(self, name: str) -> TableState:
        return self._meta[name]

    def versions(self, name: str) -> list[int]:
        return sorted(self._data.get(name, {}))

    # -- data -------------------------------------------------------------
    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None,
                      base: int | None = None) -> None:
        """Publish ``version``. With ``base`` (an append), ``df`` is only
        the new batch and the version is ``base``'s rows followed by it;
        ``row_count`` / ``max_row_id`` then describe the batch."""
        now = _now_iso()
        # Freeze the version's contents, like the parquet backend's write
        # does: __row_id__ comes from monotonically_increasing_id() and
        # would otherwise be recomputed per action — if the input plan's
        # row order is nondeterministic (e.g. downstream of a shuffle),
        # tie-break ids could differ between reads of the same version,
        # breaking the "first input row wins" contract.
        frozen = df.localCheckpoint(eager=True)
        base_rec = None
        if base is not None:
            base_rec = self._meta[name].versions[base]
            frozen = (
                self._data[name][base]
                .unionByName(frozen, allowMissingColumns=True)
                .select(*df.columns)
            )
        self._data.setdefault(name, {})[version] = frozen
        # row_count / max_row_id may be thunks reading Dataset.observe
        # metrics — they resolve only AFTER the action above has fired
        # the observation (register rides them on the write job instead
        # of paying separate scan passes)
        row_count, max_row_id = _stats(row_count, max_row_id, base_rec)
        state = self._meta.get(name)
        if state is None:
            state = TableState(name=name, description=description, version=version,
                               registered_at=now, updated_at=now)
            self._meta[name] = state
        state.version = version
        state.updated_at = now
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=now, description=description, max_row_id=max_row_id,
        )

    def read_version(self, name: str, version: int) -> DataFrame:
        return self._data[name][version]

    def file_count(self, name: str, version: int) -> None:
        """In-memory versions have no files."""
        return None

    def schema(self, name: str, version: int) -> StructType:
        return self._data[name][version].schema

    def rewrite_version(self, name: str, version: int, df: DataFrame,
                        row_count: int) -> None:
        """In-place replace a version's contents (GDPR erasure path) —
        version number and created_at stay, data and row_count change."""
        rec = self._meta[name].versions[version]
        self._data[name][version] = df.localCheckpoint(eager=True)
        # rewrites only REMOVE/REPLACE rows, so the old bound stays a
        # valid (possibly loose) upper bound — looseness is safe
        self._meta[name].versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=rec.created_at, description=rec.description,
            max_row_id=rec.max_row_id,
        )
        self._meta[name].updated_at = _now_iso()

    def drop_version(self, name: str, version: int) -> None:
        self._data[name].pop(version, None)
        self._meta[name].versions.pop(version, None)

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove it AND restore the table's current-version
        pointer; a table left with no versions disappears entirely, as
        if the write never happened."""
        self.drop_version(name, version)
        state = self._meta[name]
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)

    def drop_table(self, name: str) -> None:
        self._data.pop(name, None)
        self._meta.pop(name, None)


class ParquetVersionStore:
    """Version store whose versions are chains of immutable Parquet
    fragment directories under ``root`` (see the module docstring)."""

    META = "_meta.json"
    # chain length at which the next append folds its base into one
    # fragment; keeps every read's path list short
    MAX_FRAGMENTS = 16

    def __init__(self, spark: SparkSession, root: str | Path,
                 partition_by: str | None = None,
                 sort_within_partitions: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.partition_by = partition_by
        self.sort_within_partitions = sort_within_partitions
        # (table, version) -> (chain identity, schema); see the module
        # docstring for the contract
        self._schemas: dict[tuple[str, int], tuple[tuple | None, StructType]] = {}

    # -- meta persistence --------------------------------------------------
    def _meta_path(self, name: str) -> Path:
        return self.root / name / self.META

    def _load_meta(self, name: str) -> TableState:
        raw = json.loads(self._meta_path(name).read_text())
        versions = {
            int(k): VersionRecord(**v) for k, v in raw.pop("versions").items()
        }
        return TableState(versions=versions, **raw)

    def _save_meta(self, state: TableState) -> None:
        path = self._meta_path(state.name)
        path.parent.mkdir(parents=True, exist_ok=True)
        raw = {
            "name": state.name,
            "description": state.description,
            "version": state.version,
            "registered_at": state.registered_at,
            "updated_at": state.updated_at,
            "versions": {
                str(v): vars(rec) for v, rec in state.versions.items()
            },
        }
        # the meta save IS the version-visibility commit point — it gets
        # the same crash-atomic replace as the registry/snapshot files
        # (a truncated _meta.json would brick every read of the table)
        import tempfile

        fd, tmp = tempfile.mkstemp(
            dir=str(path.parent), prefix=self.META + ".", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps(raw, indent=2))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, str(path))
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    # -- catalog ----------------------------------------------------------
    def table_names(self) -> list[str]:
        return sorted(p.parent.name for p in self.root.glob(f"*/{self.META}"))

    def exists(self, name: str) -> bool:
        return self._meta_path(name).exists()

    def meta(self, name: str) -> TableState:
        return self._load_meta(name)

    def versions(self, name: str) -> list[int]:
        return sorted(self._load_meta(name).versions)

    # -- data -------------------------------------------------------------
    def _version_path(self, name: str, version: int) -> Path:
        """The version's own directory: where a full write or an append
        of ``version`` puts its fragment."""
        return self.root / name / f"v={version}"

    def _chain(self, name: str, version: int) -> list[str]:
        return self._load_meta(name).versions[version].chain()

    def _identity(self, name: str, chain: list[str]) -> tuple | None:
        """(fragment, inode, mtime) of every fragment in ``chain``, or None
        when one is missing."""
        out = []
        for frag in chain:
            try:
                st = os.stat(self.root / name / frag)
            except FileNotFoundError:
                return None
            out.append((frag, st.st_ino, st.st_mtime_ns))
        return tuple(out)

    def _memo(self, name: str, version: int,
              chain: list[str] | None = None) -> StructType | None:
        """The memoized schema of a version, or None. An entry whose chain
        changed identity (re-pointed, rewritten or recreated behind this
        instance's back) is dropped."""
        key = (name, version)
        hit = self._schemas.get(key)
        if chain is None and hit is not None:
            chain = self._chain(name, version)
        if hit is not None and hit[0] == self._identity(name, chain):
            return hit[1]
        self._schemas.pop(key, None)
        return None

    def _evict(self, name: str, version: int | None = None) -> None:
        for key in list(self._schemas):
            if key[0] == name and (version is None or key[1] == version):
                self._schemas.pop(key, None)

    def _write(self, df: DataFrame, path: Path) -> StructType:
        """Write ``df`` as one fragment directory; returns the schema a
        Parquet read of it reports: ``df``'s, made nullable, with the
        partition column moved last."""
        out = df
        if self.sort_within_partitions:
            cols = [c for c in self.sort_within_partitions if c in df.columns]
            if cols:
                out = out.sortWithinPartitions(*cols)
        writer = out.write.mode("overwrite")
        fields = _nullable(df.schema).fields
        if self.partition_by and self.partition_by in df.columns:
            writer = writer.partitionBy(self.partition_by)
            fields = ([f for f in fields if f.name != self.partition_by]
                      + [f for f in fields if f.name == self.partition_by])
        writer.parquet(str(path))
        return StructType(fields)

    def _scan(self, name: str, chain: list[str], schema: StructType) -> DataFrame:
        """Read ``chain`` with ``schema``; a fragment lacking a column of
        it (written before a widening append) reads that column as null.
        Every fragment root is its own path: one scan over all of them,
        or — for partitioned fragments, whose roots Spark refuses to mix
        in one scan — a union of per-fragment scans."""
        reader = self.spark.read.schema(schema)
        paths = [str(self.root / name / frag) for frag in chain]
        if len(paths) > 1 and self.partition_by in schema.names:
            return functools.reduce(DataFrame.union, map(reader.parquet, paths))
        return reader.parquet(*paths)

    def _release(self, name: str, state: TableState, chain: list[str]) -> None:
        """Delete every fragment of ``chain`` that no version of the
        (already saved) ``state`` still references."""
        live = {f for rec in state.versions.values() for f in rec.chain()}
        for frag in set(chain) - live:
            try:
                shutil.rmtree(self.root / name / frag)
            except FileNotFoundError:
                pass

    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None,
                      base: int | None = None) -> None:
        """Publish ``version``. Without ``base``, ``df`` is the whole
        version, written to its own directory. With ``base`` (an append),
        ``df`` is only the new batch — ``row_count`` / ``max_row_id`` then
        describe the batch — written as one new fragment that extends
        ``base``'s chain (folded into one fragment at ``MAX_FRAGMENTS``)."""
        state = self._load_meta(name) if self.exists(name) else None
        base_rec = None if base is None else state.versions[base]
        chain = [] if base_rec is None else base_rec.chain()
        if len(chain) >= self.MAX_FRAGMENTS:
            df = (
                self.read_version(name, base)
                .unionByName(df, allowMissingColumns=True)
                .select(*df.columns)
            )
            chain = []
        frag = f"v={version}"
        if state is not None and any(
            frag in rec.chain() for v, rec in state.versions.items() if v != version
        ):
            # another version still reads a directory of this name: it is
            # immutable, so this write takes a fresh one
            frag = f"v={version}.{uuid.uuid4().hex[:12]}"
        schema = self._write(df, self.root / name / frag)
        chain = chain + [frag]
        self._schemas[(name, version)] = (self._identity(name, chain), schema)
        # thunks resolve after the write action (observe-metric stats)
        row_count, max_row_id = _stats(row_count, max_row_id, base_rec)

        now = _now_iso()
        # re-read: the write may have run long, and the meta save must
        # not undo another writer's publish made meanwhile
        if self.exists(name):
            state = self._load_meta(name)
        else:
            state = TableState(name=name, description=description, version=version,
                               registered_at=now, updated_at=now)
        replaced = state.versions.get(version)
        state.version = version
        state.updated_at = now
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=now, description=description, max_row_id=max_row_id,
            fragments=chain,
        )
        self._save_meta(state)
        if replaced is not None:
            self._release(name, state, replaced.chain())

    def read_version(self, name: str, version: int) -> DataFrame:
        chain = self._chain(name, version)
        schema = self._memo(name, version, chain)
        if schema is None:
            # a version's schema is its newest fragment's (module docstring)
            ident = self._identity(name, chain)
            schema = self.spark.read.parquet(str(self.root / name / chain[-1])).schema
            self._schemas[(name, version)] = (ident, schema)
        return self._scan(name, chain, schema)

    def schema(self, name: str, version: int) -> StructType:
        schema = self._memo(name, version)
        return schema if schema is not None else self.read_version(name, version).schema

    def file_count(self, name: str, version: int) -> int:
        """Parquet files the version's chain reads."""
        return sum(
            1
            for frag in self._chain(name, version)
            for _ in (self.root / name / frag).glob("**/*.parquet")
        )

    def rewrite_version(self, name: str, version: int, df: DataFrame,
                        row_count: int) -> None:
        """Replace a version's contents (GDPR erasure, compaction). The
        new contents land in a fresh directory and the version's chain is
        re-pointed to it alone — the meta save is the swap, so Spark may
        be lazily reading the old chain while it writes, and no other
        version sharing those fragments changes. Old fragments no version
        references any more are then deleted. Version number and
        created_at are preserved; only the data and row_count change."""
        frag = f"v={version}.{uuid.uuid4().hex[:12]}"
        schema = self._write(df, self.root / name / frag)
        self._schemas[(name, version)] = (self._identity(name, [frag]), schema)
        state = self._load_meta(name)
        rec = state.versions[version]
        # rewrites only REMOVE/REPLACE rows, so the old bound stays a
        # valid (possibly loose) upper bound — looseness is safe
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=rec.created_at, description=rec.description,
            max_row_id=rec.max_row_id, fragments=[frag],
        )
        state.updated_at = _now_iso()
        self._save_meta(state)
        self._release(name, state, rec.chain())

    def drop_version(self, name: str, version: int) -> None:
        self._evict(name, version)
        state = self._load_meta(name)
        rec = state.versions.pop(version, None)
        self._save_meta(state)
        if rec is not None:
            self._release(name, state, rec.chain())

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove its unshared fragments AND restore the
        current-version pointer; a table left with no versions disappears
        entirely."""
        self._evict(name, version)
        state = self._load_meta(name)
        rec = state.versions.pop(version, None)
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)
        self._save_meta(state)
        if rec is not None:
            self._release(name, state, rec.chain())

    def drop_table(self, name: str) -> None:
        self._evict(name)
        shutil.rmtree(self.root / name, ignore_errors=True)
