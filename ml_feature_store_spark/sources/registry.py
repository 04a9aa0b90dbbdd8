"""Versioned table storage backends.

The reference keeps one pandas DataFrame per version in an in-process dict
(reference: src/ml_feature_store/store.py:51-69, 112). Here versioning is a
storage concern behind a small interface with two implementations:

* :class:`MemoryVersionStore` — holds (immutable, lazy) DataFrame references.
  Mirrors the reference's in-memory behavior; used by unit tests and for
  ephemeral derived tables. Spark DataFrames are immutable so the reference's
  defensive ``df.copy()`` discipline (store.py:174,206,393,396) is free.

* :class:`ParquetVersionStore` — one Parquet directory per version
  (``<root>/<table>/v=<n>/``) plus a JSON meta file. This is the
  Delta-time-travel fallback (delta-spark is not available in this
  environment); on a cluster you would swap in a Delta/Iceberg-backed store
  and map version -> snapshot (``versionAsOf``). Writes optionally
  ``partitionBy`` a derived date column and ``sortWithinPartitions
  (entity, ts)`` for scan locality / pruning at scale.

Schema contract (Parquet backend): a published version directory is
immutable, so its schema is memoized per ``(table, version)`` in the store
instance — seeded by ``write_version`` from the written frame, or inferred
once on the first read — and a memoized read skips Spark's schema-inference
job and footer fetch. File listings are never memoized: every read lists
the directory afresh. ``rewrite_version``, ``drop_version``,
``rollback_version`` and ``drop_table`` evict their entries, and every hit
is checked against the directory's identity (inode, mtime), so a rewrite or
drop-and-recreate by another instance or process is never read through a
stale schema. This is what Delta/Iceberg get from keeping the schema in
their log.
"""

from __future__ import annotations

import json
import os
import shutil
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
                      description: str = "", max_row_id=None) -> None:
        now = _now_iso()
        # Freeze the version's contents, like the parquet backend's write
        # does: __row_id__ comes from monotonically_increasing_id() and
        # would otherwise be recomputed per action — if the input plan's
        # row order is nondeterministic (e.g. downstream of a shuffle),
        # tie-break ids could differ between reads of the same version,
        # breaking the "first input row wins" contract.
        self._data.setdefault(name, {})[version] = df.localCheckpoint(eager=True)
        # row_count / max_row_id may be thunks reading Dataset.observe
        # metrics — they resolve only AFTER the action above has fired
        # the observation (register rides them on the write job instead
        # of paying separate scan passes)
        row_count = int(row_count() if callable(row_count) else row_count)
        if callable(max_row_id):
            max_row_id = max_row_id()
        state = self._meta.get(name)
        if state is None:
            state = TableState(name=name, description=description, version=version,
                               registered_at=now, updated_at=now)
            self._meta[name] = state
        state.version = version
        state.updated_at = now
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=now, description=description,
            max_row_id=None if max_row_id is None else int(max_row_id),
        )

    def read_version(self, name: str, version: int) -> DataFrame:
        return self._data[name][version]

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
    """Version store with one Parquet dir per version under ``root``."""

    META = "_meta.json"

    def __init__(self, spark: SparkSession, root: str | Path,
                 partition_by: str | None = None,
                 sort_within_partitions: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.partition_by = partition_by
        self.sort_within_partitions = sort_within_partitions
        # (table, version) -> (directory identity, schema); see the
        # module docstring for the contract
        self._schemas: dict[tuple[str, int],
                            tuple[tuple[int, int] | None, StructType]] = {}

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
        return self.root / name / f"v={version}"

    def _dir_identity(self, name: str, version: int) -> tuple[int, int] | None:
        try:
            st = os.stat(self._version_path(name, version))
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns

    def _memo(self, name: str, version: int) -> StructType | None:
        """The memoized schema of a version, or None. An entry whose
        directory changed identity (rewritten or recreated behind this
        instance's back) is dropped."""
        key = (name, version)
        hit = self._schemas.get(key)
        if hit is not None and hit[0] == self._dir_identity(name, version):
            return hit[1]
        self._schemas.pop(key, None)
        return None

    def _evict(self, name: str, version: int | None = None) -> None:
        for key in list(self._schemas):
            if key[0] == name and (version is None or key[1] == version):
                self._schemas.pop(key, None)

    def _write(self, df: DataFrame, path: Path) -> StructType:
        """Write ``df`` as one version directory; returns the schema a
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

    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None) -> None:
        schema = self._write(df, self._version_path(name, version))
        self._schemas[(name, version)] = (self._dir_identity(name, version), schema)
        # thunks resolve after the write action (observe-metric stats)
        row_count = int(row_count() if callable(row_count) else row_count)
        if callable(max_row_id):
            max_row_id = max_row_id()

        now = _now_iso()
        if self.exists(name):
            state = self._load_meta(name)
        else:
            state = TableState(name=name, description=description, version=version,
                               registered_at=now, updated_at=now)
        state.version = version
        state.updated_at = now
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=now, description=description,
            max_row_id=None if max_row_id is None else int(max_row_id),
        )
        self._save_meta(state)

    def read_version(self, name: str, version: int) -> DataFrame:
        path = str(self._version_path(name, version))
        schema = self._memo(name, version)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        ident = self._dir_identity(name, version)
        df = self.spark.read.parquet(path)
        self._schemas[(name, version)] = (ident, df.schema)
        return df

    def schema(self, name: str, version: int) -> StructType:
        schema = self._memo(name, version)
        return schema if schema is not None else self.read_version(name, version).schema

    def rewrite_version(self, name: str, version: int, df: DataFrame,
                        row_count: int) -> None:
        """In-place replace a version's contents (GDPR erasure path).
        Spark cannot overwrite a path it is lazily reading, so the new
        contents land in a scratch sibling first, then the directories
        swap — a metadata rename on real filesystems (on object stores
        the rename is a copy, still bounded by one version's size).
        Version number and created_at are preserved; only the data and
        row_count change."""
        final = self._version_path(name, version)
        tmp = final.with_name(final.name + ".__rewrite__")
        self._write(df, tmp)
        self._evict(name, version)
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
        state = self._load_meta(name)
        rec = state.versions[version]
        # rewrites only REMOVE/REPLACE rows, so the old bound stays a
        # valid (possibly loose) upper bound — looseness is safe
        state.versions[version] = VersionRecord(
            version=version, row_count=row_count, columns=df.columns,
            created_at=rec.created_at, description=rec.description,
            max_row_id=rec.max_row_id,
        )
        state.updated_at = _now_iso()
        self._save_meta(state)

    def drop_version(self, name: str, version: int) -> None:
        self._evict(name, version)
        shutil.rmtree(self._version_path(name, version), ignore_errors=True)
        state = self._load_meta(name)
        state.versions.pop(version, None)
        self._save_meta(state)

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove its files AND restore the current-version
        pointer; a table left with no versions disappears entirely."""
        self._evict(name, version)
        shutil.rmtree(self._version_path(name, version), ignore_errors=True)
        state = self._load_meta(name)
        state.versions.pop(version, None)
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)
        self._save_meta(state)

    def drop_table(self, name: str) -> None:
        self._evict(name)
        shutil.rmtree(self.root / name, ignore_errors=True)
