"""Appends write only their batch: a Parquet version is a chain of
immutable fragment directories.

Pinned here:

  * each append's new fragment holds exactly the batch's rows, and its
    size does not grow with history;
  * erasure and compaction re-point only the versions they change, and
    no erased row survives in any file under the store root;
  * retention, snapshot pins and rollback delete a fragment only when no
    remaining version reads it;
  * partitioned chains, metas written before chains existed, and another
    instance's appends all read correctly;
  * an append's columns are cast to the stored types when the cast is
    lossless and refused otherwise.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_feature_store_spark.errors import FeatureValidationError
from ml_feature_store_spark.sources.registry import ParquetVersionStore
from ml_feature_store_spark.store import FeatureStore


def _ts(n):
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=n % 40)


def _batch(spark, lo, hi, entities=4):
    """Rows ``n`` in [lo, hi): entity ``u<n % entities>`` at ``_ts(n)``."""
    rows = [(f"u{n % entities}", _ts(n), float(n), n) for n in range(lo, hi)]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "x", "n"])


def _pit(ns, entity, cut):
    """The row ``get`` must return: the latest ``_ts`` <= cut, and on a
    timestamp tie the first row in input order (``ns`` is input order)."""
    best = None
    for n in ns:
        if f"u{n % 4}" == entity and _ts(n) <= cut and (
            best is None or _ts(n) > _ts(best)
        ):
            best = n
    return best


def _ns(df):
    return sorted(r["n"] for r in df.select("n").collect())


def _meta(root, name="t"):
    return json.loads((Path(root) / name / "_meta.json").read_text())


def _chain(root, v, name="t"):
    return _meta(root, name)["versions"][str(v)]["fragments"]


def _dirs(root, name="t"):
    return sorted(p.name for p in (Path(root) / name).iterdir() if p.is_dir())


def _footer_rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).glob("**/*.parquet"))


def _fragment_bytes(path):
    return sum(f.stat().st_size for f in Path(path).glob("**/*.parquet"))


def _chain_store(spark, root, max_versions=10, date_partition=False, appends=5):
    """register n in [0, 40), then ``appends`` batches of 10 rows each.
    Returns {version: expected n values}."""
    fs = FeatureStore(spark, storage_path=str(root), max_versions=max_versions,
                      date_partition=date_partition)
    fs.register("t", _batch(spark, 0, 40))
    want = {1: list(range(40))}
    for k in range(appends):
        lo = 100 + 10 * k
        fs.append("t", _batch(spark, lo, lo + 10))
        want[k + 2] = want[k + 1] + list(range(lo, lo + 10))
    return fs, want


class TestWriteCost:
    def test_fragment_holds_exactly_the_batch(self, spark, tmp_path):
        fs, want = _chain_store(spark, tmp_path, appends=4)
        be = fs._backend
        for v in range(2, 6):
            assert _chain(tmp_path, v) == [f"v={u}" for u in range(1, v + 1)]
            assert _footer_rows(be._version_path("t", v)) == 10
            assert _ns(fs.get_version("t", v)) == want[v]
            assert _meta(tmp_path)["versions"][str(v)]["row_count"] == len(want[v])
        assert _footer_rows(be._version_path("t", 1)) == 40

    def test_fragment_size_does_not_grow_with_history(self, spark, tmp_path):
        sizes = {}
        for base in (1_000, 50_000):
            root = tmp_path / str(base)
            fs = FeatureStore(spark, storage_path=str(root))
            fs.register("t", _batch(spark, 0, base, entities=500))
            fs.append("t", _batch(spark, 10**6, 10**6 + 200, entities=500))
            frag = fs._backend._version_path("t", 2)
            assert _footer_rows(frag) == 200
            sizes[base] = _fragment_bytes(frag)
            assert fs.get_table_info("t").row_count == base + 200
        assert sizes[50_000] <= 1.2 * sizes[1_000], sizes

    def test_long_chain_folds(self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(ParquetVersionStore, "MAX_FRAGMENTS", 3)
        fs, want = _chain_store(spark, tmp_path, appends=5)
        for v, ns in want.items():
            assert len(_chain(tmp_path, v)) <= 3
            assert _ns(fs.get_version("t", v)) == ns
        # the fourth append found a 3-fragment base and folded it
        assert _chain(tmp_path, 4) == ["v=4"]
        assert _footer_rows(tmp_path / "t" / "v=4") == len(want[4])
        assert _chain(tmp_path, 6) == ["v=4", "v=5", "v=6"]


class TestErasureAndCompaction:
    @pytest.mark.parametrize("date_partition", [False, True])
    def test_erase_over_shared_fragments(self, spark, tmp_path, date_partition):
        fs, want = _chain_store(spark, tmp_path, max_versions=2,
                                date_partition=date_partition)
        fs.materialize_online("t")
        removed = fs.erase_entities("t", ["u1"])
        assert set(removed) >= {("t", 5), ("t", 6)}
        kept = {v: [n for n in ns if n % 4 != 1] for v, ns in want.items()}
        meta = _meta(tmp_path)["versions"]
        assert sorted(meta) == ["5", "6"]
        for v in (5, 6):
            assert _ns(fs.get_version("t", v)) == kept[v]
            assert meta[str(v)]["row_count"] == len(kept[v])
        on_disk = [
            r for f in tmp_path.glob("**/*.parquet")
            for r in pq.read_table(f, columns=["entity_id"]).column(0).to_pylist()
        ]
        assert on_disk and "u1" not in on_disk
        assert "u1" not in {r["entity_id"] for r in fs.get_online("t").collect()}
        # the next append chains onto the rewritten version
        fs.append("t", _batch(spark, 500, 510))
        assert _ns(fs._current("t")) == kept[6] + list(range(500, 510))

    def test_compact_folds_the_chain_only_for_its_version(self, spark, tmp_path):
        fs, want = _chain_store(spark, tmp_path, appends=4)
        be = fs._backend
        files = sum(len(list((tmp_path / "t" / f).glob("**/*.parquet")))
                    for f in _chain(tmp_path, 4))
        out = fs.compact_version("t", 4)
        assert out["files_before"] == files
        assert out["files_after"] == 1
        assert out["rows"] == len(want[4])
        (frag,) = _chain(tmp_path, 4)
        assert frag.startswith("v=4.")
        for v, ns in want.items():
            assert _ns(fs.get_version("t", v)) == ns
        # v=4 still backs v=5; nothing another version reads was deleted
        assert set(_dirs(tmp_path)) == {frag} | {f"v={u}" for u in range(1, 6)}
        assert be.file_count("t", 5) == files + len(
            list((tmp_path / "t" / "v=5").glob("**/*.parquet"))
        )


class TestRetentionPinsRollback:
    def test_retention_deletes_only_unshared_fragments(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path), max_versions=2)
        fs.register("t", _batch(spark, 0, 40))
        fs.append("t", _batch(spark, 100, 110))
        fs.append("t", _batch(spark, 110, 120))
        fs.register("t", _batch(spark, 200, 230))  # v4: a full write
        want = {4: list(range(200, 230))}
        for k in range(5):
            lo = 300 + 10 * k
            fs.append("t", _batch(spark, lo, lo + 10))
            want[5 + k] = want[4 + k] + list(range(lo, lo + 10))
            retained = fs._backend.versions("t")
            assert len(retained) == 2
            for v in retained:
                assert _ns(fs.get_version("t", v)) == want[v]
            live = {f for v in retained for f in _chain(tmp_path, v)}
            assert set(_dirs(tmp_path)) == live
        # v1..v3 read only v=1..v=3, which nothing retained reads
        assert _dirs(tmp_path) == sorted(f"v={u}" for u in range(4, 10))

    def test_snapshot_pin_keeps_its_whole_chain(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path), max_versions=1)
        fs.register("t", _batch(spark, 0, 40))
        fs.append("t", _batch(spark, 100, 110))
        fs.append("t", _batch(spark, 110, 120))
        snap = fs.snapshot(["t"])
        pinned = list(range(40)) + list(range(100, 120))
        fs.register("t", _batch(spark, 200, 230))
        fs.append("t", _batch(spark, 300, 310))
        assert fs._backend.versions("t") == [3, 5]
        assert _ns(fs.get_version("t", 3)) == pinned
        assert {"v=1", "v=2", "v=3"} <= set(_dirs(tmp_path))
        fs.drop_snapshot(snap.snapshot_id)
        fs.append("t", _batch(spark, 310, 320))
        assert fs._backend.versions("t") == [6]
        assert _dirs(tmp_path) == ["v=4", "v=5", "v=6"]

    def test_rollback_of_an_append_deletes_only_its_fragment(self, spark, tmp_path):
        fs, want = _chain_store(spark, tmp_path, appends=2)
        fs._backend.rollback_version("t", 3)
        assert _dirs(tmp_path) == ["v=1", "v=2"]
        assert fs.get_table_info("t").version == 2
        assert _ns(fs._current("t")) == want[2]
        fs.append("t", _batch(spark, 900, 905))
        assert _ns(fs._current("t")) == want[2] + list(range(900, 905))

    def test_other_instance_appends(self, spark, tmp_path):
        a = FeatureStore(spark, storage_path=str(tmp_path))
        a.register("t", _batch(spark, 0, 40))
        assert len(_ns(a._current("t"))) == 40
        b = FeatureStore(spark, storage_path=str(tmp_path))
        b.append("t", _batch(spark, 100, 110).withColumn("y", F.lit("z")),
                 allow_new_columns=True)
        got = a._current("t")
        assert got.schema == b._current("t").schema
        assert _ns(got) == list(range(40)) + list(range(100, 110))
        assert got.filter(F.col("y") == "z").count() == 10
        assert a.get_version("t", 1).columns == ["entity_id", "timestamp", "x", "n"]


class TestLayoutCompatibility:
    def test_date_partitioned_chain(self, spark, tmp_path):
        fs, want = _chain_store(spark, tmp_path, date_partition=True, appends=3)
        cut = dt.datetime(2024, 1, 15)
        got = fs.get("t", ["u1", "u2"], cut).collect()
        assert {r["entity_id"]: r["n"] for r in got} == {
            e: _pit(want[4], e, cut) for e in ("u1", "u2")
        }
        assert _ns(fs._current("t")) == want[4]
        assert "v" not in fs._current("t").columns
        # an erased-to-empty fragment (no files) still chains
        fs.erase_entities("t", ["u0", "u1", "u2", "u3"])
        fs.append("t", _batch(spark, 700, 704))
        assert _ns(fs._current("t")) == list(range(700, 704))

    def test_meta_without_fragments_reads_and_appends(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", _batch(spark, 0, 40))
        fs.register("t", _batch(spark, 50, 60))
        meta_path = tmp_path / "t" / "_meta.json"
        raw = json.loads(meta_path.read_text())
        for rec in raw["versions"].values():
            del rec["fragments"]
        meta_path.write_text(json.dumps(raw))

        legacy = FeatureStore(spark, storage_path=str(tmp_path))
        assert _ns(legacy.get_version("t", 1)) == list(range(40))
        legacy.append("t", _batch(spark, 100, 110))
        assert _chain(tmp_path, 3) == ["v=2", "v=3"]
        assert _ns(legacy._current("t")) == list(range(50, 60)) + list(range(100, 110))
        assert _ns(legacy.get_version("t", 1)) == list(range(40))


class TestTypeContract:
    @pytest.mark.parametrize("persisted", [False, True])
    def test_lossless_cast_to_stored_type(self, spark, tmp_path, persisted):
        fs = FeatureStore(spark, storage_path=str(tmp_path) if persisted else None)
        fs.register("t", _batch(spark, 0, 8))  # x double, n bigint
        narrow = _batch(spark, 100, 104).select(
            "entity_id", "timestamp",
            F.col("x").cast("float").alias("x"), F.col("n").cast("int").alias("n"),
        )
        fs.append("t", narrow)
        cur = fs._current("t")
        assert dict(cur.dtypes)["x"] == "double"
        assert dict(cur.dtypes)["n"] == "bigint"
        assert _ns(cur) == list(range(8)) + list(range(100, 104))

    @pytest.mark.parametrize("persisted", [False, True])
    def test_lossy_mismatch_refused_before_writing(self, spark, tmp_path, persisted):
        fs = FeatureStore(spark, storage_path=str(tmp_path) if persisted else None)
        fs.register("t", _batch(spark, 0, 8))
        bad = _batch(spark, 100, 104).withColumn("x", F.col("x").cast("string"))
        with pytest.raises(FeatureValidationError, match=r"x: string -> double"):
            fs.append("t", bad)
        lossy = _batch(spark, 100, 104).withColumn("n", F.col("n").cast("double"))
        with pytest.raises(FeatureValidationError, match=r"n: double -> bigint"):
            fs.append("t", lossy)
        assert fs.get_table_info("t").version == 1
        if persisted:
            assert _dirs(tmp_path) == ["v=1"]

    def test_lossless_cast_rules(self):
        from ml_feature_store_spark.store import _lossless_cast

        ok = [
            (T.IntegerType(), T.LongType()),
            (T.IntegerType(), T.DoubleType()),
            (T.FloatType(), T.DoubleType()),
            (T.NullType(), T.StringType()),
            (T.LongType(), T.DecimalType(20, 0)),
            (T.DecimalType(10, 2), T.DecimalType(12, 3)),
            (T.ArrayType(T.FloatType()), T.ArrayType(T.DoubleType())),
        ]
        refused = [
            (T.LongType(), T.DoubleType()),
            (T.LongType(), T.IntegerType()),
            (T.DoubleType(), T.FloatType()),
            (T.StringType(), T.LongType()),
            (T.LongType(), T.DecimalType(19, 0)),
            (T.DecimalType(10, 2), T.DecimalType(10, 1)),
            (T.ArrayType(T.DoubleType()), T.ArrayType(T.FloatType())),
        ]
        assert all(_lossless_cast(s, d) for s, d in ok)
        assert not any(_lossless_cast(s, d) for s, d in refused)
