"""ParquetVersionStore's per-version schema memo.

A published version directory is immutable, so the backend keeps each
version's schema — seeded by the write, or inferred once on a first read —
and a later read skips Spark's schema-inference job. Pinned here:

  * the seeded schema IS what a Parquet read-back reports, for every table
    kind the store writes (and for random column types);
  * a read of a memoized version runs no Spark job, so a warm
    ``get_online`` is exactly one job;
  * another store instance that rewrites, or drops and recreates, a
    version is never read through a stale schema.
"""

from __future__ import annotations

import datetime as dt
import shutil
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml_feature_store_spark.sources.registry import ParquetVersionStore
from ml_feature_store_spark.store import FeatureStore


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _jobs(spark, group, fn):
    """(result of fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "_done", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _feats(spark, n=12):
    rows = [
        (f"u{i % 4}", dt.datetime(2024, 1, 1 + i), float(i), i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "x", "n"])


def _vecs(spark):
    rows = [
        (i, ts("2024-01-01"), [float(i % 3), float(i % 5), 1.0, float(i)])
        for i in range(24)
    ]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "embedding"])


def _docs(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (i, ts("2024-01-01"), " ".join(words[i % 4:] + words[:i % 4]))
        for i in range(16)
    ]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "text"])


def _build(kind, spark, fs):
    if kind == "scalar_key":
        fs.register("t", _feats(spark))
    elif kind == "composite_key":
        fs.register(
            "t",
            _feats(spark).withColumn("m", F.col("n") % 3)
            .withColumnRenamed("entity_id", "u"),
            entity_cols=["u", "m"],
        )
    elif kind == "append":
        fs.register("t", _feats(spark))
        fs.append("t", _feats(spark).withColumn("n", F.col("n") + 100))
    elif kind == "online_snapshot":
        fs.register("t", _feats(spark))
        fs.materialize_online("t")
        fs.append("t", _feats(spark, 3))
        fs.materialize_online("t", incremental=True)
    elif kind == "vector_index":
        fs.register("v", _vecs(spark))
        fs.create_vector_index(
            "vx", "v", method="ivf", params={"n_cells": 2, "iterations": 1}
        )
        fs.append("v", _vecs(spark).withColumn("entity_id", F.col("entity_id") + 100))
        fs.refresh_vector_index("vx")
    elif kind == "dedup_index":
        fs.register("c", _docs(spark))
        fs.create_dedup_index("dd", "c", content_col="text")
        fs.append("c", _docs(spark).withColumn("entity_id", F.col("entity_id") + 100))
        fs.refresh_dedup_index("dd")
    elif kind == "date_partition":
        fs.register("t", _feats(spark))
        fs.append("t", _feats(spark, 3))
    else:
        raise AssertionError(kind)


_TYPED_VALUES = [
    (T.LongType(), 1),
    (T.DoubleType(), 1.5),
    (T.StringType(), "a"),
    (T.BooleanType(), True),
    (T.TimestampType(), dt.datetime(2024, 1, 1, 12)),
    (T.DateType(), dt.date(2024, 1, 2)),
    (T.DecimalType(12, 3), Decimal("1.250")),
    (T.ArrayType(T.LongType(), False), [1, 2]),
    (T.MapType(T.StringType(), T.DoubleType(), False), {"k": 1.0}),
    (T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.ArrayType(T.StringType(), True)),
    ]), (1, ["x", None])),
]

KINDS = ("scalar_key", "composite_key", "append", "online_snapshot",
         "vector_index", "dedup_index", "date_partition")


class TestSeededSchemaIsReadBack:
    @pytest.mark.parametrize("kind", KINDS)
    def test_every_written_version(self, spark, tmp_path, kind):
        fs = FeatureStore(
            spark, storage_path=str(tmp_path),
            date_partition=kind == "date_partition",
        )
        _build(kind, spark, fs)
        be = fs._backend
        checked = 0
        for name in be.table_names():
            for v in be.versions(name):
                # seeded by this instance's write, never inferred
                assert (name, v) in be._schemas, (name, v)
                inferred = spark.read.parquet(str(be._version_path(name, v))).schema
                assert be.schema(name, v) == inferred, (name, v)
                checked += 1
        assert checked >= 1

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        cols=st.lists(
            st.tuples(st.sampled_from(range(len(_TYPED_VALUES))), st.booleans()),
            min_size=1, max_size=5,
        ),
        partitioned=st.booleans(),
        p_at=st.integers(0, 5),
    )
    def test_any_column_types(self, spark, tmp_path_factory, cols, partitioned, p_at):
        fields = [T.StructField(f"c{i}", _TYPED_VALUES[k][0], nullable)
                  for i, (k, nullable) in enumerate(cols)]
        values = [_TYPED_VALUES[k][1] for k, _ in cols]
        # the partition column anywhere: a Parquet read lists it last
        p_at = min(p_at, len(fields))
        fields.insert(p_at, T.StructField("p", T.DateType(), False))
        values.insert(p_at, dt.date(2024, 1, 1))
        df = spark.createDataFrame([tuple(values)], T.StructType(fields))
        root = tmp_path_factory.mktemp("memo")
        be = ParquetVersionStore(spark, root, partition_by="p" if partitioned else None)
        be.write_version("t", 1, df, 1)
        seeded = be.schema("t", 1)
        fresh = ParquetVersionStore(spark, root)
        assert seeded == fresh.read_version("t", 1).schema


class TestMemoizedReads:
    def test_warm_get_online_is_one_job(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register("t", _feats(spark))
        fs.materialize_online("t")
        fs.get_online("t", ["u1", "u2"]).collect()
        rows, jobs = _jobs(
            spark, "memo_online",
            lambda: fs.get_online("t", ["u1", "u2"], columns=["x"]).collect(),
        )
        assert sorted(r["entity_id"] for r in rows) == ["u1", "u2"]
        assert jobs == 1, (
            f"a warm get_online ran {jobs} jobs; the snapshot's schema is "
            "memoized, so only the read itself may run"
        )

    def test_first_read_infers_once(self, spark, tmp_path):
        FeatureStore(spark, storage_path=str(tmp_path)).register("t", _feats(spark))
        # a second instance over the same root, as a new process opens it
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        be = fs._backend
        assert ("t", 1) not in be._schemas
        first = be.read_version("t", 1).schema
        _, jobs = _jobs(spark, "memo_reread", lambda: be.read_version("t", 1).schema)
        assert jobs == 0
        assert be.schema("t", 1) == first

    def test_listing_is_never_memoized(self, spark, tmp_path):
        """A file added under a memoized version is read on the next read:
        only the schema is kept, never the listing. The copy lands in a
        partition subdirectory, so the version directory itself is
        untouched and the read is a memo hit."""
        be = ParquetVersionStore(spark, tmp_path, partition_by="n")
        df = _feats(spark)
        be.write_version("t", 1, df, df.count())
        before = be.read_version("t", 1).count()
        part = next(be._version_path("t", 1).glob("n=*/*.parquet"))
        shutil.copy(part, part.with_name("copy-" + part.name))
        assert be._memo("t", 1) is not None
        assert be.read_version("t", 1).count() == before + 1


class TestOtherWriters:
    """Instance B changes what instance A already memoized."""

    def test_drop_and_recreate_with_new_schema(self, spark, tmp_path):
        a = FeatureStore(spark, storage_path=str(tmp_path))
        a.register(
            "t",
            _feats(spark).withColumn("m", F.col("n") % 3)
            .withColumnRenamed("entity_id", "u"),
            entity_cols=["u", "m"],
        )
        assert a.get_table_info("t").entity_columns == ("u", "m")
        a._current("t").count()

        b = FeatureStore(spark, storage_path=str(tmp_path))
        b.delete("t")
        new = spark.createDataFrame(
            [("e1", ts("2024-02-01"), "hi")], ["entity_id", "timestamp", "y"]
        )
        b.register("t", new)  # version 1 again, different schema

        info = a.get_table_info("t")
        assert (info.version, info.entity_columns, info.columns) == (
            1, ("entity_id",), ("y",)
        )
        got = a._current("t")
        assert got.schema == b._current("t").schema
        assert [(r["entity_id"], r["y"]) for r in got.collect()] == [("e1", "hi")]

    def test_erase_entities_by_another_instance(self, spark, tmp_path):
        a = FeatureStore(spark, storage_path=str(tmp_path))
        a.register("t", _feats(spark))
        a.materialize_online("t")
        assert a.get_online("t").count() == 4

        b = FeatureStore(spark, storage_path=str(tmp_path))
        b.erase_entities("t", ["u1"])

        online = a.get_online("t")
        assert online.schema == b.get_online("t").schema
        assert sorted(r["entity_id"] for r in online.collect()) == ["u0", "u2", "u3"]
        assert a._current("t").filter(F.col("entity_id") == "u1").count() == 0
        assert a._current("t").count() == 9

    def test_rewrite_by_raw_backend_with_new_schema(self, spark, tmp_path):
        """Even a rewrite that never goes through A's eviction (another
        process) is caught by the directory-identity check."""
        a = ParquetVersionStore(spark, tmp_path)
        df = _feats(spark)
        a.write_version("t", 1, df, df.count())
        a.read_version("t", 1)
        b = ParquetVersionStore(spark, tmp_path)
        wider = df.withColumn("extra", F.lit("z"))
        b.rewrite_version("t", 1, wider, wider.count())
        got = a.read_version("t", 1)
        assert "extra" in got.columns
        assert {r["extra"] for r in got.collect()} == {"z"}

    def test_same_instance_drop_and_recreate(self, spark, tmp_path):
        fs = FeatureStore(spark, storage_path=str(tmp_path))
        fs.register(
            "t",
            _feats(spark).withColumn("m", F.col("n") % 3)
            .withColumnRenamed("entity_id", "u"),
            entity_cols=["u", "m"],
        )
        assert fs.get_table_info("t").entity_columns == ("u", "m")
        fs.delete("t")
        fs.register("t", _feats(spark))
        assert fs.get_table_info("t").entity_columns == ("entity_id",)
