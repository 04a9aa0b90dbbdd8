"""The two workloads, each a closed loop of one client calling the public
``FeatureStore`` API over the Parquet backend.

A workload has ``setup(root)`` (build a store from the generated inputs),
``warm()`` (untimed: a checked operation that takes first-call costs out
of the timings), ``prepare(i)`` (untimed: inputs for operation ``i``),
``op(i, prep)`` (timed: one operation), ``check(i, prep, out)`` (untimed:
compare the outputs with a brute-force oracle) and ``advance(i, prep)``
(keep the oracle in step after an operation that raised). Checks return
lists of error strings.
An operation reports the wall time of its batch-compute call
(``batch_s``), of its lookups (``lookup_ms``) and from the start of its
append until the appended data is served (``freshness_s``).
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ml_feature_store_spark import FeatureStore

import checks
import gen

EPOCH = datetime(1970, 1, 1)


def us(ts: datetime) -> int:
    return (ts - EPOCH) // timedelta(microseconds=1)


def write_parquet(df, path: Path) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return str(path)


class Client:
    """Times each store API call. ``driver_s`` is the time until the call
    returns (a lazy call returns a plan); ``s`` adds consuming the result.
    While tracing, each call runs under its own Spark job group and a span."""

    def __init__(self, spark, tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.calls: list[dict] = []

    def call(self, api: str, fn, consume=None):
        traced = self.tracer.active
        rec = {"api": api, "traced": traced, "group": None, "error": False}
        if traced:
            rec["group"] = f"fs:{api}:{len(self.calls)}"
            with self.tracer.cost():
                self.sc.setJobGroup(rec["group"], rec["group"])
        self.calls.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"store.{api}", rec["group"]):
                res = fn()
                rec["driver_s"] = time.perf_counter() - t0
                out = consume(res) if consume else res
        except Exception:
            rec["error"] = True
            raise
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if traced:
                with self.tracer.cost():
                    self.sc.setJobGroup("fsbench:client", "fsbench:client")
        return out


def collect(df):
    return df.collect()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ train_serve --
class TrainServe:
    """Train and serve from one store. Per cycle: an as-of training build
    (``get_training_set``, forced through the ``noop`` sink) on each of the
    two views, 5-key ``get_online`` reads and a 100-key point-in-time
    ``get`` on ``txn``, then an ``append`` to ``txn``, an incremental
    ``materialize_online`` and a read that must see the appended row.
    Appended rows are newer than every spine timestamp, so appends never
    change what the builds return."""

    name = "train_serve"
    ops_per_10s = 2
    cols = {"txn": ["amount", "qty"], "session": ["dwell_s", "clicks"]}

    def __init__(self, spark, client, seed, workdir: Path):
        self.spark, self.client = spark, client
        self.inp = gen.train_serve_inputs(seed)
        self.paths = {v: write_parquet(df, workdir / f"{v}.parquet")
                      for v, df in self.inp.views.items()}
        self.spine = spark.read.parquet(write_parquet(self.inp.spine, workdir / "spine.parquet"))
        self.check_spine = spark.read.parquet(
            write_parquet(self.inp.check_spine, workdir / "check_spine.parquet"))
        txn = self.inp.views["txn"]
        self.latest = checks.LatestOracle(txn, self.cols["txn"])
        self.pit = checks.AsofOracle(txn, self.cols["txn"])

    def setup(self, root: Path) -> FeatureStore:
        fs = FeatureStore(self.spark, storage_path=str(root))
        for v, p in self.paths.items():
            fs.register(v, self.spark.read.parquet(p))
        fs.materialize_online("txn")
        self.fs = fs
        return fs

    def source_tables(self):
        return list(self.paths)

    def _rows(self, rows, view="txn"):
        cols = self.cols[view]
        return [(r["entity_id"], us(r["timestamp"]), *(r[c] for c in cols)) for r in rows]

    def warm(self):
        """Per view a sampled-spine build compared with the brute-force as-of
        join, plus checked online reads and gets. The timed builds go to the
        noop sink; appends never change their result, so this checks what
        they compute."""
        errs = []
        for view, cols in self.cols.items():
            rows = self.fs.get_training_set(view, self.check_spine).collect()
            oracle = checks.AsofOracle(self.inp.views[view], cols)
            errs += checks.check_training_set(self._rows(rows, view), oracle,
                                              self.inp.check_spine)
        p = gen.serve_reads(self.inp)
        for keys in p["reads"]:
            rows = self.fs.get_online("txn", keys).collect()
            errs += checks.check_online(self._rows(rows), self.latest, keys)
        for keys, cutoff in p["gets"]:
            rows = self.fs.get("txn", keys, cutoff).collect()
            errs += checks.check_pit(self._rows(rows), self.pit, keys, cutoff)
        return errs

    def prepare(self, i):
        p = gen.serve_cycle_inputs(self.inp, i)
        p["batch_df"] = self.spark.createDataFrame(p["batch"])
        p["batch_start_us"] = int(p["batch"]["timestamp"].min().value // 1000)
        return p

    def op(self, i, p):
        fs, call, clock = self.fs, self.client.call, time.perf_counter
        batch_s = []
        for view in self.cols:
            t0 = clock()
            call("get_training_set", lambda: fs.get_training_set(view, self.spine), noop)
            batch_s.append(clock() - t0)
        reads, lookup_ms = [], []
        for keys in p["reads"]:
            t0 = clock()
            reads.append(call("get_online", lambda: fs.get_online("txn", keys), collect))
            lookup_ms.append((clock() - t0) * 1e3)
        gets = [call("get", lambda: fs.get("txn", keys, cutoff), collect)
                for keys, cutoff in p["gets"]]
        t0 = clock()
        call("append", lambda: fs.append("txn", p["batch_df"]))
        call("materialize_online", lambda: fs.materialize_online("txn", incremental=True))
        fresh = call("get_online", lambda: fs.get_online("txn", [p["fresh_entity"]]), collect)
        return {"batch_s": batch_s, "lookup_ms": lookup_ms, "freshness_s": clock() - t0,
                "reads": reads, "gets": gets, "fresh": fresh}

    def check(self, i, p, out):
        errs = []
        for keys, rows in zip(p["reads"], out["reads"]):
            errs += checks.check_online(self._rows(rows), self.latest, keys)
        for (keys, cutoff), rows in zip(p["gets"], out["gets"]):
            errs += checks.check_pit(self._rows(rows), self.pit, keys, cutoff)
        self.latest.apply(p["batch"])
        errs += checks.check_fresh(self._rows(out["fresh"]), self.latest,
                                   p["fresh_entity"], p["batch_start_us"])
        return errs

    def advance(self, i, p):
        self.latest.apply(p["batch"])  # the append may have landed


# ----------------------------------------------------------------- curate --
class CurateIngest:
    """LLM-corpus ingest: per batch ``dedup_batch`` against a stored minhash
    index, ``knn_batch`` (k=10) against a stored IVF index, ``append`` of the
    survivors, then ``refresh_dedup_index`` and ``refresh_vector_index``."""

    name = "curate_ingest"
    ops_per_10s = 1
    DEDUP = {"num_hashes": 16, "bands": 8}
    IVF = {"n_cells": 32, "nprobe": 2, "iterations": 1}

    def __init__(self, spark, client, seed, workdir: Path):
        self.spark, self.client = spark, client
        self.k = gen.KNOBS["curate_ingest"]
        self.inp = gen.curate_inputs(seed)
        c = self.inp.corpus
        self.path = write_parquet(gen.docs_frame(c.ids, c.tokens, c.emb),
                                  workdir / "corpus.parquet")
        self.shingles = checks.ShingleIndex(self.k["shingle_k"])
        self.shingles.add(c.ids, c.tokens)
        self.recall = {"dedup": [], "knn": []}
        self.manifest_totals = {"docs": 0, "candidates": 0, "fuzzy": 0}

    def setup(self, root: Path) -> FeatureStore:
        fs = FeatureStore(self.spark, storage_path=str(root))
        fs.register("docs", self.spark.read.parquet(self.path))
        fs.create_dedup_index("dd", "docs", content_col="text",
                              shingle_k=self.k["shingle_k"], **self.DEDUP)
        fs.create_vector_index("vx", "docs", vec_col="embedding", method="ivf",
                               params=self.IVF)
        self.fs = fs
        return fs

    def source_tables(self):
        return ["docs"]

    def warm(self):
        """A small checked batch through dedup_batch and knn_batch (nothing is
        appended), so the timed batches do not pay the first-call costs."""
        b = self.prepare(-1, size=self.k["batch_docs"] // 4)
        man = self._dedup(b["df"]).collect()
        knn = self._knn(b["df"]).collect()
        errs, _ = checks.check_dedup_manifest([r.asDict() for r in man], b["ids"],
                                              b["exact_ids"], b["truth"])
        kerrs, _ = checks.check_knn([(r["q_id"], r["vec_id"], r["sim"]) for r in knn],
                                    b["ids"], b["emb"], b["corpus_ids"], b["corpus_emb"],
                                    self.k["k"])
        return errs + kerrs

    def _dedup(self, df):
        docs = df.select(F.col("entity_id").alias("doc_id"), "text")
        return self.fs.dedup_batch("dd", docs, threshold=self.k["threshold"])

    def _knn(self, df):
        queries = df.select(F.col("entity_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        return self.fs.knn_batch("vx", queries, k=self.k["k"])

    def prepare(self, i, size=None):
        b = gen.curate_batch(self.inp, size)
        b["df"] = self.spark.createDataFrame(gen.docs_frame(b["ids"], b["tokens"], b["emb"]))
        # ground truth against the corpus as it stands before this batch
        b["truth"] = {int(d): self.shingles.matches(t, self.k["threshold"])
                      for d, t in zip(b["ids"], b["tokens"])}
        c = self.inp.corpus
        b["corpus_ids"], b["corpus_emb"] = c.ids.copy(), c.emb.copy()
        return b

    def op(self, i, b):
        fs, call, df, clock = self.fs, self.client.call, b["df"], time.perf_counter
        t0 = clock()
        man = call("dedup_batch", lambda: self._dedup(df), collect)
        batch_s = clock() - t0
        t0 = clock()
        knn = call("knn_batch", lambda: self._knn(df), collect)
        knn_ms = (clock() - t0) * 1e3
        keep = sorted(r["doc_id"] for r in man if not r["is_exact_dup"] and not r["n_fuzzy"])
        t0 = clock()
        call("append", lambda: fs.append("docs", df.filter(F.col("entity_id").isin(keep))))
        call("refresh_dedup_index", lambda: fs.refresh_dedup_index("dd"))
        call("refresh_vector_index", lambda: fs.refresh_vector_index("vx"))
        return {"batch_s": [batch_s], "lookup_ms": [knn_ms], "freshness_s": clock() - t0,
                "manifest": [r.asDict() for r in man],
                "knn": [(r["q_id"], r["vec_id"], r["sim"]) for r in knn], "keep": keep}

    def check(self, i, b, out):
        errs, dr = checks.check_dedup_manifest(out["manifest"], b["ids"],
                                               b["exact_ids"], b["truth"])
        kerrs, kr = checks.check_knn(out["knn"], b["ids"], b["emb"], b["corpus_ids"],
                                     b["corpus_emb"], self.k["k"])
        self.recall["dedup"].append(dr)
        self.recall["knn"].append(kr)
        t = self.manifest_totals
        t["docs"] += len(out["manifest"])
        t["candidates"] += sum(r["n_candidates"] for r in out["manifest"])
        t["fuzzy"] += sum(r["n_fuzzy"] for r in out["manifest"])
        self.advance(i, b, out["keep"])
        return errs + kerrs

    def advance(self, i, b, keep=()):
        """Mirror the store's corpus: add the docs the client appended."""
        sel = np.isin(b["ids"], np.asarray(list(keep), dtype=np.int64))
        self.inp.corpus.add(b["ids"][sel], b["tokens"][sel], b["emb"][sel])
        self.shingles.add(b["ids"][sel], b["tokens"][sel])


WORKLOADS = {w.name: w for w in (TrainServe, CurateIngest)}
