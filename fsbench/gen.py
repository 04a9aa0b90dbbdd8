"""Seeded input generators for the two workloads.

Everything here is plain NumPy/pandas: the same ``seed`` gives the same
inputs, and the program under test only ever sees the DataFrames built
from them. The generators also return what the correctness oracles need
(the raw arrays), so no oracle reads anything back from the store.

Size knobs live in ``KNOBS`` so that a reader can see, in one place, how
big each workload is and how skewed its keys are.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

BASE_TS = np.datetime64("2024-01-01T00:00:00", "s")
HISTORY_SECONDS = 90 * 86400

KNOBS = {
    "train_serve": {
        "entities": 20_000,
        "rows_per_view": 300_000,  # 15 rows per entity on average, per view
        "zipf_a": 1.3,  # heavy head: the hottest entity carries ~25% of rows
        "spine_rows": 100_000,
        "check_spine_rows": 400,
        "reads_per_cycle": 6,
        "keys_per_read": 5,
        "gets_per_cycle": 1,
        "keys_per_get": 100,
        "append_rows": 2_000,
    },
    "curate_ingest": {
        "corpus_docs": 2_000,
        "tokens_per_doc": 60,
        "vocab": 50_000,
        "dim": 64,
        "clusters": 16,
        "batch_docs": 400,
        "exact_frac": 0.10,
        "near_frac": 0.30,
        "token_mutation_rate": 0.05,
        "shingle_k": 3,
        "threshold": 0.5,
        "k": 10,
    },
}


def zipf_keys(rng: np.random.Generator, n: int, entities: int, a: float,
              perm: np.ndarray) -> np.ndarray:
    """``n`` entity keys in ``[0, entities)`` with a Zipf(a) head. ``perm``
    scatters the head over the key space so hot keys are not just 0, 1, 2."""
    return perm[(rng.zipf(a, n) - 1) % entities].astype(np.int64)


def unique_times(rng: np.random.Generator, n: int, start_s: int = 0,
                 span_s: int = HISTORY_SECONDS) -> np.ndarray:
    """``n`` distinct second-resolution timestamps in
    ``[BASE_TS + start_s, BASE_TS + start_s + span_s)``. Distinct times
    mean the as-of and latest-row oracles never meet a tie."""
    offs = rng.choice(span_s, n, replace=False).astype(np.int64) + start_s
    return (BASE_TS + offs.astype("timedelta64[s]")).astype("datetime64[us]")


# ---------------------------------------------------------- train_serve --
@dataclass
class TrainServeInputs:
    views: dict[str, pd.DataFrame]  # "txn" is served and appended to, "session" trained on
    spine: pd.DataFrame
    check_spine: pd.DataFrame
    perm: np.ndarray
    rng: np.random.Generator = field(repr=False)


def _view(rng, k, perm, cols):
    n = k["rows_per_view"]
    return pd.DataFrame({
        "entity_id": zipf_keys(rng, n, k["entities"], k["zipf_a"], perm),
        "timestamp": unique_times(rng, n),
        cols[0]: rng.normal(50.0, 20.0, n),
        cols[1]: rng.integers(1, 10, n, dtype=np.int64),
    })


def train_serve_inputs(seed: int) -> TrainServeInputs:
    k = KNOBS["train_serve"]
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(k["entities"])
    views = {"txn": _view(rng, k, perm, ("amount", "qty")),
             "session": _view(rng, k, perm, ("dwell_s", "clicks"))}
    s = k["spine_rows"]
    spine = pd.DataFrame({
        "entity_id": zipf_keys(rng, s, k["entities"], k["zipf_a"], perm),
        "timestamp": (BASE_TS + rng.integers(0, HISTORY_SECONDS, s)
                      .astype("timedelta64[s]")).astype("datetime64[us]"),
    })
    pick = np.sort(rng.choice(s, k["check_spine_rows"], replace=False))
    return TrainServeInputs(views, spine, spine.iloc[pick].reset_index(drop=True), perm, rng)


def serve_reads(inp: TrainServeInputs) -> dict:
    """Keys for the 5-key online reads, and keys + cutoffs (inside the 90
    days of history) for the 100-key point-in-time gets."""
    k = KNOBS["train_serve"]
    rng, ents = inp.rng, k["entities"]
    reads = [
        zipf_keys(rng, k["keys_per_read"], ents, k["zipf_a"], inp.perm).tolist()
        for _ in range(k["reads_per_cycle"])
    ]
    gets = [
        (
            np.unique(zipf_keys(rng, k["keys_per_get"], ents, k["zipf_a"], inp.perm)).tolist(),
            (BASE_TS + np.timedelta64(int(rng.integers(86400, HISTORY_SECONDS)), "s"))
            .astype("datetime64[us]").item(),
        )
        for _ in range(k["gets_per_cycle"])
    ]
    return {"reads": reads, "gets": gets}


def serve_cycle_inputs(inp: TrainServeInputs, cycle: int) -> dict:
    """Reads, gets and the append batch for one read/write cycle. Appended
    rows are newer than all history (the appends land after the 90 days,
    one hour apart per cycle), so they become each entity's latest row."""
    k = KNOBS["train_serve"]
    rng = inp.rng
    out = serve_reads(inp)
    m = k["append_rows"]
    batch = pd.DataFrame({
        "entity_id": zipf_keys(rng, m, k["entities"], k["zipf_a"], inp.perm),
        "timestamp": unique_times(rng, m, HISTORY_SECONDS + cycle * 3600, 3600),
        "amount": rng.normal(50.0, 20.0, m),
        "qty": rng.integers(1, 10, m, dtype=np.int64),
    })
    # the freshness probe reads an entity whose newest row is in this batch
    out["fresh_entity"] = int(batch["entity_id"].iloc[int(rng.integers(0, m))])
    out["batch"] = batch
    return out


# --------------------------------------------------------------- curate --
class Corpus:
    """The benchmark's own copy of the indexed corpus: ids, token arrays and
    embeddings, in index order. Grows by the survivors of each batch."""

    def __init__(self, ids: np.ndarray, tokens: np.ndarray, emb: np.ndarray):
        self.ids = ids
        self.tokens = tokens
        self.emb = emb

    def add(self, ids, tokens, emb) -> None:
        self.ids = np.concatenate([self.ids, ids])
        self.tokens = np.concatenate([self.tokens, tokens])
        self.emb = np.concatenate([self.emb, emb])


def docs_frame(ids, tokens, emb) -> pd.DataFrame:
    return pd.DataFrame({
        "entity_id": np.asarray(ids, dtype=np.int64),
        "timestamp": np.full(len(ids), BASE_TS).astype("datetime64[us]"),
        "text": [" ".join(f"t{t}" for t in row) for row in tokens],
        "embedding": list(np.asarray(emb, dtype=np.float64)),
    })


@dataclass
class CurateInputs:
    corpus: Corpus
    centers: np.ndarray
    rng: np.random.Generator = field(repr=False)
    next_id: int = 0


def _embed(rng, centers, clusters):
    return centers[clusters] + 0.35 * rng.normal(size=(len(clusters), centers.shape[1]))


def curate_inputs(seed: int) -> CurateInputs:
    k = KNOBS["curate_ingest"]
    rng = np.random.default_rng([seed, 3])
    # The cluster layout (centres, and which cluster each corpus doc is
    # in) is the same for every seed: the IVF index seeds its cells from
    # the lowest doc ids, so a per-seed layout would change the cell sizes,
    # and with them the kNN work, from seed to seed.
    layout = np.random.default_rng(0)
    centers = layout.normal(size=(k["clusters"], k["dim"]))
    c = k["corpus_docs"]
    corpus = Corpus(
        np.arange(c, dtype=np.int64),
        rng.integers(0, k["vocab"], (c, k["tokens_per_doc"])),
        _embed(rng, centers, layout.integers(0, k["clusters"], c)),
    )
    return CurateInputs(corpus, centers, rng, next_id=c)


def curate_batch(inp: CurateInputs, size: int | None = None) -> dict:
    """One ingest batch: exact copies of stored docs, near copies (each
    token replaced with probability ``token_mutation_rate``, at least one
    token always replaced so a near copy is never an exact one) and fresh
    docs. Exact copies keep the source embedding; near copies jitter it.
    Row order is exact copies, then near copies, then fresh docs."""
    k = KNOBS["curate_ingest"]
    rng = inp.rng
    corpus = inp.corpus
    b = size or k["batch_docs"]
    n_exact = int(round(b * k["exact_frac"]))
    n_near = int(round(b * k["near_frac"]))
    n_fresh = b - n_exact - n_near
    src_exact = rng.integers(0, len(corpus.ids), n_exact)
    src_near = rng.integers(0, len(corpus.ids), n_near)
    near = corpus.tokens[src_near].copy()
    mut = rng.random(near.shape) < k["token_mutation_rate"]
    mut[np.arange(n_near), rng.integers(0, near.shape[1], n_near)] = True
    # shift by a non-zero offset: a replaced token is always a different one
    near[mut] = (near[mut] + rng.integers(1, k["vocab"], int(mut.sum()))) % k["vocab"]
    tokens = np.concatenate([
        corpus.tokens[src_exact], near,
        rng.integers(0, k["vocab"], (n_fresh, k["tokens_per_doc"])),
    ])
    emb = np.concatenate([
        corpus.emb[src_exact],
        corpus.emb[src_near] + 0.05 * rng.normal(size=(n_near, k["dim"])),
        _embed(rng, inp.centers, rng.integers(0, len(inp.centers), n_fresh)),
    ])
    ids = np.arange(inp.next_id, inp.next_id + b, dtype=np.int64)
    inp.next_id += b
    return {"ids": ids, "tokens": tokens, "emb": emb, "n_exact": n_exact,
            "exact_ids": set(ids[:n_exact].tolist())}
