"""Brute-force oracles and output checks.

Each ``check_*`` function takes plain Python data (rows already collected
from the store, as tuples or dicts) and returns a list of error strings;
an empty list means the output is correct. Nothing here imports Spark, so
``selftest.py`` can feed every check a deliberately wrong result in
milliseconds.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd

# Quality floors for the approximate operators. They sit well below what
# the store delivers on these inputs (per-batch dedup recall ~0.97, kNN
# recall@10 ~0.95), so only a real loss of quality trips them.
DEDUP_RECALL_FLOOR = 0.85
KNN_RECALL_FLOOR = 0.75


def _us(ts) -> int:
    """Timestamp -> integer microseconds since the epoch (naive UTC)."""
    return int(pd.Timestamp(ts).value // 1000)


# ----------------------------------------------------------------- as-of --
class AsofOracle:
    """Per-entity sorted history of one view; answers "latest row at or
    before t" by binary search."""

    def __init__(self, view: pd.DataFrame, feature_cols: list[str]):
        v = view.sort_values(["entity_id", "timestamp"], kind="stable")
        self.cols = feature_cols
        self.rows: dict[int, tuple[np.ndarray, list[tuple]]] = {}
        ts_us = v["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64)
        ents = v["entity_id"].to_numpy()
        feats = list(zip(*(v[c].to_numpy().tolist() for c in feature_cols)))
        starts = np.flatnonzero(np.r_[True, ents[1:] != ents[:-1]])
        ends = np.r_[starts[1:], len(ents)]
        for s, e in zip(starts, ends):
            self.rows[int(ents[s])] = (ts_us[s:e], feats[s:e])

    def latest(self, entity: int, cutoff_us: int):
        hit = self.rows.get(int(entity))
        if hit is None:
            return None
        ts, feats = hit
        i = int(np.searchsorted(ts, cutoff_us, side="right")) - 1
        if i < 0:
            return None
        return (int(entity), int(ts[i]), *feats[i])

    def asof(self, spine: pd.DataFrame) -> list[tuple]:
        cut = spine["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64)
        out = []
        for e, c in zip(spine["entity_id"].tolist(), cut.tolist()):
            row = self.latest(e, c)
            if row is not None:
                out.append(row)
        return out


def _multiset_diff(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    g, w = defaultdict(int), defaultdict(int)
    for r in got:
        g[r] += 1
    for r in want:
        w[r] += 1
    missing = [r for r in w if g[r] < w[r]]
    extra = [r for r in g if g[r] > w[r]]
    if not missing and not extra:
        return []
    return [f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"missing e.g. {missing[:2]}, unexpected e.g. {extra[:2]}"]


def check_training_set(got: list[tuple], oracle: AsofOracle,
                       spine: pd.DataFrame) -> list[str]:
    """``got``: (entity_id, timestamp_us, *features) per output row of an
    inner as-of join of ``spine``."""
    return _multiset_diff(got, oracle.asof(spine), "training set")


# ---------------------------------------------------------------- online --
class LatestOracle:
    """Latest row per entity over history plus every appended batch."""

    def __init__(self, history: pd.DataFrame, feature_cols: list[str]):
        self.cols = feature_cols
        self.latest: dict[int, tuple] = {}
        self.apply(history)

    def apply(self, batch: pd.DataFrame) -> None:
        last = batch.sort_values("timestamp", kind="stable").groupby("entity_id").tail(1)
        ts = last["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64)
        for e, t, *f in zip(last["entity_id"].tolist(), ts.tolist(),
                            *(last[c].tolist() for c in self.cols)):
            cur = self.latest.get(e)
            if cur is None or t > cur[1]:
                self.latest[e] = (e, t, *f)

    def expect(self, entities) -> list[tuple]:
        return [self.latest[e] for e in dict.fromkeys(entities) if e in self.latest]


def check_online(got: list[tuple], oracle: LatestOracle, entities) -> list[str]:
    return _multiset_diff(got, oracle.expect(entities), "online read")


def check_fresh(got: list[tuple], oracle: LatestOracle, entity: int,
                batch_start_us: int) -> list[str]:
    """The read after an append + incremental materialize must return the
    appended row for ``entity``."""
    errs = check_online(got, oracle, [entity])
    if not errs and (not got or got[0][1] < batch_start_us):
        errs.append(f"fresh read of entity {entity} did not see the appended row")
    return errs


def check_pit(got: list[tuple], oracle: AsofOracle, entities, cutoff) -> list[str]:
    c = _us(cutoff)
    want = [r for r in (oracle.latest(e, c) for e in entities) if r is not None]
    return _multiset_diff(got, want, "point-in-time get")


# ----------------------------------------------------------------- dedup --
def shingle_set(tokens, k: int) -> frozenset:
    """Distinct k-token shingles, as the store builds them (docs are longer
    than k tokens)."""
    t = np.asarray(tokens).tolist()
    return frozenset(tuple(t[i:i + k]) for i in range(len(t) - k + 1))


class ShingleIndex:
    """Exact near-duplicate ground truth: an inverted index from shingle to
    stored docs, so a new doc is compared only with docs sharing at least
    one shingle (any pair with Jaccard > 0 shares one), then scored with the
    exact set Jaccard the store verifies with."""

    def __init__(self, k: int):
        self.k = k
        self.sets: dict[int, frozenset] = {}
        self.post: dict[tuple, list[int]] = defaultdict(list)

    def add(self, ids, tokens) -> None:
        for i, row in zip(np.asarray(ids).tolist(), tokens):
            s = shingle_set(row, self.k)
            self.sets[i] = s
            for sh in s:
                self.post[sh].append(i)

    def matches(self, tokens, threshold: float) -> list[tuple[int, float]]:
        s = shingle_set(tokens, self.k)
        seen = set()
        for sh in s:
            seen.update(self.post.get(sh, ()))
        out = []
        for j in seen:
            o = self.sets[j]
            inter = len(s & o)
            jac = inter / (len(s) + len(o) - inter)
            if jac >= threshold:
                out.append((j, jac))
        return out


def check_dedup_manifest(rows: list[dict], batch_ids, exact_ids: set,
                         truth: dict[int, list[tuple[int, float]]]) -> tuple[list[str], float]:
    """``rows``: the dedup_batch manifest as dicts. Returns (errors, recall)
    where recall = verified near-dup pairs found / true pairs."""
    errs = []
    ids = [r["doc_id"] for r in rows]
    if len(ids) != len(set(ids)) or set(ids) != set(np.asarray(batch_ids).tolist()):
        errs.append(f"manifest has {len(ids)} rows ({len(set(ids))} distinct) "
                    f"for a batch of {len(batch_ids)} docs")
    flagged = {r["doc_id"] for r in rows if r["is_exact_dup"]}
    if len(flagged) != len(exact_ids) or flagged != exact_ids:
        errs.append(f"is_exact_dup flags {len(flagged)} docs, "
                    f"{len(exact_ids)} exact copies were planted")
    found = total = 0
    for r in rows:
        t = truth.get(r["doc_id"], [])
        total += len(t)
        found += min(r["n_fuzzy"], len(t))
        if r["n_fuzzy"] > len(t) or r["n_candidates"] < r["n_fuzzy"]:
            errs.append(f"doc {r['doc_id']}: n_fuzzy={r['n_fuzzy']} "
                        f"n_candidates={r['n_candidates']} but {len(t)} true matches")
        elif r["n_fuzzy"] == len(t) and t:
            best = math.floor(max(j for _, j in t) * 1_000_000 + 0.5)
            if r["best_j_e6"] != best:
                errs.append(f"doc {r['doc_id']}: best_j_e6={r['best_j_e6']}, exact {best}")
        elif r["n_fuzzy"] == 0 and r["best_j_e6"] != 0:
            errs.append(f"doc {r['doc_id']}: best_j_e6 set without a match")
    recall = found / total if total else 1.0
    if recall < DEDUP_RECALL_FLOOR:
        errs.append(f"dedup recall {recall:.3f} < floor {DEDUP_RECALL_FLOOR}")
    return errs, recall


# ------------------------------------------------------------------- knn --
def exact_topk(q: np.ndarray, corpus_ids: np.ndarray, corpus_emb: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine: (top-k ids per query row, full similarity matrix)."""
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    cn = corpus_emb / np.linalg.norm(corpus_emb, axis=1, keepdims=True)
    sims = qn @ cn.T
    # order by (sim desc, id asc); ids are unique so a lexsort suffices
    order = np.lexsort((np.broadcast_to(corpus_ids, sims.shape), -sims), axis=1)
    return corpus_ids[order[:, :k]], sims


def check_knn(rows: list[tuple], query_ids, q: np.ndarray, corpus_ids: np.ndarray,
              corpus_emb: np.ndarray, k: int) -> tuple[list[str], float]:
    """``rows``: (q_id, vec_id, sim). Returns (errors, mean recall@k)."""
    errs = []
    top, sims = exact_topk(q, corpus_ids, corpus_emb, k)
    col = {int(v): i for i, v in enumerate(corpus_ids.tolist())}
    qrow = {int(v): i for i, v in enumerate(np.asarray(query_ids).tolist())}
    per_q: dict[int, list[int]] = defaultdict(list)
    for qid, vid, sim in rows:
        i, j = qrow.get(qid), col.get(vid)
        if i is None or j is None:
            errs.append(f"knn row ({qid}, {vid}) names an unknown query or vector")
            continue
        if not abs(sim - sims[i, j]) <= 1e-9 * max(1.0, abs(sims[i, j])):
            errs.append(f"knn sim({qid}, {vid}) = {sim}, exact {sims[i, j]}")
        per_q[qid].append(vid)
    want_n = min(k, len(corpus_ids))
    recall = 0.0
    for qid, i in qrow.items():
        # An IVF probe returns fewer than k when its probed cells hold fewer
        # vectors; the missing neighbours count against recall, not here.
        got = per_q.get(qid, [])
        if len(got) > want_n or len(set(got)) != len(got):
            errs.append(f"query {qid}: {len(got)} neighbours, at most {want_n} distinct allowed")
        recall += len(set(got) & set(top[i].tolist())) / want_n
    recall /= max(1, len(qrow))
    if recall < KNN_RECALL_FLOOR:
        errs.append(f"knn recall@{k} {recall:.3f} < floor {KNN_RECALL_FLOOR}")
    return errs[:20], recall
