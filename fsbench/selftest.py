"""Self-tests for the benchmark's correctness checks: each check is fed a
right answer (must pass) and deliberately wrong ones (must fail), so no
check can pass vacuously. Needs no Spark.

    python3 fsbench/selftest.py        # or: python3 -m pytest fsbench/selftest.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


def _ts(s):
    return np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(s, "s")


def _us(s):
    return int(_ts(s).astype(np.int64))


VIEW = pd.DataFrame({
    "entity_id": [1, 1, 1, 2, 2],
    "timestamp": [_ts(10), _ts(20), _ts(30), _ts(5), _ts(50)],
    "amount": [1.0, 2.0, 3.0, 4.0, 5.0],
    "qty": [1, 2, 3, 4, 5],
})
COLS = ["amount", "qty"]


def test_training_set_check():
    oracle = checks.AsofOracle(VIEW, COLS)
    spine = pd.DataFrame({"entity_id": [1, 1, 2, 2, 3],
                          "timestamp": [_ts(25), _ts(30), _ts(4), _ts(60), _ts(99)]})
    right = [(1, _us(20), 2.0, 2), (1, _us(30), 3.0, 3), (2, _us(50), 5.0, 5)]
    assert checks.check_training_set(right, oracle, spine) == []
    # a leaked future row, a dropped row, a duplicated row, a wrong feature
    assert checks.check_training_set([(1, _us(30), 3.0, 3)] + right[1:], oracle, spine)
    assert checks.check_training_set(right[:2], oracle, spine)
    assert checks.check_training_set(right + right[:1], oracle, spine)
    assert checks.check_training_set(right[:2] + [(2, _us(50), 5.5, 5)], oracle, spine)


def test_online_and_fresh_checks():
    oracle = checks.LatestOracle(VIEW, COLS)
    right = [(1, _us(30), 3.0, 3), (2, _us(50), 5.0, 5)]
    assert checks.check_online(right, oracle, [1, 2, 7]) == []
    assert checks.check_online([(1, _us(20), 2.0, 2), right[1]], oracle, [1, 2])  # stale
    assert checks.check_online(right[:1], oracle, [1, 2])  # missing
    assert checks.check_online(right, oracle, [1])  # extra
    batch = pd.DataFrame({"entity_id": [2, 2], "timestamp": [_ts(70), _ts(80)],
                          "amount": [6.0, 7.0], "qty": [6, 7]})
    oracle.apply(batch)
    assert checks.check_fresh([(2, _us(80), 7.0, 7)], oracle, 2, _us(70)) == []
    assert checks.check_fresh([(2, _us(50), 5.0, 5)], oracle, 2, _us(70))  # not fresh
    assert checks.check_fresh([(2, _us(70), 6.0, 6)], oracle, 2, _us(70))  # not latest
    assert checks.check_fresh([], oracle, 2, _us(70))


def test_pit_check():
    oracle = checks.AsofOracle(VIEW, COLS)
    cutoff = pd.Timestamp(_ts(25))
    right = [(1, _us(20), 2.0, 2), (2, _us(5), 4.0, 4)]
    assert checks.check_pit(right, oracle, [1, 2], cutoff) == []
    assert checks.check_pit([(1, _us(30), 3.0, 3), right[1]], oracle, [1, 2], cutoff)
    assert checks.check_pit(right[:1], oracle, [1, 2], cutoff)


def _dedup_case():
    rng = np.random.default_rng(0)
    corpus = rng.integers(0, 1000, (20, 30))
    idx = checks.ShingleIndex(3)
    idx.add(np.arange(20), corpus)
    near = corpus[3].copy()
    near[15] = (near[15] + 1) % 1000
    batch = np.stack([corpus[5], near, rng.integers(0, 1000, 30)])
    ids = np.array([100, 101, 102])
    truth = {int(d): idx.matches(t, 0.5) for d, t in zip(ids, batch)}
    j_near = truth[101][0][1]
    rows = [
        {"doc_id": 100, "is_exact_dup": 1, "n_candidates": 1, "n_fuzzy": 1, "best_j_e6": 1_000_000},
        {"doc_id": 101, "is_exact_dup": 0, "n_candidates": 2, "n_fuzzy": 1,
         "best_j_e6": int(np.floor(j_near * 1e6 + 0.5))},
        {"doc_id": 102, "is_exact_dup": 0, "n_candidates": 0, "n_fuzzy": 0, "best_j_e6": 0},
    ]
    return ids, truth, rows


def test_dedup_check():
    ids, truth, rows = _dedup_case()
    assert truth[100] == [(5, 1.0)] and len(truth[101]) == 1 and truth[102] == []
    errs, recall = checks.check_dedup_manifest(rows, ids, {100}, truth)
    assert errs == [] and recall == 1.0

    def wrong(i, **kw):
        bad = [dict(r) for r in rows]
        bad[i].update(kw)
        return checks.check_dedup_manifest(bad, ids, {100}, truth)[0]

    assert wrong(2, is_exact_dup=1)  # exact count off by one
    assert wrong(0, is_exact_dup=0)
    assert wrong(2, n_fuzzy=1, n_candidates=1)  # a match that does not exist
    assert wrong(1, n_candidates=0)  # more verified than candidates
    assert wrong(1, best_j_e6=999_999)
    assert wrong(2, best_j_e6=5)
    assert checks.check_dedup_manifest(rows[:2], ids, {100}, truth)[0]  # row missing
    assert checks.check_dedup_manifest(rows + rows[:1], ids, {100}, truth)[0]  # doubled
    # missed near duplicates push recall under the floor
    missed = [dict(r, n_fuzzy=0, best_j_e6=0) for r in rows]
    errs, recall = checks.check_dedup_manifest(missed, ids, {100}, truth)
    assert recall == 0.0 and any("recall" in e for e in errs)


def _knn_case():
    rng = np.random.default_rng(1)
    cids = np.arange(50, dtype=np.int64) * 3
    cemb = rng.normal(size=(50, 8))
    q = rng.normal(size=(4, 8))
    qids = np.array([900, 901, 902, 903])
    top, sims = checks.exact_topk(q, cids, cemb, 5)
    col = {int(v): i for i, v in enumerate(cids)}
    rows = [(int(qid), int(v), float(sims[i, col[int(v)]]))
            for i, qid in enumerate(qids) for v in top[i]]
    return qids, q, cids, cemb, sims, rows


def test_knn_check():
    qids, q, cids, cemb, sims, rows = _knn_case()
    errs, recall = checks.check_knn(rows, qids, q, cids, cemb, 5)
    assert errs == [] and recall == 1.0
    # a short list (the probed cells held fewer than k) is allowed and costs recall
    errs, recall = checks.check_knn(rows[1:], qids, q, cids, cemb, 5)
    assert errs == [] and recall == 1.0 - 1 / 20
    assert checks.check_knn(rows + rows[:1], qids, q, cids, cemb, 5)[0]  # repeated id
    worst = np.argsort(sims[0])
    sixth = (int(qids[0]), int(cids[worst[0]]), float(sims[0, worst[0]]))
    assert checks.check_knn(rows + [sixth], qids, q, cids, cemb, 5)[0]  # more than k
    bad = list(rows)
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 1e-3)
    assert checks.check_knn(bad, qids, q, cids, cemb, 5)[0]  # wrong similarity
    bad = list(rows)
    bad[0] = (bad[0][0], 7, bad[0][2])
    assert checks.check_knn(bad, qids, q, cids, cemb, 5)[0]  # unknown vector
    # every neighbour list replaced by the worst matches: recall 0, under the floor
    worst = [(int(qid), int(cids[j]), float(sims[i, j]))
             for i, qid in enumerate(qids) for j in np.argsort(sims[i])[:5]]
    errs, recall = checks.check_knn(worst, qids, q, cids, cemb, 5)
    assert recall == 0.0 and any("recall" in e for e in errs)


def test_trace_accounting():
    assert tracing.uncovered(0.0, 10.0, []) == 10.0
    assert tracing.uncovered(0.0, 10.0, [(2.0, 4.0), (3.0, 5.0), (-1.0, 1.0), (9.0, 12.0)]) == 5.0
    t = tracing.Tracer()
    t.active = True
    with t.span("client.op"):
        with t.span("store.append", "g1"):
            with t.span("registry.write_version") as reg:
                pass
    assert reg["group"] == "g1" and reg["parent"] == 1
    selfs = t.self_times()
    root = t.spans[0]
    assert abs(sum(selfs.values()) - (root["end"] - root["start"])) < 1e-9
    assert set(selfs) == {"client", "store", "registry"}


def test_generators_are_seeded():
    a, b = gen.train_serve_inputs(7), gen.train_serve_inputs(7)
    assert a.spine.equals(b.spine) and a.views["txn"].equals(b.views["txn"])
    assert gen.serve_cycle_inputs(a, 0)["batch"].equals(gen.serve_cycle_inputs(b, 0)["batch"])
    assert not a.spine.equals(gen.train_serve_inputs(8).spine)
    ca, cb = gen.curate_inputs(7), gen.curate_inputs(7)
    ba, bb = gen.curate_batch(ca), gen.curate_batch(cb)
    assert np.array_equal(ba["tokens"], bb["tokens"])
    # planted near copies always differ from their source; exact ones never do
    n_exact = ba["n_exact"]
    k = gen.KNOBS["curate_ingest"]
    near = ba["tokens"][n_exact:n_exact + int(round(k["batch_docs"] * k["near_frac"]))]
    assert all(not (row == ca.corpus.tokens).all(axis=1).any() for row in near)
    assert all((row == ca.corpus.tokens).all(axis=1).any() for row in ba["tokens"][:n_exact])


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} self-tests passed")
