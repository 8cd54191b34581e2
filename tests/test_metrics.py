"""Retrieval metric kernels (Recall@k / MRR / MAP@k) vs a numpy oracle that
reimplements the reference semantics (/root/reference/src/metrics.py:33-113):
hit-rate recall, full-ranking MRR, AP@k divided by TOTAL relevant count,
dup-less queries skipped from all means. Includes score ties (deterministic
cand_id tie-break)."""

import numpy as np
import pytest

from cs588_data_science_bug_duplicate_detector_spark.operators.metrics import (
    retrieval_metrics,
)

K_VALUES = (1, 5, 10, 20)


def _oracle(rows, k_values):
    by_query = {}
    for q, c, s, d in rows:
        by_query.setdefault(q, []).append((c, s, d))
    out = {k: {"recall": [], "ap": []} for k in k_values}
    rrs = []
    for q, cands in by_query.items():
        relevant = {c for c, _, d in cands if d}
        if not relevant:
            continue  # metrics.py:187-189
        ranked = [c for c, _, _ in sorted(cands, key=lambda x: (-x[1], x[0]))]
        rr = 0.0
        for rank, c in enumerate(ranked, 1):
            if c in relevant:
                rr = 1.0 / rank
                break
        rrs.append(rr)
        for k in k_values:
            top = ranked[:k]
            out[k]["recall"].append(1.0 if set(top) & relevant else 0.0)
            hits, psum = 0, 0.0
            for i, c in enumerate(top, 1):
                if c in relevant:
                    hits += 1
                    psum += hits / i
            out[k]["ap"].append(psum / len(relevant))
    return {
        k: {
            "recall_at_k": float(np.mean(v["recall"])),
            "map_at_k": float(np.mean(v["ap"])),
            "mrr": float(np.mean(rrs)),
            "num_queries": len(rrs),
        }
        for k, v in out.items()
    }


def _fixture_rows(seed):
    rng = np.random.default_rng(seed)
    rows = []
    for q in range(1, 31):
        n_cand = int(rng.integers(3, 40))
        n_rel = int(rng.integers(0, 4))  # some queries have NO relevant cands
        rel_set = set(rng.choice(np.arange(1000, 1000 + n_cand), size=min(n_rel, n_cand), replace=False))
        for j in range(n_cand):
            cand = 1000 + j
            # quantized scores -> deliberate ties
            score = float(np.round(rng.random(), 1))
            rows.append((q, cand, score, cand in rel_set))
    return rows


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_metrics_match_numpy_oracle(spark, seed):
    rows = _fixture_rows(seed)
    pairs = spark.createDataFrame(
        rows, "query_id long, cand_id long, score double, is_dup boolean"
    )
    got = {
        r["k"]: r.asDict() for r in retrieval_metrics(pairs, K_VALUES).collect()
    }
    want = _oracle(rows, K_VALUES)
    assert set(got) == set(want)
    for k in K_VALUES:
        for m in ("recall_at_k", "map_at_k", "mrr"):
            assert got[k][m] == pytest.approx(want[k][m], abs=1e-9), (k, m)
        assert got[k]["num_queries"] == want[k]["num_queries"]


def test_perfect_and_empty_rankings(spark):
    rows = [
        (1, 10, 0.9, True),   # relevant at rank 1
        (1, 11, 0.5, False),
        (2, 20, 0.9, False),  # relevant at rank 2
        (2, 21, 0.5, True),
        (3, 30, 0.9, False),  # no relevant -> dropped
    ]
    pairs = spark.createDataFrame(rows, "query_id long, cand_id long, score double, is_dup boolean")
    got = {r["k"]: r.asDict() for r in retrieval_metrics(pairs, (1, 5)).collect()}
    assert got[1]["num_queries"] == 2
    assert got[1]["recall_at_k"] == pytest.approx(0.5)
    assert got[5]["recall_at_k"] == pytest.approx(1.0)
    assert got[1]["mrr"] == pytest.approx((1.0 + 0.5) / 2)
    assert got[1]["map_at_k"] == pytest.approx((1.0 + 0.0) / 2)
    assert got[5]["map_at_k"] == pytest.approx((1.0 + 0.5) / 2)
