"""Pure-numpy tests of the top-k and threshold kernels that every
similarity top-k and embedding near-dup operator calls.  No Spark session:
each kernel is checked against a brute-force Python reference."""

from __future__ import annotations

import numpy as np
import pytest

from tidier_spark.operators.similarity import (
    _threshold_kernel,
    _topk_kernel,
    _topk_rows,
)


def _ref_topk(q_ids, c_ids, scores, k):
    """Per query: candidates whose id differs from the query id, ordered by
    score desc, then id asc, then column position; the first k."""
    out = []
    for i, qid in enumerate(q_ids):
        row_ids = c_ids if c_ids.ndim == 1 else c_ids[i]
        cand = [
            (-scores[i, j], int(row_ids[j]), j)
            for j in range(scores.shape[1])
            if row_ids[j] != qid
        ]
        out.append([(j, -s) for s, _, j in sorted(cand)[:k]])
    return out


def _kernel_topk(q_ids, c_ids, scores, k):
    cols, vals = _topk_kernel(q_ids, c_ids, scores, k)
    assert cols.shape == vals.shape == (len(q_ids), min(k, scores.shape[1]))
    return [
        [(int(c), float(v)) for c, v in zip(cr, vr) if v > -np.inf]
        for cr, vr in zip(cols, vals)
    ]


def _ref_pairs(q_ids, c_ids, scores, threshold):
    return sorted(
        (int(q_ids[i]), int(c_ids[j]), float(scores[i, j]))
        for i in range(len(q_ids))
        for j in range(len(c_ids))
        if q_ids[i] < c_ids[j] and scores[i, j] >= threshold
    )


def _kernel_pairs(q_ids, c_ids, scores, threshold):
    got = _threshold_kernel(q_ids, c_ids, scores, threshold)
    assert list(got.columns) == ["id_a", "id_b", "cos_sim"]
    return sorted(zip(got["id_a"].tolist(), got["id_b"].tolist(), got["cos_sim"].tolist()))


def test_score_ties_break_on_id_then_position():
    q = np.array([100])
    c = np.array([7, 3, 9, 3, 5])
    s = np.array([[0.5, 0.5, 0.9, 0.5, 0.5]])
    cols, vals = _topk_kernel(q, c, s, 4)
    # 0.9 first; then the 0.5 ties by id 3, 3, 5, (7): the two id-3
    # columns keep their column order
    assert cols.tolist() == [[2, 1, 3, 4]]
    assert vals.tolist() == [[0.9, 0.5, 0.5, 0.5]]
    rows = _topk_rows(q, c, cols, vals, rank=True)
    assert rows["neighbor_id"].tolist() == [9, 3, 3, 5]
    assert rows["rank"].tolist() == [1, 2, 3, 4]


def test_duplicate_ids_are_all_masked_as_self():
    # dupids edge axis: two rows share id 4 — each id-4 query masks both
    ids = np.array([4, 4, 6])
    s = np.array([[1.0, 0.9, 0.1], [0.9, 1.0, 0.2], [0.1, 0.2, 1.0]])
    assert _kernel_topk(ids, ids, s, 3) == [[(2, 0.1)], [(2, 0.2)], [(1, 0.2), (0, 0.1)]]
    assert _kernel_topk(ids, ids, s, 3) == _ref_topk(ids, ids, s, 3)


@pytest.mark.parametrize("k", [0, 1, 2, 5, 50])
def test_k_zero_and_k_beyond_the_candidates(k):
    rng = np.random.default_rng(k)
    q = np.array([1, 2, 3])
    c = np.array([1, 2, 3, 4])
    s = np.round(rng.random((3, 4)), 1)
    got = _kernel_topk(q, c, s, k)
    assert got == _ref_topk(q, c, s, k)
    # self masked: never more than the 3 other candidates per query
    assert all(len(r) == min(k, 3) for r in got)


def test_empty_bucket():
    # no candidates, and no queries: both shapes are empty, not an error
    q = np.array([1, 2])
    none = np.array([], dtype=np.int64)
    cols, vals = _topk_kernel(q, none, np.empty((2, 0)), 3)
    assert cols.shape == vals.shape == (2, 0)
    assert len(_topk_rows(q, none, cols, vals)) == 0
    cols, vals = _topk_kernel(none, q, np.empty((0, 2)), 3)
    assert cols.shape == (0, 2)
    assert len(_threshold_kernel(none, q, np.empty((0, 2)), 0.0)) == 0


def test_bucket_of_one_row():
    ids = np.array([5])
    s = np.array([[1.0]])
    assert _kernel_topk(ids, ids, s, 3) == [[]]
    assert len(_threshold_kernel(ids, ids, s, 0.0)) == 0


@pytest.mark.parametrize("seed", range(20))
def test_topk_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    n_q, n_c = rng.integers(1, 9), rng.integers(1, 12)
    # few distinct ids and one-decimal scores: plenty of ties and self hits
    c = rng.integers(0, 6, n_c)
    q = rng.integers(0, 6, n_q)
    s = np.round(rng.uniform(-1, 1, (n_q, n_c)), 1)
    k = int(rng.integers(0, n_c + 3))
    assert _kernel_topk(q, c, s, k) == _ref_topk(q, c, s, k)


@pytest.mark.parametrize("seed", range(10))
def test_per_query_candidate_rows_match_brute_force(seed):
    # the refine call of a PQ shortlist: each query ranks its own row of
    # candidate ids
    rng = np.random.default_rng(100 + seed)
    n_q, t = rng.integers(1, 6), rng.integers(1, 8)
    q = rng.integers(0, 5, n_q)
    c = rng.integers(0, 5, (n_q, t))
    s = np.round(rng.uniform(-1, 1, (n_q, t)), 1)
    k = int(rng.integers(0, t + 2))
    assert _kernel_topk(q, c, s, k) == _ref_topk(q, c, s, k)
    cols, vals = _topk_kernel(q, c, s, k)
    rows = _topk_rows(q, c, cols, vals, rank=True)
    want = [
        (int(q[i]), int(c[i, j]), v, r)
        for i, ranked in enumerate(_ref_topk(q, c, s, k))
        for r, (j, v) in enumerate(ranked, start=1)
    ]
    assert list(rows.itertuples(index=False, name=None)) == want


def test_threshold_pairs_are_oriented_without_self_pairs():
    ids = np.array([9, 2, 5, 2])
    s = np.array(
        [
            [1.0, 0.8, 0.4, 0.9],
            [0.8, 1.0, 0.7, 1.0],
            [0.4, 0.7, 1.0, 0.6],
            [0.9, 1.0, 0.6, 1.0],
        ]
    )
    got = _kernel_pairs(ids, ids, s, 0.6)
    assert got == [(2, 5, 0.6), (2, 5, 0.7), (2, 9, 0.8), (2, 9, 0.9)]
    assert all(a < b for a, b, _ in got)


@pytest.mark.parametrize("seed", range(10))
def test_threshold_pairs_match_brute_force(seed):
    rng = np.random.default_rng(200 + seed)
    q = rng.integers(0, 8, rng.integers(0, 7))
    c = rng.integers(0, 8, rng.integers(0, 7))
    s = np.round(rng.uniform(-1, 1, (len(q), len(c))), 1)
    assert _kernel_pairs(q, c, s, 0.2) == _ref_pairs(q, c, s, 0.2)
