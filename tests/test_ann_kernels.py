"""Numpy-only checks of the shared ANN kernels in operators/similarity.py
(no Spark session): the zero-norm policy, the probe tie-break, the Lloyd
partial sums and the pair emitter every scoring pass yields through."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from hadoop_word_score_spark.operators.similarity import (
    _emit_pairs,
    _lloyd_partials,
    _plan_probes,
    _rounded_cosine,
    _unit_rows,
)


def test_unit_rows_keeps_a_zero_row_zero():
    m = np.array([[3.0, 4.0], [0.0, 0.0], [0.0, -2.0]])
    u = _unit_rows(m)
    assert u.tolist() == [[0.6, 0.8], [0.0, 0.0], [0.0, -1.0]]
    assert np.isfinite(u).all()


def test_rounded_cosine_zero_norm_is_nan_and_zero_is_positive():
    # a zero-norm side gives NaN (dropped by every caller), never 0.0
    s = _rounded_cosine(np.array([[0.0]]), np.array([0.0]), np.array([1.0]))
    assert math.isnan(s[0, 0])
    # a tiny negative cosine rounds to +0.0, never -0.0 (sign-strict hashes)
    s = _rounded_cosine(np.array([[-1e-9]]), np.array([1.0]), np.array([1.0]))
    assert s[0, 0] == 0.0 and math.copysign(1.0, s[0, 0]) == 1.0
    s = _rounded_cosine(np.array([[1.0, -2.0]]), np.array([2.0]), np.array([1.0, 4.0]))
    assert s.tolist() == [[0.5, -0.25]]


def test_plan_probes_breaks_ties_to_the_lowest_sparse_cell_id():
    # cells 40 and 7 hold the same centroid direction; 7 must win the tie
    # although it comes later in the rows, and 40 only fills probe two
    rows = [(40, [1.0, 0.0]), (99, [0.0, 1.0]), (7, [2.0, 0.0])]
    q = np.array([[1.0, 0.0], [0.0, 3.0]])
    cells, mask = _plan_probes(rows, q, 1, "test index")
    assert cells == [7, 99]
    assert mask[7].tolist() == [True, False]
    assert mask[99].tolist() == [False, True]
    cells, mask = _plan_probes(rows, q[:1], 2, "test index")
    assert cells == [7, 40]


def test_plan_probes_names_the_built_dimension():
    import pytest

    with pytest.raises(ValueError, match="test index was built for dim 2; queries have dim 3"):
        _plan_probes([(0, [1.0, 0.0])], np.ones((1, 3)), 1, "test index")


def test_lloyd_partials_equal_group_sums_and_counts():
    rng = np.random.default_rng(3)
    x = rng.normal(size=(9, 3))
    labels = np.array([5, 2, 5, 5, 9, 2, 5, 9, 2])
    got = _lloyd_partials(x, labels, "cell")
    assert list(got.columns) == ["cell", "pos", "s", "cnt"]
    assert got["cell"].tolist() == [2] * 3 + [5] * 3 + [9] * 3
    assert got["pos"].tolist() == [0, 1, 2] * 3
    for g in (2, 5, 9):
        part = got[got["cell"] == g]
        assert part["s"].tolist() == x[labels == g].sum(0).tolist()
        assert set(part["cnt"]) == {int((labels == g).sum())}


def test_emit_pairs_drops_self_pairs_and_nan():
    qids = np.array([1, 2])
    batch = pd.DataFrame({"vec_id": [1, 3], "cell": [0, 1]})
    sims = np.array([[1.0, 0.5], [np.nan, 0.25]])  # (candidates, queries)
    (out,) = list(_emit_pairs([batch], qids, "vec_id", lambda pdf: sims))
    assert list(zip(out.query_id, out.cand_id, out.cosine_sim)) == [(2, 1, 0.5), (2, 3, 0.25)]
    # with a cell mask, a pair survives only if its query probed the cell
    mask = {0: np.array([True, True]), 1: np.array([True, False])}
    (out,) = list(_emit_pairs([batch], qids, "vec_id", lambda pdf: sims, mask))
    assert list(zip(out.query_id, out.cand_id)) == [(2, 1)]
    # empty batches yield an empty, typed frame
    (out,) = list(_emit_pairs([batch.iloc[:0]], qids, "vec_id", lambda pdf: sims))
    assert out.empty and list(out.columns) == ["query_id", "cand_id", "cosine_sim"]
