"""Pure-numpy pins for the fixed-point kernel set of
operators/similarity.py (no Spark): the ranking rule against the three
idioms it replaced, the float64 dot kernel against the int64 floor-sum,
the chunked pair top-k against a per-row reference at every chunk size,
and the matrix conversion's NULL drop and envelope check."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from duckdb_pipeline_spark.operators.similarity import (
    SCALE,
    _empty_frame,
    _fp_dots_f64,
    _fp_matrix,
    _pair_topk,
    _rank_desc,
)


def _tied_scores(rng, rows=40, cols=13):
    """Integer-valued scores drawn from 4 values, so nearly every row
    holds ties at its maximum and inside its top-n."""
    return rng.integers(-2, 2, size=(rows, cols)).astype("float64") * 1e9


def test_rank_desc_equals_the_three_idioms_it_replaced():
    rng = np.random.default_rng(7)
    S = _tied_scores(rng)
    rows, cols = S.shape
    for n in (1, 3, cols):
        got = _rank_desc(S, n)
        assert got.shape == (rows, n)
        # stable argsort on -score
        assert (got == np.argsort(-S, axis=1, kind="stable")[:, :n]).all()
        # lexsort on (column index, -score), per row and batched
        for r in range(rows):
            assert (got[r] == np.lexsort((np.arange(cols), -S[r]))[:n]).all()
            assert (_rank_desc(S[r], n) == got[r]).all()
            ref = sorted(range(cols), key=lambda j: (-S[r, j], j))[:n]
            assert got[r].tolist() == ref
        batched = np.lexsort((np.tile(np.arange(cols), (rows, 1)), -S), axis=1)
        assert (got == batched[:, :n]).all()
    # argmax: first maximum == lowest column index among the tied best
    assert (_rank_desc(S, 1)[:, 0] == S.argmax(axis=1)).all()
    assert (_rank_desc(S.astype("int64"), 1)[:, 0] == S.argmax(axis=1)).all()


def test_fp_dots_f64_equals_int64_floor_sum_bitwise():
    rng = np.random.default_rng(11)
    d = 64
    A = rng.uniform(-0.6, 0.6, size=(50, d)).astype("float32").astype("float64")
    C = rng.uniform(-0.6, 0.6, size=(9, d)).astype("float32").astype("float64")
    # inside the envelope the module's conversion accepts
    assert d * SCALE * max(np.abs(A).max(), np.abs(C).max()) ** 2 < 2**53
    ref = np.floor(A[:, None, :] * C[None, :, :] * SCALE).astype("int64").sum(axis=2)
    got = _fp_dots_f64(A[:, None, :], C)
    assert got.dtype == np.float64
    assert (got == ref.astype("float64")).all()
    assert (got.astype("int64") == ref).all()
    norms = np.floor(A * A * SCALE).astype("int64").sum(axis=1)
    assert (_fp_dots_f64(A, A).astype("int64") == norms).all()
    assert int(_fp_dots_f64(A[0], A[0])) == norms[0]


def _pair_reference(ids_a, Va, ids_b, Vb, keep):
    """Per-row loop: exact integer dots, cosine, (cosine desc, nbr asc)."""
    ia, nb, cs = [], [], []
    na = np.floor(Va * Va * SCALE).astype("int64").sum(axis=1)
    nbn = np.floor(Vb * Vb * SCALE).astype("int64").sum(axis=1)
    for r in range(len(ids_a)):
        dots = np.floor(Va[r][None, :] * Vb * SCALE).astype("int64").sum(axis=1)
        cos = dots.astype("float64") / (np.sqrt(float(na[r])) * np.sqrt(nbn.astype("float64")))
        order = sorted(range(len(ids_b)), key=lambda j: (-cos[j], ids_b[j]))[:keep]
        ia += [ids_a[r]] * len(order)
        nb += [ids_b[j] for j in order]
        cs += [cos[j] for j in order]
    return np.asarray(ia), np.asarray(nb), np.asarray(cs)


def test_pair_topk_is_chunk_invariant_and_matches_reference():
    rng = np.random.default_rng(3)
    d = 16
    Vb = rng.uniform(-1, 1, size=(23, d)).astype("float32").astype("float64")
    # planted ties: exact duplicates in B give bitwise-equal cosines
    Vb[5] = Vb[2]
    Vb[17] = Vb[2]
    Vb[9] = Vb[4]
    ids_b = np.arange(100, 123, dtype="int64")
    Va = np.concatenate([Vb[[2, 4, 0]], rng.uniform(-1, 1, size=(8, d))]).astype("float64")
    ids_a = np.arange(11, dtype="int64")
    for keep in (1, 4, 30):
        ref = _pair_reference(ids_a, Va, ids_b, Vb, keep)
        outs = [_pair_topk(ids_a, Va, ids_b, Vb, keep, chunk=c) for c in (1, 7, len(ids_a))]
        for out in outs:
            for got, want in zip(out, ref):
                assert got.shape == want.shape
                assert (got == want).all()
    # the tie among the planted duplicates resolves to the lowest nbr id
    _, nbr, _ = _pair_topk(ids_a[:1], Va[:1], ids_b, Vb, 3)
    assert nbr.tolist() == [102, 105, 117]


def test_fp_matrix_drops_nulls_and_checks_envelope():
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3], "embedding": [[0.5, -0.25], None, [0.0, 1.0]]}
    )
    rows, V = _fp_matrix(pdf, "embedding")
    assert rows["vec_id"].tolist() == [1, 3]
    assert V.dtype == np.float64 and V.tolist() == [[0.5, -0.25], [0.0, 1.0]]
    empty, V0 = _fp_matrix(pdf.iloc[1:2], "embedding")
    assert not len(empty) and V0.shape == (0, 0)
    # d * SCALE * max|x|^2 >= 2^53 at d=2 needs max|x| >= ~2122
    big = pd.DataFrame({"embedding": [[0.1, 0.2], [2200.0, 0.0]]})
    with pytest.raises(ValueError, match="envelope exceeded"):
        _fp_matrix(big, "embedding")


def test_empty_frame_follows_the_ddl():
    f = _empty_frame("vec_id long, rk int, cosine double, side string")
    assert list(f.columns) == ["vec_id", "rk", "cosine", "side"]
    assert [str(t) for t in f.dtypes] == ["int64", "int32", "float64", "object"]
    assert len(f) == 0
