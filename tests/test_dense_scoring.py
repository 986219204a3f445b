"""Coordinator-path scoring: the dense per-doc accumulator and the top-k
cut must return exactly what the sort-based kernel (lexsort +
``_exact_scores`` + ``lexsort((doc, -key))[:k]``) returns, and the numpy
summation order both rely on is pinned here so a numpy upgrade that
changes it fails loudly instead of drifting scores."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pytest

from snowplow_elasticsearch_loader_spark.config import EngineConfig
from snowplow_elasticsearch_loader_spark.operators.query_engine import (
    SEQUENTIAL_SUM_MAX_ADDENDS,
    DenseAccumulator,
    QueryEngine,
)
from snowplow_elasticsearch_loader_spark.operators.wand import _exact_scores

K1, B = EngineConfig().bm25.k1, EngineConfig().bm25.b


def _numpy_order(c: np.ndarray) -> float:
    """First addend plus a sequential sum of the rest from 0.0 for at
    most 8 addends; past that, numpy's pairwise block of 8 (two-level
    tree) followed by a sequential tail — valid up to 16 addends."""
    rest = c[1:]
    if c.size <= SEQUENTIAL_SUM_MAX_ADDENDS:
        acc = 0.0
        for x in rest:
            acc += x
        return c[0] + acc
    r = rest[:8]
    acc = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]))
    for x in rest[8:]:
        acc += x
    return c[0] + acc


def _sequential(c: np.ndarray) -> float:
    acc = 0.0
    for x in c[1:]:
        acc += x
    return c[0] + acc


@pytest.mark.parametrize("m", range(1, 17))
def test_reduceat_summation_order_pinned(m):
    rng = np.random.default_rng(m)
    mismatch_seq = 0
    for _ in range(300):
        c = rng.random(m) * 10.0 ** rng.uniform(-3, 3, m)
        got = np.add.reduceat(np.concatenate(([7.0], c)), [0, 1])[1]
        assert got == _numpy_order(c)
        mismatch_seq += got != _sequential(c)
    # up to 8 addends the sum is sequential; past it, pairwise differs
    assert (mismatch_seq == 0) == (m <= SEQUENTIAL_SUM_MAX_ADDENDS)


def _old_topk(decs, ws, k, avgdl):
    doc = np.concatenate([d[0] for d in decs])
    tf = np.concatenate([d[1] for d in decs])
    dl = np.concatenate([d[2] for d in decs])
    code = np.repeat(np.arange(len(decs)), [d[0].size for d in decs])
    w_of = np.asarray(ws, dtype=np.float64)
    contrib = w_of[code] * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))
    d, s = _exact_scores(doc, code, contrib)
    key = np.round(s, 6)
    order = np.lexsort((d, -key))[:k]
    return d[order], np.round(s[order], 6)


def _engine(avgdl: float):
    """Just the state ``_exact_topk_decoded`` reads."""
    return SimpleNamespace(cfg=EngineConfig(), avgdl=avgdl, _acc=DenseAccumulator())


def _postings(rng, n_docs: int, n_terms: int, tie: bool):
    decs = []
    for j in range(n_terms):
        if j == n_terms - 1 and n_terms > 1 and rng.random() < 0.3:
            n = 0  # absent term: no postings
        else:
            n = int(rng.integers(1, n_docs))
        doc = rng.choice(n_docs, size=n, replace=False).astype(np.int64)
        if tie:  # identical postings for every doc -> exact score ties
            tf, dl = np.full(n, 2.0), np.full(n, 40.0)
        else:
            tf = rng.integers(1, 6, n).astype(np.float64)
            dl = rng.integers(1, 200, n).astype(np.float64)
        decs.append((doc, tf, dl))
    return decs


@pytest.mark.parametrize("n_terms", range(1, 13))
def test_dense_topk_matches_sort_kernel(n_terms):
    rng = np.random.default_rng(100 + n_terms)
    avgdl = 37.5
    eng = _engine(avgdl)
    eng._acc.reserve(1)  # grows past this on the first trial
    for trial in range(40):
        n_docs = int(rng.integers(2, 400))
        eng._acc.reserve(n_docs)
        decs = _postings(rng, n_docs, n_terms, tie=trial % 5 == 0)
        idf = rng.uniform(0.1, 6.0, n_terms)
        qtf = rng.integers(1, 4, n_terms)  # duplicate query terms weigh qtf x idf
        ws = [float(q) * float(i) for q, i in zip(qtf, idf)]
        if trial % 7 == 3:  # scores closer than 1e-6 collapse at round(., 6)
            ws = [w * 1e-7 for w in ws]
        if trial % 7 == 5:  # at ~1e9 a last-bit summation difference survives round(., 6)
            ws = [w * 1e9 for w in ws]
        k = int(rng.choice([1, 3, 10, 10_000]))  # 10_000: k beyond the matches
        got_d, got_s = QueryEngine._exact_topk_decoded(eng, "q", decs, ws, k)
        want_d, want_s = _old_topk(decs, ws, k, avgdl)
        assert got_d.dtype == np.int64 and got_s.dtype == np.float64
        np.testing.assert_array_equal(got_d, want_d)
        assert got_s.tobytes() == want_s.tobytes()
        # every touched slot was reset for the next query
        assert not eng._acc.seen.any() and not eng._acc.rest.any()


@pytest.mark.parametrize("n_terms", range(1, 13))
def test_accumulator_bits_match_exact_scores_up_to_8_terms(n_terms):
    rng = np.random.default_rng(200 + n_terms)
    acc = DenseAccumulator()
    acc.reserve(300)
    differs = 0
    for _ in range(20):
        decs = _postings(rng, 300, n_terms, tie=False)
        docs = [d[0] for d in decs]
        contribs = [rng.random(d.size) * 10.0 ** rng.uniform(-2, 2) for d in docs]
        got_d, got_s = acc.sum(docs, contribs)
        want_d, want_s = _exact_scores(
            np.concatenate(docs),
            np.repeat(np.arange(n_terms), [d.size for d in docs]),
            np.concatenate(contribs),
        )
        order = np.argsort(got_d)
        np.testing.assert_array_equal(got_d[order], want_d)
        if n_terms <= SEQUENTIAL_SUM_MAX_ADDENDS:
            assert got_s[order].tobytes() == want_s.tobytes()
        else:
            differs += got_s[order].tobytes() != want_s.tobytes()
    # past 8 terms numpy sums pairwise, hence the _exact_scores fallback
    assert n_terms <= SEQUENTIAL_SUM_MAX_ADDENDS or differs
