"""Property-based tier (hypothesis): codec roundtrips over adversarial
integer distributions, analyzer parity on arbitrary unicode, and
oracle-vs-engine BM25 rank identity on random corpora."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from oracle.bm25 import OracleIndex, tokenize as oracle_tokenize
from snowplow_elasticsearch_loader_spark.functions import codec
from snowplow_elasticsearch_loader_spark.functions.analyze import tokenize_text


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=2000))
@settings(max_examples=60, deadline=None)
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


@given(
    st.sets(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=1500),
    st.integers(min_value=1, max_value=200),
)
@settings(max_examples=40, deadline=None)
def test_delta_block_roundtrip_property(ids_set, block_size):
    ids = np.array(sorted(ids_set), dtype=np.uint64)
    tfs = (ids % 37 + 1).astype(np.uint64)
    dls = (ids % 999 + 1).astype(np.uint64)
    bstart = np.arange(0, ids.size, block_size)
    cnt = np.diff(np.concatenate((bstart, [ids.size])))
    d, t, l = codec.unpack_blocks(cnt, *codec.pack_blocks(ids, tfs, dls, bstart)[:3])
    assert np.array_equal(d, ids.astype(np.int64))
    assert np.array_equal(t, tfs.astype(np.int64)) and np.array_equal(l, dls.astype(np.int64))


@given(st.text(max_size=300))
@settings(max_examples=150, deadline=None)
def test_analyzer_parity_property(text):
    # engine and oracle tokenizers must agree on arbitrary unicode
    assert tokenize_text(text) == oracle_tokenize(text)


@given(
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta the a zz q7".split()), min_size=0, max_size=30),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.sampled_from("alpha the zz missing q7".split()), min_size=1, max_size=4),
)
@settings(max_examples=30, deadline=None)
def test_oracle_topk_invariants(doc_tokens, query_terms):
    docs = [(i, " ".join(toks)) for i, toks in enumerate(doc_tokens)]
    idx = OracleIndex(docs)
    res = idx.search(" ".join(query_terms), k=10)
    # ranks contiguous from 1; scores non-increasing; doc_id tiebreak
    assert [r for r, _, _ in res] == list(range(1, len(res) + 1))
    scores = [s for _, _, s in res]
    assert scores == sorted(scores, reverse=True)
    for (_, d1, s1), (_, d2, s2) in zip(res, res[1:]):
        if s1 == s2:
            assert d1 < d2
    # every returned doc contains at least one query term
    qset = set(query_terms)
    for _, d, _ in res:
        assert qset & set(oracle_tokenize(docs[d][1]))
