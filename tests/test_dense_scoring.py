"""One accumulation order for every scorer.

A doc's BM25 contributions fold left from 0.0 in ascending term order,
``((0.0 + c0) + c1) + c2 ...``: the Spark path's ``F.aggregate`` and
the oracle's loop. ``bm25.DenseAccumulator`` is its numpy twin, and the
wand, phrase and ``QueryEngine`` coordinator scorers all sum through
it. This module pins the accumulator against a Python left fold,
checks the coordinator's top-k kernel against that fold, compares the
raw score bits of every path over a fixture index, and keeps a second
summation order from coming back."""

from __future__ import annotations

import ast
import pathlib
import random
import shutil
import tempfile
from types import SimpleNamespace

import numpy as np
import pytest

from snowplow_elasticsearch_loader_spark.config import BM25Config, EngineConfig, IndexConfig
from snowplow_elasticsearch_loader_spark.operators import bm25, wand
from snowplow_elasticsearch_loader_spark.operators.bm25 import (
    DenseAccumulator,
    contrib_col,
    contrib_np,
    quantize_doclen_col,
    quantize_doclen_np,
)
from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

K1, B = EngineConfig().bm25.k1, EngineConfig().bm25.b


def _fold(contribs) -> float:
    """The one accumulation order: a left fold from 0.0."""
    acc = 0.0
    for c in contribs:
        acc += c
    return acc


def _fold_scores(docs, contribs) -> dict[int, float]:
    """doc -> left fold of its contributions, arrays taken in order."""
    per_doc: dict[int, list[float]] = {}
    for d, c in zip(docs, contribs):
        for doc, x in zip(d.tolist(), c.tolist()):
            per_doc.setdefault(doc, []).append(x)
    return {doc: _fold(cs) for doc, cs in per_doc.items()}


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


@pytest.mark.parametrize("n_terms", range(1, 17))
def test_accumulator_folds_left_in_term_order(n_terms):
    rng = np.random.default_rng(200 + n_terms)
    acc = DenseAccumulator(300)
    for _ in range(20):
        docs = [d[0] for d in _postings(rng, 300, n_terms, tie=False)]
        # magnitudes over 6 decades, so the order shows in the last bits
        contribs = [rng.random(d.size) * 10.0 ** rng.uniform(-3, 3, d.size) + 1e-9 for d in docs]
        got_d, got_s = acc.sum(docs, contribs)
        want = _fold_scores(docs, contribs)
        assert sorted(got_d.tolist()) == sorted(want)
        assert [s.hex() for s in got_s.tolist()] == [want[d].hex() for d in got_d.tolist()]
        assert not acc.acc.any()  # every touched slot was reset


def _fold_topk(decs, ws, k, avgdl):
    scores = _fold_scores(
        [d[0] for d in decs], [contrib_np(w, tf, dl, avgdl, K1, B) for (_, tf, dl), w in zip(decs, ws)]
    )
    d = np.array(list(scores), dtype=np.int64)
    key = np.round(np.array([scores[x] for x in d.tolist()], dtype=np.float64), 6)
    order = np.lexsort((d, -key))[:k]
    return d[order], key[order]


def _engine(avgdl: float):
    """Just the state ``_exact_topk_decoded`` reads."""
    return SimpleNamespace(cfg=EngineConfig(), avgdl=avgdl, _acc=DenseAccumulator())


@pytest.mark.parametrize("n_terms", range(1, 17))
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
        want_d, want_s = _fold_topk(decs, ws, k, avgdl)
        assert got_d.dtype == np.int64 and got_s.dtype == np.float64
        np.testing.assert_array_equal(got_d, want_d)
        assert got_s.tobytes() == want_s.tobytes()
        # every touched slot was reset for the next query
        assert not eng._acc.acc.any()


@pytest.mark.parametrize("quantize", [False, True])
@pytest.mark.parametrize("k1,b", [(K1, B), (0.9, 0.4)])
def test_contrib_col_and_contrib_np_are_bit_identical(spark, quantize, k1, b):
    """The Spark and numpy BM25 contributions are one formula: same raw
    float64 bits on random weights, tfs and doclens (up to 2^22, past
    the 2^16 where quantization drops more than one low bit)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n = 3000
    w = rng.uniform(0.001, 25.0, n)
    tf = rng.integers(1, 300, n)
    dl = np.concatenate(
        [rng.integers(1, 1 << 16, n // 2), rng.integers(1 << 16, 1 << 22, n - n // 2)]
    )
    cfg = EngineConfig(bm25=BM25Config(k1=k1, b=b, quantize_doclen=quantize))
    df = spark.createDataFrame(
        [(i, float(w[i]), int(tf[i]), int(dl[i])) for i in range(n)],
        "i int, w double, tf int, dl long",
    )
    dl_col = quantize_doclen_col("dl") if quantize else F.col("dl")
    dl_np = quantize_doclen_np(dl) if quantize else dl.astype(np.float64)
    for avgdl in (1.0, 57.3125, float(rng.uniform(10.0, 5000.0))):
        rows = (
            df.select("i", contrib_col(F.col("w"), F.col("tf"), dl_col, avgdl, cfg).alias("c"))
            .orderBy("i")
            .collect()
        )
        got = np.array([r["c"] for r in rows], dtype=np.float64)
        want = contrib_np(w, tf.astype(np.float64), dl_np, avgdl, k1, b)
        assert np.array_equal(got.view(np.int64), want.view(np.int64))


# ---- every path, one order: raw score bits over a fixture index ----

CFG = EngineConfig(index=IndexConfig(block_size=8, docs_per_range=256, term_buckets=8))


@pytest.fixture(scope="module")
def idx(spark):
    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex, build_index
    from snowplow_elasticsearch_loader_spark.sources.transcripts import synth_transcripts

    d = tempfile.mkdtemp(prefix="order-idx-")
    build_index(spark, synth_transcripts(spark, n_convs=40, seed=7, partitions=4), d, CFG)
    yield InvertedIndex(spark, d, CFG)
    shutil.rmtree(d, ignore_errors=True)


def _cross_path_queries(idx):
    """Seeded queries of 1-16 present terms, each drawn from one doc's
    distinct tokens so that doc sums every term, and phrases of 2-16
    tokens cut from a doc's token stream, with their matching docs."""
    from snowplow_elasticsearch_loader_spark.functions.analyze import tokenize_text

    toks = {
        r["doc_id"]: tokenize_text(r["text"])
        for r in idx.documents.select("doc_id", "text").collect()
    }
    rnd = random.Random(12)
    queries, phrases = [], []
    for i in range(128):
        m = 1 + i % 16
        doc = rnd.choice([d for d, t in toks.items() if len(set(t)) >= m])
        queries.append((f"q{i:03d}", " ".join(rnd.sample(sorted(set(toks[doc])), m))))
    for i in range(60):
        m = 2 + i % 15
        t = toks[rnd.choice([d for d, t in toks.items() if len(t) >= m])]
        s = rnd.randrange(len(t) - m + 1)
        phrases.append((f"p{i:03d}", " ".join(t[s : s + m])))
    matches = {
        (qid, d)
        for qid, ph in phrases
        for d, t in toks.items()
        if any(t[s : s + len(ph.split())] == ph.split() for s in range(len(t)))
    }
    return queries, phrases, matches


def test_every_path_sums_in_one_order(spark, idx, monkeypatch):
    """Raw (unrounded) score bits of the wand evaluator, the phrase
    evaluator and the coordinator's accumulator equal the Spark path's
    (``bm25.score_queries``) for every (query, doc), on 1-16 terms; the
    ranked rows of every search path equal ``bm25_topk_naive``'s."""
    from snowplow_elasticsearch_loader_spark.operators.phrase import phrase_topk
    from snowplow_elasticsearch_loader_spark.operators.postings import (
        build_postings,
        doc_stats,
        term_stats,
    )

    queries, phrases, matches = _cross_path_queries(idx)
    posts, ds = build_postings(idx.documents), doc_stats(idx.documents)
    ts = term_stats(posts)

    def raw(df):
        return {(r["query_id"], r["doc_id"]): r["score"].hex() for r in df.collect()}

    spark_q = raw(bm25.score_queries(posts, ds, ts, queries, CFG))
    spark_p = raw(bm25.score_queries(posts, ds, ts, phrases, CFG))
    assert len(spark_q) > 1000
    args = (idx.blocks, idx.termdict, idx.corpus())

    # -- raw bits: the evaluators' per-range candidates before the rank tail --
    with monkeypatch.context() as m:
        m.setattr(wand, "topk", lambda scored, k: scored)
        for k in (10, 1 << 30):
            got = raw(wand.wand_topk(*args, queries, k=k, cfg=CFG))
            assert k == 10 or got.keys() == spark_q.keys()
            assert {key: spark_q[key] for key in got} == got
        got = raw(phrase_topk(*args, phrases, k=1 << 30, cfg=CFG))
        assert got.keys() == matches
        assert {key: spark_p[key] for key in got} == got

    # -- raw bits: the coordinator's accumulator, per query --
    serving = QueryEngine(idx, CFG, warm=True, cache_blocks=True)
    current, coord = {}, {}
    kernel, acc_sum = serving._exact_topk_decoded, serving._acc.sum

    def kernel_spy(qid, decs, ws, k):
        current["qid"] = qid
        return kernel(qid, decs, ws, k)

    def sum_spy(docs, contribs):
        d, s = acc_sum(docs, contribs)
        coord.update({(current["qid"], x): y.hex() for x, y in zip(d.tolist(), s.tolist())})
        return d, s

    serving._exact_topk_decoded, serving._acc.sum = kernel_spy, sum_spy
    serving_rows = serving.search(queries, k=10).collect()
    assert coord == spark_q

    # -- ranked rows --
    from pyspark.sql import functions as F

    def key(rows):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)

    want = key(bm25.bm25_topk_naive(posts, ds, ts, queries, k=10, cfg=CFG).collect())
    assert key(serving_rows) == want
    assert key(QueryEngine(idx, CFG, warm=True).search(queries, k=10).collect()) == want
    assert key(wand.wand_topk(*args, queries, k=10, cfg=CFG).collect()) == want
    phrase_docs = spark.createDataFrame(sorted(matches), "query_id string, doc_id long")
    want_p = bm25.topk(
        bm25.score_queries(posts, ds, ts, phrases, CFG).join(phrase_docs, ["query_id", "doc_id"]),
        10,
    )
    got_p = phrase_topk(*args, phrases, k=10, cfg=CFG)
    assert key(got_p.collect()) == key(want_p.filter(F.col("rank") <= 10).collect())


def test_one_summation_order_in_the_scorers():
    """The numpy scorers sum only through ``bm25.DenseAccumulator``: no
    ``add.reduceat``, ``add.at`` or ``bincount`` call and no accumulator
    class of their own in wand, phrase or the query engine, so a second
    summation order cannot come back unnoticed."""
    root = pathlib.Path(bm25.__file__).parent
    offenders = []
    for name in ("wand.py", "phrase.py", "query_engine.py"):
        for node in ast.walk(ast.parse((root / name).read_text())):
            if isinstance(node, ast.ClassDef) and "accum" in node.name.lower():
                offenders.append(f"{name}:{node.lineno} class {node.name}")
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            attr = getattr(f, "attr", None) or getattr(f, "id", None)
            inner = getattr(getattr(f, "value", None), "attr", None)
            if attr == "bincount" or (attr in ("reduceat", "at") and inner == "add"):
                offenders.append(f"{name}:{node.lineno} {inner}.{attr}")
    assert not offenders, offenders
