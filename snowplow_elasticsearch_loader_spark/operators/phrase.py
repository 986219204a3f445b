"""match_phrase over positional postings (ES match_phrase analog —
query surface seeded at it/TestHelpers.scala:157-201).

Replaces r01's full-corpus normalize+contains() scan: candidate blocks
are read through the same pruned path as BM25 (term_bucket partition
pruning + term predicate pushdown), and adjacency is decided from the
positions stream inside a per-doc-range Arrow group.

Adjacency algorithm (vectorized slot intersection): a phrase of m
tokens defines m slots; slot i holding term t contributes, for every
occurrence of t at position q in doc d (with q >= i), the candidate
base position (d, q - i). A base is a phrase match iff ALL m slots
produced it; since positions are unique per (slot, doc), that is
exactly "count of (d, base) across slots == m" — one np.unique with
counts, no per-row Python.

Matched docs are then scored with the same BM25 contract as every
other path (same idf literals, ``bm25.contrib_np`` on the same
optionally quantized doclen, ascending-term accumulation, round-6
quantized ranking), so the DuckDB phrase oracle (normalized-text
containment + BM25 over phrase terms) stays the oracle unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from ..functions.analyze import tokenize_text
from .bm25 import contrib_np, idf as idf_fn
from .wand import (
    _lookup_terms,
    _per_range_topk,
    _range_topk,
    _result_frame,
    _score_docs,
    _unpack_range,
    empty_search_result,
)

#: positions fit 20 bits (limits.max_tokens_per_turn <= 100k < 2^17);
#: doc ids fit the remaining 43 bits at 10^12-turn scale
_POS_BITS = 20

PHRASE_INPUT_COLS = [
    "term",
    "range_id",
    "docs_varint",
    "tfs_varint",
    "dls_varint",
    "pos_varint",
]


def make_phrase_evaluator(
    queries_spec: dict[str, dict],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool = False,
):
    """Per-RANGE phrase evaluator for every query of the call. Query
    weights and slot offsets are driver-known and ride the closure
    (``queries_spec[qid] = {"m": n_tokens, "terms": {term: (w,
    offsets)}}``), so a range's block rows cross the Arrow boundary once
    for all queries, with no qterms join, and are decoded once for all
    queries."""

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("term", kind="stable")  # the fold's term order
        term = pdf["term"]
        pos_parts = [bytes(x) if x is not None else b"" for x in pdf["pos_varint"]]
        if not all(pos_parts):
            raise ValueError(
                "phrase search requires a positional index "
                "(index.store_positions was off at build time)"
            )
        cuts, base, doc, tf, dl, acc = _unpack_range(pdf, quantize)
        pos = codec.unpack_positions(b"".join(pos_parts), tf)
        pcuts = np.cumsum(tf)[cuts - 1]  # position offsets of the block starts
        docs, tfs, dls = (np.split(a, cuts) for a in (doc, tf.astype(np.float64), dl))
        poss, pos_docs = (np.split(a, pcuts) for a in (pos, np.repeat(doc, tf)))

        qids, out_d, out_s = [], [], []
        for qid in sorted(queries_spec):
            terms_q = queries_spec[qid]["terms"]
            rows = np.flatnonzero(term.isin(terms_q).to_numpy())
            slot_keys = []
            for i in rows:
                p = poss[i]
                for off in terms_q[term.iat[i]][1]:
                    ok = p >= off
                    slot_keys.append(
                        ((pos_docs[i][ok] << _POS_BITS) | (p[ok] - off)).astype(np.int64)
                    )
            if not slot_keys:
                continue
            uniq, counts = np.unique(np.concatenate(slot_keys), return_counts=True)
            matched = np.unique(uniq[counts == queries_spec[qid]["m"]] >> _POS_BITS)
            if matched.size == 0:
                continue
            # exact BM25 over the phrase's terms, matched docs only —
            # the same contribution and accumulation order as wand
            w = [terms_q[t][0] for t in term.iloc[rows]]
            d, s = _range_topk(
                *_score_docs(
                    acc,
                    [docs[i] for i in rows],
                    lambda j: contrib_np(w[j], tfs[rows[j]], dls[rows[j]], avgdl, k1, b),
                    matched,
                ),
                k,
            )
            if d.size:
                qids.append(qid)
                out_d.append(d + base)
                out_s.append(s)
        return _result_frame(qids, out_d, out_s)

    return evaluate


def phrase_topk(
    blocks: DataFrame,
    termdict: DataFrame,
    corpus: tuple[int, float],
    queries: list[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    term_rows: list[dict] | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score): docs containing the analyzed
    phrase contiguously, ranked by BM25 over the phrase's terms.

    ``term_rows`` — pre-looked-up ``{term, df, term_bucket}`` dicts
    (``InvertedIndex.lookup_terms``): skips the per-call termdict
    filter+collect Spark job."""
    n_docs, avgdl = corpus
    analyzed = {qid: tokenize_text(qtext) for qid, qtext in queries}
    td = _lookup_terms(termdict, sorted({t for toks in analyzed.values() for t in toks}), term_rows)
    df_map = {r["term"]: int(r["df"]) for r in td}
    queries_spec: dict[str, dict] = {}
    live_terms: set[str] = set()
    for qid, toks in analyzed.items():
        if not toks or any(t not in df_map for t in toks):
            continue  # a missing term can never match the full phrase
        offs: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            offs.setdefault(t, []).append(i)
        queries_spec[qid] = {
            "m": len(toks),
            "terms": {t: (float(len(o)) * idf_fn(n_docs, df_map[t]), o) for t, o in offs.items()},
        }
        live_terms.update(offs)
    if not queries_spec:
        return empty_search_result(blocks.sparkSession)
    evaluator = make_phrase_evaluator(
        queries_spec, k, cfg.bm25.k1, cfg.bm25.b, avgdl, quantize=cfg.bm25.quantize_doclen
    )
    return _per_range_topk(blocks, td, sorted(live_terms), PHRASE_INPUT_COLS, evaluator, k)
