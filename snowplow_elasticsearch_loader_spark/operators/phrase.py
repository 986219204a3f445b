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
from .bm25 import contrib_np, doclen_np, idf as idf_fn
from .index_build import decode_positions
from .wand import (
    _lookup_terms,
    _per_range_topk,
    _range_topk,
    _result_frame,
    _score_docs,
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
    for all queries, with no qterms join, and each block is decoded at
    most once per range."""

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"]
        _, codes = np.unique(term.to_numpy(), return_inverse=True)
        decoded: dict[int, tuple] = {}

        def block(i: int) -> tuple:
            """(doc int64, tf float64, dl float64, positions, doc per position)"""
            if i not in decoded:
                d, tf, dl = codec.decode_block(
                    bytes(pdf["docs_varint"].iat[i]),
                    bytes(pdf["tfs_varint"].iat[i]),
                    bytes(pdf["dls_varint"].iat[i]),
                )
                pb = pdf["pos_varint"].iat[i]
                if pb is None or len(pb) == 0:
                    raise ValueError(
                        "phrase search requires a positional index "
                        "(index.store_positions was off at build time)"
                    )
                plists = decode_positions(bytes(pb), tf)
                d = d.astype(np.int64)
                decoded[i] = (
                    d,
                    tf.astype(np.float64),
                    doclen_np(dl, quantize),
                    np.concatenate(plists) if plists else np.empty(0, dtype=np.int64),
                    np.repeat(d, tf.astype(np.int64)),
                )
            return decoded[i]

        qids, out_d, out_s = [], [], []
        for qid in sorted(queries_spec):
            terms_q = queries_spec[qid]["terms"]
            rows = np.flatnonzero(term.isin(terms_q).to_numpy())
            slot_keys = []
            for i in rows:
                _, _, _, p, doc_of_pos = block(i)
                for off in terms_q[term.iat[i]][1]:
                    ok = p >= off
                    slot_keys.append(
                        ((doc_of_pos[ok] << _POS_BITS) | (p[ok] - off)).astype(np.int64)
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
                    codes[rows],
                    [block(i)[0] for i in rows],
                    lambda j: contrib_np(w[j], *block(rows[j])[1:3], avgdl, k1, b),
                    matched,
                ),
                k,
            )
            if d.size:
                qids.append(qid)
                out_d.append(d)
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
