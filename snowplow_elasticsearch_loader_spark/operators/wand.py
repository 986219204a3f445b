"""BM25 fast path: vectorized block-max pruning over compressed posting
blocks (SURVEY M3, north_star "top-k BM25 via block-max WAND").

Query lifecycle (the engine-side answer to the reference's only query
surface, ES ``_search`` — it/TestHelpers.scala:157-201):

1. analyze query text with the SAME tokenizer as indexing (E1);
2. look up query terms in the term dictionary (driver-side, tiny) and
   compute idf weights ONCE in float64 — shared bit-for-bit with the
   naive relational path;
3. scan only the candidate blocks: ``term_bucket`` partition pruning +
   ``term`` predicate pushdown into the parquet/Iceberg scan;
4. per (query, doc-range) group, a two-phase block-max evaluation
   inside one Arrow UDF (per-range = per-segment, so a hot query term
   never concentrates one giant group);
5. global top-k merge (one small shuffle over per-range candidates).

The pruning phase is the block-max idea vectorized for numpy instead
of the classic pointer-walking WAND loop (which would be per-row
Python): decode *doc ids only* (cheap varint), compute every doc's
score upper bound from per-block avgdl-independent stats
(``max_tf``, ``min_dl`` — the bound is evaluated with the query-time
avgdl, so streamed/merged blocks never carry a stale bound) with a
segment reduce, establish a threshold from exactly-scored
highest-bound docs, and only then decode tf/doclen payloads for docs
that can still make top-k. Safety argument: a doc with
``ub < t`` satisfies ``score <= ub < t <= kth_best``, so exclusion can
never change the top-k set or its ranking.

Scores share idf doubles and the IEEE expression tree of each
contribution with the naive relational path, and every numpy scorer
here (this evaluator, ``phrase.py``, the ``QueryEngine`` coordinator
path) sums a doc's contributions in ascending term order in the order
``_exact_scores`` pins. That order is not the naive path's: its
``F.aggregate`` folds left from 0.0 over the term-sorted contributions,
while numpy adds the first contribution to a sequential sum of the
rest and turns pairwise past 8 contributions. The two can differ in
the last bits, so after rounding to 6 places they agree unless a score
sits on a rounding boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from .bm25 import analyze_queries, idf as idf_fn

#: block columns the BM25 evaluator needs (column pruning contract —
#: positional payloads and block metadata never cross the Arrow boundary)
WAND_INPUT_COLS = [
    "term",
    "range_id",
    "max_tf",
    "min_dl",
    "docs_varint",
    "tfs_varint",
    "dls_varint",
]

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _empty_result() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series(dtype=object),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        }
    )


def _exact_scores(
    doc: np.ndarray, term_code: np.ndarray, contrib: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sum contributions per doc in (doc, ascending term) order —
    the shared accumulation contract.

    ``np.add.reduceat`` fixes the order within a doc: for contributions
    ``c0..cn`` it computes ``c0 + (((0.0 + c1) + c2) + ... + cn)`` when
    there are at most 8 of them, and ``c0 + pairwise(c1..cn)`` (numpy's
    8-way unrolled pairwise sum) beyond that.
    ``tests/test_dense_scoring.py`` pins both cases, and the
    ``QueryEngine`` dense accumulator reproduces the first."""
    order = np.lexsort((term_code, doc))
    d, c = doc[order], contrib[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    return d[starts], np.add.reduceat(c, starts)


def make_wand_evaluator(k: int, k1: float, b: float, avgdl: float, quantize: bool = False):
    from .bm25 import quantize_doclen_np

    def _dl(v: np.ndarray) -> np.ndarray:
        return quantize_doclen_np(v) if quantize else v.astype(np.float64)

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        query_id = key[0]
        if len(pdf) == 0:
            return _empty_result()
        terms, t_codes = np.unique(pdf["term"].to_numpy(), return_inverse=True)
        w_by_code = np.zeros(terms.size)
        w_by_code[t_codes] = pdf["w"].to_numpy()

        # ---- phase 1: doc-id-only decode + per-doc upper bounds ----
        # Upper bound per block from avgdl-INDEPENDENT stats: the partial
        # score (tf*(k1+1))/(tf + k1*((1-b)+b*dl/avgdl)) is increasing in
        # tf and decreasing in dl, so partial(max_tf, min_dl) bounds every
        # posting in the block under the CURRENT avgdl — safe even when
        # blocks were built while the corpus (and its avgdl) was growing
        # (streamed micro-batches). Exactly one (k1+1) factor.
        mtf = pdf["max_tf"].to_numpy(np.float64)
        # quantization is monotone, so q(min_dl) still lower-bounds
        # every quantized doclen in the block: the bound stays valid
        mdl = _dl(pdf["min_dl"].to_numpy())
        ubs = pdf["w"].to_numpy() * (mtf * (k1 + 1.0)) / (
            mtf + k1 * ((1.0 - b) + b * mdl / avgdl)
        )
        blk_docs: list[np.ndarray] = []
        blk_code: list[np.ndarray] = []
        blk_ub: list[np.ndarray] = []
        for i in range(len(pdf)):
            d = codec.delta_decode(codec.varint_decode(bytes(pdf["docs_varint"].iat[i])))
            blk_docs.append(d)
            blk_code.append(np.full(d.size, t_codes[i], dtype=np.int32))
            blk_ub.append(np.full(d.size, ubs[i]))
        doc = np.concatenate(blk_docs)
        code = np.concatenate(blk_code)
        ub = np.concatenate(blk_ub)
        u_doc, doc_ub = _exact_scores(doc, code, ub)  # reuse: segment-sum of ubs

        if u_doc.size > 4 * k:
            # threshold from the 4k highest-bound docs, exactly scored
            top_idx = np.argpartition(doc_ub, -4 * k)[-4 * k :]
            survivors_seed = u_doc[top_idx]
            t = _threshold(
                pdf, blk_docs, t_codes, w_by_code, survivors_seed, k, k1, b, avgdl, _dl
            )
            # 1e-6 margin: an excluded doc may not round-tie the kth
            # rounded score under the quantized ranking contract
            keep_docs = u_doc[doc_ub >= t - 1e-6] if t > 0.0 else u_doc
        else:
            keep_docs = u_doc

        # ---- phase 2: full decode + exact scores for surviving docs ----
        keep_set = keep_docs
        rows_d: list[np.ndarray] = []
        rows_c: list[np.ndarray] = []
        rows_t: list[np.ndarray] = []
        for i in range(len(pdf)):
            d = blk_docs[i]
            # block-level skip: no surviving doc inside -> never decode tf/dl
            mask = np.isin(d, keep_set, assume_unique=False)
            if not mask.any():
                continue
            tf = codec.varint_decode(bytes(pdf["tfs_varint"].iat[i])).astype(np.float64)
            dl = _dl(codec.varint_decode(bytes(pdf["dls_varint"].iat[i])))
            contrib = (
                w_by_code[t_codes[i]]
                * (tf * (k1 + 1.0))
                / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
            )
            rows_d.append(d[mask])
            rows_c.append(contrib[mask])
            rows_t.append(np.full(int(mask.sum()), t_codes[i], dtype=np.int32))
        if not rows_d:
            return _empty_result()
        s_doc, s_score = _exact_scores(
            np.concatenate(rows_d), np.concatenate(rows_t), np.concatenate(rows_c)
        )
        if s_doc.size > k:
            # per-range top-k candidates (quantized contract order)
            key_score = np.round(s_score, 6)
            order = np.lexsort((s_doc, -key_score))[:k]
            s_doc, s_score = s_doc[order], s_score[order]
        return pd.DataFrame(
            {
                "query_id": np.repeat(query_id, s_doc.size),
                "doc_id": s_doc.astype(np.int64),
                "score": s_score,
            }
        )

    return evaluate


def _threshold(pdf, blk_docs, t_codes, w_by_code, seed_docs, k, k1, b, avgdl, _dl) -> float:
    """Exactly score the seed docs; return their kth-best score (a lower
    bound on the final kth-best)."""
    rows_d, rows_c, rows_t = [], [], []
    for i in range(len(pdf)):
        d = blk_docs[i]
        mask = np.isin(d, seed_docs)
        if not mask.any():
            continue
        tf = codec.varint_decode(bytes(pdf["tfs_varint"].iat[i])).astype(np.float64)
        dl = _dl(codec.varint_decode(bytes(pdf["dls_varint"].iat[i])))
        contrib = (
            w_by_code[t_codes[i]]
            * (tf * (k1 + 1.0))
            / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        )
        rows_d.append(d[mask])
        rows_c.append(contrib[mask])
        rows_t.append(np.full(int(mask.sum()), t_codes[i], dtype=np.int32))
    if not rows_d:
        return 0.0
    _, scores = _exact_scores(
        np.concatenate(rows_d), np.concatenate(rows_t), np.concatenate(rows_c)
    )
    if scores.size < k:
        return 0.0
    return float(np.partition(scores, -k)[-k])


def make_wand_range_evaluator(
    queries_w: dict[str, dict[str, float]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool = False,
):
    """Per-RANGE evaluator: runs the per-query block-max evaluation for
    every query in one group call. Query weights are driver-known and
    ride the closure, so the block rows are scanned ONCE per range —
    no per-query row duplication through a qterms join, and |ranges|
    groups instead of |queries| x |ranges| (r6; the Arrow round-trip
    per group set the stage's floor). Scores are produced by the SAME
    per-query evaluator, so they stay bit-identical."""
    inner = make_wand_evaluator(k, k1, b, avgdl, quantize=quantize)

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for qid in sorted(queries_w):
            wmap = queries_w[qid]
            sub = pdf[pdf["term"].isin(wmap)]
            if len(sub) == 0:
                continue
            sub = sub.copy()
            sub["w"] = sub["term"].map(wmap)
            frames.append(inner((qid,), sub))
        if not frames:
            return _empty_result()
        return pd.concat(frames, ignore_index=True)

    return evaluate


def wand_topk(
    blocks: DataFrame,
    termdict: DataFrame,
    corpus: tuple[int, float],
    queries: list[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    term_rows: list[dict] | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score) — rank-identical to bm25_topk_naive.

    ``term_rows`` — pre-looked-up ``{term, df, term_bucket}`` dicts for
    the query terms (e.g. ``InvertedIndex.lookup_terms``): skips the
    per-call Spark filter+collect job over the term dictionary."""
    from ..shipping import ensure_shipped

    spark = blocks.sparkSession
    ensure_shipped(spark)
    n_docs, avgdl = corpus
    qrows = analyze_queries(queries)
    terms = sorted({t for _, t, _ in qrows})
    # driver-side term lookup (tiny): df + bucket per query term
    td = (
        term_rows
        if term_rows is not None
        else [
            r.asDict()
            for r in termdict.filter(F.col("term").isin(terms))
            .select("term", "df", "term_bucket")
            .collect()
        ]
    )
    df_map = {r["term"]: int(r["df"]) for r in td}
    buckets = sorted({int(r["term_bucket"]) for r in td})
    qterm_rows = [
        (qid, t, float(qtf) * idf_fn(n_docs, df_map[t]))
        for qid, t, qtf in qrows
        if t in df_map
    ]
    if not qterm_rows:
        empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
        return empty.select(
            "query_id", F.lit(1).alias("rank"), "doc_id", "score"
        ).limit(0)
    queries_w: dict[str, dict[str, float]] = {}
    for qid, t, w in qterm_rows:
        queries_w.setdefault(qid, {})[t] = w
    cand = (
        blocks.filter(F.col("term_bucket").isin(buckets))  # partition pruning
        .filter(F.col("term").isin([t for t in terms if t in df_map]))  # pushdown
        .select(*WAND_INPUT_COLS)  # prune: no positions/metadata bytes cross Arrow
    )
    per_range = cand.groupBy("range_id").applyInPandas(
        make_wand_range_evaluator(
            queries_w, k, cfg.bm25.k1, cfg.bm25.b, avgdl,
            quantize=cfg.bm25.quantize_doclen,
        ),
        schema=RESULT_SCHEMA,
    )
    ranked = per_range.select(
        "query_id", "doc_id", F.round(F.col("score"), 6).alias("score")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select("query_id", "rank", "doc_id", "score")
