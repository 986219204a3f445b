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
4. per doc-range group, a two-phase block-max evaluation of every
   query of the call inside one Arrow UDF (per-range = per-segment, so
   a hot query term never concentrates one giant group);
5. global top-k merge (``bm25.topk``: one small shuffle over per-range
   candidates).

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

Every contribution here, block upper bounds included, is
``bm25.contrib_np``, the numpy twin of the naive path's
``bm25.contrib_col``: the one home of the BM25 formula, so both paths
share idf doubles and the IEEE expression tree. Every numpy scorer
(this evaluator, ``phrase.py``, the ``QueryEngine`` coordinator path)
sums a doc's contributions in ascending term order in the order
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

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from .bm25 import analyze_queries, contrib_np, doclen_np, idf as idf_fn, topk

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

#: (query_id, rank, doc_id, score) — the schema every search path returns
SEARCH_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def empty_search_result(spark) -> DataFrame:
    """The answer of a search none of whose query terms is indexed."""
    return spark.createDataFrame([], schema=SEARCH_SCHEMA)


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


def _score_docs(codes, docs: list, contrib, targets: np.ndarray):
    """Exact (doc, score) of the ``targets`` docs over one query's
    blocks: block ``j`` holds term code ``codes[j]`` and doc ids
    ``docs[j]``, and ``contrib(j)`` gives its per-posting contributions.
    ``contrib`` runs only for blocks that hold a target, so a block with
    none never decodes its payload."""
    rows_d, rows_c, rows_t = [], [], []
    for j, d in enumerate(docs):
        mask = np.isin(d, targets)
        if mask.any():
            rows_d.append(d[mask])
            rows_c.append(contrib(j)[mask])
            rows_t.append(np.full(int(mask.sum()), codes[j], dtype=np.int32))
    if not rows_d:
        return np.empty(0, np.int64), np.empty(0)
    return _exact_scores(np.concatenate(rows_d), np.concatenate(rows_t), np.concatenate(rows_c))


def _range_topk(doc: np.ndarray, score: np.ndarray, k: int):
    """One query's top-k candidates in a range (quantized contract order)."""
    if doc.size > k:
        order = np.lexsort((doc, -np.round(score, 6)))[:k]
        doc, score = doc[order], score[order]
    return doc, score


def _result_frame(qids: list, docs: list, scores: list) -> pd.DataFrame:
    """An evaluator's RESULT_SCHEMA rows: each query's run of candidates."""
    return pd.DataFrame(
        {
            "query_id": np.repeat(np.array(qids, dtype=object), [d.size for d in docs]),
            "doc_id": np.concatenate(
                [np.empty(0, np.int64), *(d.astype(np.int64) for d in docs)]
            ),
            "score": np.concatenate([np.empty(0), *scores]),
        }
    )


def make_wand_evaluator(
    queries_w: dict[str, dict[str, float]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    quantize: bool = False,
):
    """Per-RANGE block-max evaluator for every query of the call.
    ``queries_w[qid]`` maps each query term to its weight (qtf * idf).
    The weights are driver-known and ride the closure, so a range's
    block rows cross the Arrow boundary once for all queries, with no
    qterms join, and each block's doc ids and payload are decoded at
    most once per range."""

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"]
        _, codes = np.unique(term.to_numpy(), return_inverse=True)
        docs = [codec.delta_decode(codec.varint_decode(bytes(x))) for x in pdf["docs_varint"]]
        max_tf = pdf["max_tf"].to_numpy(np.float64)
        # quantization is monotone, so q(min_dl) still lower-bounds
        # every quantized doclen in the block: the bound stays valid
        min_dl = doclen_np(pdf["min_dl"].to_numpy(), quantize)
        payloads: dict[int, tuple] = {}

        def tf_dl(i: int) -> tuple:
            if i not in payloads:
                payloads[i] = (
                    codec.varint_decode(bytes(pdf["tfs_varint"].iat[i])).astype(np.float64),
                    doclen_np(codec.varint_decode(bytes(pdf["dls_varint"].iat[i])), quantize),
                )
            return payloads[i]

        qids, out_d, out_s = [], [], []
        for qid in sorted(queries_w):
            wmap = queries_w[qid]
            rows = np.flatnonzero(term.isin(wmap).to_numpy())
            if rows.size == 0:
                continue
            w = np.array([wmap[t] for t in term.iloc[rows]])
            qdocs = [docs[i] for i in rows]

            def score(targets):
                return _score_docs(
                    codes[rows], qdocs,
                    lambda j: contrib_np(w[j], *tf_dl(rows[j]), avgdl, k1, b),
                    targets,
                )

            # ---- phase 1: per-doc upper bounds from the doc ids only ----
            # The partial score is increasing in tf and decreasing in dl,
            # so the contribution at (max_tf, min_dl) bounds every posting
            # of the block under the CURRENT avgdl — safe even when blocks
            # were built while the corpus (and its avgdl) was growing
            # (streamed micro-batches).
            sizes = [d.size for d in qdocs]
            ubs = contrib_np(w, max_tf[rows], min_dl[rows], avgdl, k1, b)
            u_doc, doc_ub = _exact_scores(  # segment-sum of the bounds
                np.concatenate(qdocs), np.repeat(codes[rows], sizes), np.repeat(ubs, sizes)
            )
            if u_doc.size > 4 * k:
                # threshold: the kth-best exact score of the 4k
                # highest-bound docs, a lower bound on the final kth-best
                _, seed = score(u_doc[np.argpartition(doc_ub, -4 * k)[-4 * k :]])
                t = float(np.partition(seed, -k)[-k]) if 0 < k <= seed.size else 0.0
                # 1e-6 margin: an excluded doc may not round-tie the kth
                # rounded score under the quantized ranking contract
                if t > 0.0:
                    u_doc = u_doc[doc_ub >= t - 1e-6]
            # ---- phase 2: exact scores of the surviving docs ----
            d, s = _range_topk(*score(u_doc), k)
            if d.size:
                qids.append(qid)
                out_d.append(d)
                out_s.append(s)
        return _result_frame(qids, out_d, out_s)

    return evaluate


def _lookup_terms(
    termdict: DataFrame, terms: list[str], term_rows: list[dict] | None
) -> list[dict]:
    """``{term, df, term_bucket}`` rows of the query terms: the caller's
    pre-looked-up ``term_rows`` (e.g. ``InvertedIndex.lookup_terms``), or
    one filtered collect of the term dictionary (driver-side, tiny)."""
    if term_rows is not None:
        return term_rows
    return [
        r.asDict()
        for r in termdict.filter(F.col("term").isin(terms))
        .select("term", "df", "term_bucket")
        .collect()
    ]


def _per_range_topk(
    blocks: DataFrame, td: list[dict], terms: list[str], cols: list[str], evaluator, k: int
) -> DataFrame:
    """Run ``evaluator`` once per doc range over the candidate blocks of
    ``terms`` (bucket and term rows in ``td``), then rank the per-range
    candidates with ``bm25.topk``."""
    from ..shipping import ensure_shipped

    ensure_shipped(blocks.sparkSession)
    bucket_of = {r["term"]: int(r["term_bucket"]) for r in td}
    buckets = sorted({bucket_of[t] for t in terms})
    cand = (
        blocks.filter(F.col("term_bucket").isin(buckets))  # partition pruning
        .filter(F.col("term").isin(terms))  # pushdown
        .select(*cols)  # prune: only the evaluator's columns cross Arrow
    )
    return topk(cand.groupBy("range_id").applyInPandas(evaluator, schema=RESULT_SCHEMA), k)


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
    n_docs, avgdl = corpus
    qrows = analyze_queries(queries)
    td = _lookup_terms(termdict, sorted({t for _, t, _ in qrows}), term_rows)
    df_map = {r["term"]: int(r["df"]) for r in td}
    queries_w: dict[str, dict[str, float]] = {}
    for qid, t, qtf in qrows:
        if t in df_map:
            queries_w.setdefault(qid, {})[t] = float(qtf) * idf_fn(n_docs, df_map[t])
    if not queries_w:
        return empty_search_result(blocks.sparkSession)
    evaluator = make_wand_evaluator(
        queries_w, k, cfg.bm25.k1, cfg.bm25.b, avgdl, quantize=cfg.bm25.quantize_doclen
    )
    return _per_range_topk(blocks, td, sorted(df_map), WAND_INPUT_COLS, evaluator, k)
