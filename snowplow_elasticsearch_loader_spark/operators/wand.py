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
Python): compute every doc's score upper bound from per-block
avgdl-independent stats (``max_tf``, ``min_dl`` — the bound is
evaluated with the query-time avgdl, so streamed/merged blocks never
carry a stale bound) summed per doc by the range's accumulator,
establish a threshold from exactly-scored highest-bound docs, and only
then score the docs that can still make top-k. Safety argument: a doc with
``ub < t`` satisfies ``score <= ub < t <= kth_best``, so exclusion can
never change the top-k set or its ranking.

Every contribution here, block upper bounds included, is
``bm25.contrib_np``, the numpy twin of the naive path's
``bm25.contrib_col``: the one home of the BM25 formula, so both paths
share idf doubles and the IEEE expression tree. Every sum, block
upper bounds included, runs through one ``bm25.DenseAccumulator`` per
range, indexed by the doc id minus the range's smallest, over the
blocks in ascending term order: the naive path's fold, bit for bit.
Bounds and exact scores fold in the same order and IEEE addition is
monotone, so each doc's bound is >= its exact score, bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from .bm25 import DenseAccumulator, analyze_queries, contrib_np, doclen_np, idf as idf_fn, topk

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


def _score_docs(acc: DenseAccumulator, docs: list, contrib, targets: np.ndarray):
    """Exact (doc, score) of the ``targets`` docs over one query's
    blocks in ascending term order: block ``j`` holds doc ids
    ``docs[j]``, and ``contrib(j)`` gives its per-posting contributions.
    ``contrib`` runs only for blocks that hold a target."""
    rows_d, rows_c = [], []
    for j, d in enumerate(docs):
        mask = np.isin(d, targets)
        if mask.any():
            rows_d.append(d[mask])
            rows_c.append(contrib(j)[mask])
    return acc.sum(rows_d, rows_c)


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


def _unpack_range(pdf: pd.DataFrame, quantize: bool) -> tuple:
    """A range's block rows, decoded in one ``codec.unpack_blocks``:
    (cuts, base, doc int64, tf int64, dl float64-quantized, acc). The
    arrays are flat over the range and ``cuts`` are the offsets where
    blocks 1.. start. ``doc`` counts from the range's smallest doc id
    ``base``, so the range's ``DenseAccumulator`` ``acc`` is at most
    one range wide."""
    cnt = codec.block_sizes(pdf["docs_varint"])
    doc, tf, dl = codec.unpack_blocks(
        cnt, pdf["docs_varint"], pdf["tfs_varint"], pdf["dls_varint"]
    )
    base = int(doc.min())
    doc = doc - base
    acc = DenseAccumulator(int(doc.max()) + 1)
    return np.cumsum(cnt)[:-1], base, doc, tf, doclen_np(dl, quantize), acc


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
    qterms join, and are decoded once for all queries."""

    def evaluate(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("term", kind="stable")  # the fold's term order
        term = pdf["term"]
        cuts, base, doc, tf, dl, acc = _unpack_range(pdf, quantize)
        docs, tfs, dls = (np.split(a, cuts) for a in (doc, tf.astype(np.float64), dl))
        max_tf = pdf["max_tf"].to_numpy(np.float64)
        # quantization is monotone, so q(min_dl) still lower-bounds
        # every quantized doclen in the block: the bound stays valid
        min_dl = doclen_np(pdf["min_dl"].to_numpy(), quantize)

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
                    acc, qdocs,
                    lambda j: contrib_np(w[j], tfs[rows[j]], dls[rows[j]], avgdl, k1, b),
                    targets,
                )

            # ---- phase 1: per-doc upper bounds from the doc ids only ----
            # The partial score is increasing in tf and decreasing in dl,
            # so the contribution at (max_tf, min_dl) bounds every posting
            # of the block under the CURRENT avgdl — safe even when blocks
            # were built while the corpus (and its avgdl) was growing
            # (streamed micro-batches).
            ubs = contrib_np(w, max_tf[rows], min_dl[rows], avgdl, k1, b)
            u_doc, doc_ub = acc.sum(qdocs, [np.full(d.size, u) for d, u in zip(qdocs, ubs)])
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
                out_d.append(d + base)
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
