"""BM25 top-k retrieval — the relational ("naive") path (SURVEY E7/E8).

The reference's only query surface is ES ``_search``
(it/TestHelpers.scala:157-201); scoring is delegated to Lucene's
BM25Similarity. We own it: the public Lucene formula with k1=1.2,
b=0.75 (BASELINE.json):

    idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q,d) = sum_t qtf_t * idf(t) * tf_td*(k1+1) / (tf_td + k1*(1 - b + b*dl_d/avgdl))

Determinism contract (SURVEY §7-hard #1/#5), shared by this path, the
block-max WAND fast path, and the numpy oracle:

- idf/avgdl are computed ONCE driver-side in float64 and injected as
  literals, so JVM and numpy paths consume bit-identical constants;
- one contribution formula, ``w * (tf*(k1+1)) / (tf + k1*((1-b) +
  b*dl/avgdl))``, with one home: ``contrib_col`` (Spark Column) and its
  numpy twin ``contrib_np``, which share the IEEE expression tree and so
  agree bit for bit. Every engine path calls one of them; only the
  DuckDB reference SQL restates it;
- per-doc accumulation sums contributions in ascending-term order via
  ``F.aggregate`` over a sorted array — bit-exact at any parallelism;
- ranking quantizes scores to 1e-6 (ties then break on doc_id asc),
  the same contract the DuckDB oracle implements.

Plan shape: query terms are a tiny literal table -> ``F.broadcast``
joined against postings (map-side, no shuffle of the big side), then a
doc_id join against docstats (AQE-handled), one hash aggregation per
(query_id, doc_id), and a per-query window top-k.
"""

from __future__ import annotations

import math
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.analyze import tokenize_text

QTERMS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("w", T.DoubleType()),  # qtf * idf, float64, driver-computed
    ]
)


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def quantize_doclen_col(col_name: str = "doclen"):
    """SmallFloat-style 4-bit-mantissa doclen quantization, JVM-side:
    dl >> s << s with s = max(bit_width - 4, 0). bit width via
    length(bin(dl)) — integer-exact, unlike floor(log2(...)). SQL-expr
    form because the pyspark shiftright wrapper only takes literal
    shift amounts."""
    s = f"greatest(length(bin({col_name})) - 4, 0)"
    return F.expr(f"shiftleft(shiftright({col_name}, {s}), {s})")


def quantize_doclen_np(dl):
    """numpy twin of quantize_doclen_col (used in the WAND evaluator).
    bit width via frexp's exact exponent."""
    import numpy as np

    dli = dl.astype(np.int64)
    _, exp = np.frexp(dli)
    s = np.maximum(exp - 4, 0)
    return ((dli >> s) << s).astype(np.float64)


def doclen_np(dl, quantize: bool):
    """float64 doclens as every numpy scorer uses them: quantized when
    ``quantize`` (the config's ``bm25.quantize_doclen``) is set."""
    return quantize_doclen_np(dl) if quantize else dl.astype("float64")


def contrib_col(w: Column, tf: Column, dl: Column, avgdl: float, cfg: EngineConfig) -> Column:
    """One posting's BM25 contribution as a Spark Column: query weight
    ``w`` (qtf * idf), term frequency ``tf`` and doclen ``dl`` (already
    quantized if the config asks for it). The twin of ``contrib_np``."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    tf = tf.cast("double")
    return (
        w
        * (tf * F.lit(k1 + 1.0))
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / F.lit(avgdl)))
    )


def contrib_np(w, tf, dl, avgdl: float, k1: float, b: float):
    """numpy twin of ``contrib_col`` on float64 arrays (or scalars),
    with the same expression tree, so both give the same bits."""
    return w * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))


def analyze_queries(queries: Iterable[tuple[str, str]]) -> list[tuple[str, str, int]]:
    """(query_id, term, qtf) rows. Duplicate query terms keep Lucene
    semantics: the clause repeats, so its weight multiplies by qtf."""
    out: list[tuple[str, str, int]] = []
    for qid, qtext in queries:
        counts: dict[str, int] = {}
        for t in tokenize_text(qtext):
            counts[t] = counts.get(t, 0) + 1
        out.extend((qid, t, c) for t, c in sorted(counts.items()))
    return out


def query_term_weights(
    spark: SparkSession,
    queries: Sequence[tuple[str, str]],
    term_df: Mapping[str, int],
    n_docs: int,
) -> DataFrame:
    """Literal (query_id, term, w) table; terms absent from the corpus
    are dropped (they contribute 0 to every doc, like ES)."""
    from ..functions.localdf import literal_df

    rows = [
        (qid, term, float(qtf) * idf(n_docs, term_df[term]))
        for qid, term, qtf in analyze_queries(queries)
        if term in term_df
    ]
    # literal plan, NOT createDataFrame: the pickled-RDD scan the
    # latter produces forks python workers on every re-evaluation of
    # the broadcast side (localdf.py has the measurement)
    return literal_df(spark, rows, QTERMS_SCHEMA)


def collect_query_term_stats(
    term_stats: DataFrame, queries: Sequence[tuple[str, str]]
) -> dict[str, int]:
    terms = sorted({t for _, t, _ in analyze_queries(queries)})
    rows = term_stats.filter(F.col("term").isin(terms)).collect()
    return {r["term"]: r["df"] for r in rows}


def score_candidates(
    postings: DataFrame,
    docstats: DataFrame,
    qterms: DataFrame,
    avgdl: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(query_id, doc_id, score) with order-fixed float64 accumulation."""
    cand = postings.join(F.broadcast(qterms), "term").join(docstats, "doc_id")
    return _sum_in_term_order(cand, avgdl, cfg)


def _sum_in_term_order(cand: DataFrame, avgdl: float, cfg: EngineConfig) -> DataFrame:
    """(query_id, doc_id, score) from (query_id, doc_id, term, w, tf,
    doclen) candidate rows: contributions sorted by term, folded left."""
    dl = quantize_doclen_col("doclen") if cfg.bm25.quantize_doclen else F.col("doclen")
    contrib = contrib_col(F.col("w"), F.col("tf"), dl, avgdl, cfg)
    scored = cand.select("query_id", "doc_id", F.col("term"), contrib.alias("contrib"))
    return (
        scored.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                "cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]
            ).alias("score"),
        )
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k under the quantized-score contract."""
    score_r = F.round(F.col("score"), 6).alias("score")
    ranked = scored.select("query_id", "doc_id", score_r).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select("query_id", "rank", "doc_id", "score")


def bm25_topk_naive(
    postings: DataFrame,
    docstats: DataFrame,
    term_stats: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    corpus: tuple[int, float] | None = None,
) -> DataFrame:
    """End-to-end naive path. ``corpus`` = (n_docs, avgdl) if already
    known (avoids one job); otherwise computed from docstats."""
    spark = postings.sparkSession
    if corpus is None:
        row = docstats.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
        ).collect()[0]
        n_docs, avgdl = int(row["n"]), float(row["s"]) / float(row["n"])
    else:
        n_docs, avgdl = corpus
    tdf = collect_query_term_stats(term_stats, queries)
    qterms = query_term_weights(spark, queries, tdf, n_docs)
    # only query terms can contribute: filtering BEFORE score_candidates
    # lets Catalyst push the term predicate below the postings groupBy,
    # so the full-vocabulary aggregation (and its corpus-sized shuffle)
    # never happens — non-query terms are dropped right after the
    # explode. Results are identical by construction.
    qterm_list = sorted({t for _, t, _ in analyze_queries(queries)})
    posts_q = postings.filter(F.col("term").isin(qterm_list))
    scored = score_candidates(posts_q, docstats, qterms, avgdl, cfg)
    return topk(scored, k)


def bm25_topk_fused(
    docs: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Single-pass naive BM25: rank-identical to ``bm25_topk_naive`` over
    ``build_postings(docs)``/``doc_stats(docs)``/``term_stats``, in TWO
    corpus passes instead of four.

    - setup: ONE job computes (n_docs, sum doclen) and every query
      term's df as conditional aggregates over the tokenized scan — the
      naive path ran two jobs (corpus agg + filtered term_stats), each
      re-tokenizing the corpus;
    - scoring: per-doc (term, tf) entries are computed INSIDE the row
      (array_intersect + per-term count over the token array), so the
      postings groupBy shuffle AND the docstats join disappear — doclen
      rides along on the same row. tf values are identical to the
      groupBy count by construction, and the contribution + ordered
      accumulation are score_candidates' own (``_sum_in_term_order``).

    The idf/avgdl literals, the contribution expression tree, and the
    sorted-fold accumulation are byte-identical to the naive path, so
    scores (and the k results) hash-match the existing oracle.
    """
    from .postings import tokenized

    spark = docs.sparkSession
    qrows = analyze_queries(queries)
    qterm_list = sorted({t for _, t, _ in qrows})
    tok = tokenized(docs, id_col, text_col)
    qt_arr = F.array(*[F.lit(t) for t in qterm_list])
    # ---- setup: one corpus pass for n_docs/avgdl + per-term df ----
    row = tok.select(
        "doclen", F.array_intersect("tokens", qt_arr).alias("qts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doclen").alias("s"),
        *[
            F.sum(F.array_contains("qts", t).cast("long")).alias(f"_df{i}")
            for i, t in enumerate(qterm_list)
        ],
    ).collect()[0]
    n_docs = int(row["n"])
    avgdl = float(row["s"]) / float(n_docs)
    tdf = {
        t: int(row[f"_df{i}"])
        for i, t in enumerate(qterm_list)
        if int(row[f"_df{i}"]) > 0
    }
    qterms = query_term_weights(spark, queries, tdf, n_docs)
    # ---- scoring: one corpus pass, no postings shuffle, no doc join ----
    entries = F.transform(
        F.array_intersect("tokens", qt_arr),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(F.col("tokens"), lambda x: x == t))
            .cast("int")
            .alias("tf"),
        ),
    )
    cand = (
        tok.select("doc_id", "doclen", F.explode(entries).alias("e"))
        .select("doc_id", "doclen", F.col("e.term").alias("term"), F.col("e.tf").alias("tf"))
        .join(F.broadcast(qterms), "term")
    )
    return topk(_sum_in_term_order(cand, avgdl, cfg), k)
