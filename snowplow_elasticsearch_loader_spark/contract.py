"""Driver-contract query registry.

Every implemented operator from SURVEY.md §2 appears here twice: a
PySpark callable ``(spark, sf_dir) -> DataFrame`` and (when
SQL-expressible) an equivalent DuckDB SQL string. Column names/types
are aligned pairwise; floats are quantized with round(...,6) on BOTH
sides so the driver's order-insensitive value-hash is stable.

``__spark_entry__.py`` re-exports these as queries()/oracle_sql().
"""

from __future__ import annotations

import json
import re
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import DEFAULT_CONFIG
from .functions.analyze import duckdb_tokens_expr, tokenize_text
from .functions.localdf import literal_df
from .operators import bm25, postings as P
from .queryset import DEFAULT_K, REFERENCE_QUERIES, queries_sql_values
from .sources import load_table

CFG = DEFAULT_CONFIG

# ---------------------------------------------------------------------------
# helpers

def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# shared DuckDB CTE fragments (tokenizer contract identical to Spark's)
_DUCK_TOKS = f"""
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term
  FROM documents
)"""
_DUCK_POSTINGS = """
postings AS (
  SELECT term, doc_id, CAST(count(*) AS INT) AS tf FROM toks GROUP BY term, doc_id
)"""
_DUCK_DSTATS = f"""
dstats AS (
  SELECT doc_id, CAST(len({duckdb_tokens_expr('text')}) AS INT) AS doclen FROM documents
)"""


# ---------------------------------------------------------------------------
# inverted-index logical layer (SURVEY E1/E2/E8 prerequisites)

def q_postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize -> posexplode -> tf (SURVEY §2.C 'posting explode')."""
    return P.build_postings(_docs(spark, sf_dir))


SQL_POSTINGS_TF = f"WITH {_DUCK_TOKS}, {_DUCK_POSTINGS} SELECT term, doc_id, tf FROM postings"


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.doc_stats(_docs(spark, sf_dir))


SQL_DOC_STATS = f"WITH {_DUCK_DSTATS} SELECT doc_id, doclen FROM dstats"


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.term_stats(P.build_postings(_docs(spark, sf_dir)))


SQL_TERM_STATS = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}
SELECT term, count(*) AS df FROM postings GROUP BY term
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = P.doc_stats(_docs(spark, sf_dir))
    return ds.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doclen"), 6).alias("avgdl"),
    )


SQL_CORPUS_STATS = f"""
WITH {_DUCK_DSTATS}
SELECT count(*) AS n_docs, round(CAST(sum(doclen) AS DOUBLE)/count(*), 6) AS avgdl FROM dstats
"""


# ---------------------------------------------------------------------------
# BM25 top-k, naive relational path (SURVEY E7/E8)

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused single-pass plan (r6): 2 corpus passes / 1 setup job instead
    # of 4 passes / 2 jobs; rank-identical to the relational naive path
    return bm25.bm25_topk_fused(
        _docs(spark, sf_dir), REFERENCE_QUERIES, k=DEFAULT_K, cfg=CFG
    )


def _sql_bm25_scored_cte(
    quantize: bool = False,
    doc_filter: str | None = None,
    qterms_cte: str | None = None,
    exclude_terms: list[str] | None = None,
) -> str:
    """The shared ``WITH ... scored AS (query_id, doc_id, score)`` CTE
    prefix of every ranking oracle (top-k, pagination, collapsing).
    ``qterms_cte`` overrides how the (query_id, term, qtf) table is
    derived (default: tokenize the reference query set) — used by
    multi-term rewrites like the fuzzy query's expansion.
    ``exclude_terms`` drops every doc CONTAINING any of these terms
    from the candidate set (ES ``bool.must_not`` semantics: exclusion
    restricts candidates only; df/avgdl stay index-wide)."""
    k1, b = CFG.bm25.k1, CFG.bm25.b
    # SmallFloat-style 4-bit-mantissa doclen quantization — identical
    # integer shifts to the engine (bm25.quantize_doclen_col)
    dl = (
        "((d.doclen >> greatest(length(bin(d.doclen)) - 4, 0))"
        " << greatest(length(bin(d.doclen)) - 4, 0))"
        if quantize
        else "d.doclen"
    )
    clauses = []
    if doc_filter:
        clauses.append(f"p.doc_id IN (SELECT doc_id FROM documents WHERE {doc_filter})")
    if exclude_terms:
        terms = ", ".join("'{}'".format(t.replace("'", "''")) for t in exclude_terms)
        clauses.append(
            f"p.doc_id NOT IN (SELECT doc_id FROM postings WHERE term IN ({terms}))"
        )
    flt = ("WHERE " + " AND ".join(clauses)) if clauses else ""
    if qterms_cte is None:
        qterms_cte = f"""qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term)"""
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
{qterms_cte},
contribs AS (
  SELECT q.query_id, p.doc_id, p.term,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*{dl}/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  {flt}
),
scored AS (
  SELECT query_id, doc_id, round(sum(contrib), 6) AS score
  FROM contribs GROUP BY query_id, doc_id
)"""


def _sql_bm25(
    k: int = DEFAULT_K,
    quantize: bool = False,
    doc_filter: str | None = None,
    exclude_terms: list[str] | None = None,
) -> str:
    return f"""
{_sql_bm25_scored_cte(quantize=quantize, doc_filter=doc_filter, exclude_terms=exclude_terms)},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_BM25_TOPK = _sql_bm25()
SQL_BM25_TOPK_QUANTIZED = _sql_bm25(quantize=True)

#: structured-filter predicate for the filtered-relevance query (half
#: the synthetic sources — a selective but non-trivial filter)
_FILTER_SOURCES = [f"src{i}" for i in range(10)]
_FILTER_SQL = "source IN (" + ", ".join(f"'{x}'" for x in _FILTER_SOURCES) + ")"
SQL_BM25_FILTERED_TOPK = _sql_bm25(doc_filter=_FILTER_SQL)

#: bool.must_not exclusion terms: one rare ('dup', also a must term of
#: q-0008 — the scored-term-is-excluded edge case) + one common ('slow')
_MUSTNOT_TERMS = ["dup", "slow"]
SQL_BM25_NOT_TOPK = _sql_bm25(exclude_terms=_MUSTNOT_TERMS)


def q_bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool query parity: full-text relevance + a structured FILTER
    clause (the delegated surface users combine constantly:
    ``{"bool": {"must": {"match": ...}, "filter": {"terms": ...}}}``).
    ES semantics preserved exactly: the filter restricts CANDIDATES
    only, while scoring uses INDEX-WIDE statistics (N, avgdl, df) — a
    filter-context clause never changes relevance weights. The filter
    id-set joins the postings as a broadcast semi-join here; at scale
    the same predicate pushes into the doc-store scan (partition/zone
    pruning) before postings are even built."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    allowed = docs.filter(F.col("source").isin(_FILTER_SOURCES)).select("doc_id")
    posts_f = posts.join(F.broadcast(allowed), "doc_id", "left_semi")
    return bm25.bm25_topk_naive(
        posts_f, ds, ts, REFERENCE_QUERIES, k=DEFAULT_K, cfg=CFG,
    )


def q_bm25_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bool.must_not`` parity: relevance-scored top-k where every
    doc containing ANY exclusion term is dropped from the candidate
    set. ES semantics preserved exactly: must_not runs in filter
    context — it restricts candidates, never relevance weights (df,
    avgdl, N stay index-wide). The exclusion doc-id set is an anti-join
    against the postings of the excluded terms; no broadcast hint — a
    must_not on a hot term yields a huge id set, and AQE picks the
    right (shuffled vs broadcast) anti-join per actual size."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    excl = (
        posts.filter(F.col("term").isin(_MUSTNOT_TERMS)).select("doc_id").distinct()
    )
    posts_f = posts.join(excl, "doc_id", "left_anti")
    return bm25.bm25_topk_naive(posts_f, ds, ts, REFERENCE_QUERIES, k=DEFAULT_K, cfg=CFG)


def q_search_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fetch phase parity (``hits.hits._source``,
    it/TestHelpers.scala:157-201): the query phase returns ranked doc
    ids; the fetch phase joins them back to the stored document. The
    k*|queries| hit set is broadcast against the doc store — the only
    sane join direction at corpus scale."""
    hits = q_bm25_topk(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source")
    return docs.join(F.broadcast(hits), "doc_id").select(
        "query_id", "rank", "doc_id", "score", "text", "lang", "source"
    )


SQL_SEARCH_FETCH = f"""
SELECT r.query_id, r.rank, r.doc_id, r.score, d.text, d.lang, d.source
FROM ({_sql_bm25()}) r JOIN documents d ON r.doc_id = d.doc_id
"""


def q_bm25_topk_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-pagination parity (ES ``from``/``search_after``): ranks
    11..20 of the same ranking. Same total order (score desc, doc_id
    asc tiebreak — the stable sort key search_after requires), offset
    applied after ranking."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    full = bm25.bm25_topk_naive(posts, ds, ts, REFERENCE_QUERIES, k=2 * DEFAULT_K, cfg=CFG)
    return full.filter(F.col("rank") > DEFAULT_K)


SQL_BM25_TOPK_PAGE2 = (
    "SELECT * FROM (" + _sql_bm25(k=2 * DEFAULT_K) + f") WHERE rank > {DEFAULT_K}"
)


def q_bm25_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``search_after`` parity — true KEYSET pagination, distinct
    from the offset page (`q_bm25_topk_page2`): the cursor is the
    (score, doc_id) sort key of the last page-1 hit, and page 2 is a
    VALUE filter on the scored set followed by a top-k — the filter
    sits BELOW the ranking window, so page depth never grows the
    ranked set (ES reference semantics: sort must include a unique
    tiebreak field; ours is score desc, doc_id asc — the same total
    order the whole BM25 contract uses). At corpus scale this is the
    difference between ranking k*page docs (from/size) and ranking
    only what lies beyond the cursor."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG).select(
        "query_id", "doc_id", F.round("score", 6).alias("score")
    )
    # cursor = sort key of the page-1 tail (rank DEFAULT_K); tiny
    # (one row per query), broadcast against the scored set
    cur = (
        bm25.topk(scored, DEFAULT_K)
        .filter(F.col("rank") == DEFAULT_K)
        .select(
            "query_id",
            F.col("score").alias("c_score"),
            F.col("doc_id").alias("c_doc"),
        )
    )
    beyond = (
        scored.join(F.broadcast(cur), "query_id")
        .filter(
            (F.col("score") < F.col("c_score"))
            | ((F.col("score") == F.col("c_score")) & (F.col("doc_id") > F.col("c_doc")))
        )
        .select("query_id", "doc_id", "score")
    )
    return bm25.topk(beyond, DEFAULT_K).withColumnRenamed("rank", "page_rank")


SQL_BM25_SEARCH_AFTER = f"""
{_sql_bm25_scored_cte()},
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
cur AS (
  SELECT query_id, score AS c_score, doc_id AS c_doc FROM ranked WHERE rank = {DEFAULT_K}
),
beyond AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scored s JOIN cur USING (query_id)
  WHERE s.score < cur.c_score OR (s.score = cur.c_score AND s.doc_id > cur.c_doc)
),
ranked2 AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS page_rank
  FROM beyond
)
SELECT query_id, page_rank, doc_id, score FROM ranked2 WHERE page_rank <= {DEFAULT_K}
"""


def q_highlight_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight parity from the POSITIONAL index: for each top-k
    hit, the first token position of every query term it contains —
    the data a snippet renderer needs, answered from the index's
    per-posting position stream (pos_varint) without re-tokenizing any
    document. The oracle recomputes positions relationally
    (list_position over the analyzed token array)."""
    from .operators.bm25 import analyze_queries

    idx = _physical_index(spark, sf_dir)
    hits = q_bm25_topk(spark, sf_dir).select("query_id", "doc_id")
    qt = sorted({(qid, t) for qid, t, _ in analyze_queries(REFERENCE_QUERIES)})
    qterms = spark.createDataFrame(qt, "query_id string, term string")
    posts = idx.postings().select(
        "term", "doc_id", F.element_at("positions", 1).alias("first_pos")
    )
    return (
        hits.join(F.broadcast(qterms), "query_id")
        .join(posts, ["term", "doc_id"])
        .select("query_id", "doc_id", "term", F.col("first_pos").cast("long").alias("first_pos"))
    )


SQL_HIGHLIGHT_POSITIONS = f"""
WITH hits AS ({_sql_bm25()}),
qraw AS (SELECT * FROM {{QV}}),
qtoks AS (
  SELECT DISTINCT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
)
SELECT h.query_id, h.doc_id, q.term,
       CAST(list_position({duckdb_tokens_expr('d.text')}, q.term) - 1 AS BIGINT) AS first_pos
FROM hits h
JOIN qtoks q USING (query_id)
JOIN documents d ON h.doc_id = d.doc_id
WHERE list_position({duckdb_tokens_expr('d.text')}, q.term) > 0
"""



#: terms-aggregation size (ES ``aggs.terms.size`` default is 10; 20
#: exercises the tie-break on this corpus's small vocabulary)
_TERMS_AGG_SIZE = 20


def q_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-aggregation parity (``aggs: {terms: {field, size}}``):
    the top-N index terms by document frequency, answered FROM THE
    PERSISTED TERM DICTIONARY — no corpus re-tokenization, exactly how
    ES serves a terms agg from its per-segment terms dict. Order: df
    desc, term asc (ES's deterministic tie-break). The top-N select is
    an orderBy+limit, which Spark executes as TakeOrderedAndProject
    (per-partition heaps + driver merge — no global sort shuffle at
    corpus scale); the rank column is then a window over N=20 rows."""
    idx = _physical_index(spark, sf_dir)
    top = (
        idx.termdict.select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_TERMS_AGG_SIZE)
    )
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


SQL_TERMS_AGG = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
ranked AS (
  SELECT term, df,
         CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS INT) AS rank
  FROM tstats
)
SELECT term, df, rank FROM ranked WHERE rank <= {_TERMS_AGG_SIZE}
"""


#: prefix queries for q_prefix_topk (ES ``prefix`` query); multi-char
#: prefixes exercise real dictionary-range expansion, not first-letter
#: bucketing
_PREFIXES = ["s", "ba", "c"]


def q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES prefix-query parity with the constant-score multi-term
    rewrite: each index term matching the prefix contributes 1.0 per
    doc that contains it, so a doc's score is the COUNT OF DISTINCT
    MATCHING TERMS it contains; top-10 per prefix, ties doc_id asc.
    The expansion is a per-prefix ``startsWith`` FILTER on the term
    dictionary (a pushed-down StartsWith range predicate — the
    dictionary-seek ES does), unioned across prefixes and broadcast
    into the postings join; no non-equi join anywhere."""
    idx = _physical_index(spark, sf_dir)
    td = idx.termdict
    exp = None
    for p in _PREFIXES:
        e = td.filter(F.col("term").startswith(p)).select(
            F.lit(p).alias("prefix"), "term"
        )
        exp = e if exp is None else exp.union(e)
    posts = idx.postings().select("term", "doc_id")
    scored = (
        posts.join(F.broadcast(exp), "term")
        .groupBy("prefix", "doc_id")
        .agg(F.countDistinct("term").alias("score"))
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("prefix", "rank", "doc_id", F.col("score").cast("long").alias("score"))
    )


SQL_PREFIX_TOPK = f"""
WITH {_DUCK_TOKS},
dterms AS (SELECT DISTINCT doc_id, term FROM toks),
pfx(prefix) AS (VALUES {", ".join(f"('{p}')" for p in _PREFIXES)}),
matches AS (
  SELECT p.prefix, t.doc_id, CAST(count(DISTINCT t.term) AS BIGINT) AS score
  FROM dterms t JOIN pfx p ON t.term LIKE p.prefix || '%'
  GROUP BY p.prefix, t.doc_id
),
ranked AS (
  SELECT prefix, doc_id, score,
         CAST(row_number() OVER (PARTITION BY prefix ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM matches
)
SELECT prefix, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_bm25_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field-collapsing parity (``collapse: {field: source}``): the
    per-query top-10 over the BEST-SCORING DOC OF EACH source GROUP —
    one hit per group, ranked by that representative's full BM25
    score. Collapsing needs every matching doc's score (the group
    maximum can rank anywhere), so this scores the full candidate set
    (query-term-pushed postings — candidates only, never the corpus)
    and takes the group best with a (query, source) window before the
    global per-query rank. Scores are quantized to 6 places BEFORE
    both windows so engine and oracle break ties identically."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG).select(
        "query_id", "doc_id", F.round("score", 6).alias("score")
    )
    scored = scored.join(docs.select("doc_id", "source"), "doc_id")
    wg = Window.partitionBy("query_id", "source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = scored.withColumn("_gr", F.row_number().over(wg)).filter(F.col("_gr") == 1)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        best.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "source", "doc_id", "score")
    )


SQL_BM25_COLLAPSE_TOPK = f"""
{_sql_bm25_scored_cte()},
grouped AS (
  SELECT s.query_id, d.source, s.doc_id, s.score,
         row_number() OVER (PARTITION BY s.query_id, d.source ORDER BY s.score DESC, s.doc_id ASC) AS gr
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id, source, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM grouped WHERE gr = 1
)
SELECT query_id, rank, source, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_lang_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES facet / bucket-aggregation parity (``aggs`` alongside a
    query): for each reference query, the count of ALL matching docs
    (OR semantics — >=1 query term) bucketed by ``lang``. Matching doc
    ids come from the persisted index's postings (term-pushed scan of
    only the query terms' blocks); the keyword field arrives by
    joining the doc store — ES's doc-values read."""
    from .operators.bm25 import analyze_queries

    idx = _physical_index(spark, sf_dir)
    qt = sorted({(qid, t) for qid, t, _ in analyze_queries(REFERENCE_QUERIES)})
    qterms = literal_df(
        spark, qt, "query_id string, term string"
    )
    hits = (
        idx.postings()
        .join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        hits.join(docs, "doc_id")
        .groupBy("query_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_LANG_FACET = f"""
WITH {_DUCK_TOKS},
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT DISTINCT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
hits AS (SELECT DISTINCT q.query_id, t.doc_id FROM qtoks q JOIN toks t USING (term))
SELECT h.query_id, d.lang, count(*) AS n_docs
FROM hits h JOIN documents d USING (doc_id)
GROUP BY h.query_id, d.lang
"""


#: significant-terms minimum foreground df (ES ``min_doc_count``)
_SIG_MIN_FG_DF = 3


def q_sig_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant-terms-aggregation parity: for each query's
    matching-doc set (foreground), the top-10 terms whose foreground
    relative frequency most exceeds their corpus (background) relative
    frequency — score = (fg_df/fg_n)/(df/n_docs), min_doc_count on
    fg_df, ties term asc. All four inputs are aggregations the engine
    already owns (postings, term stats, corpus stats); the foreground
    join fans postings out by hit doc, which at corpus scale is
    bounded by the hit-set size, not the corpus."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ts = P.term_stats(posts)
    n_docs = P.doc_stats(docs).count()
    from .operators.bm25 import analyze_queries

    qt = sorted({(qid, t) for qid, t, _ in analyze_queries(REFERENCE_QUERIES)})
    qterms = literal_df(spark, qt, "query_id string, term string")
    hits = (
        posts.join(F.broadcast(qterms), "term").select("query_id", "doc_id").distinct()
    )
    fgn = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("fg_n"))
    fg = (
        posts.join(hits, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.countDistinct("doc_id").alias("fg_df"))
        .filter(F.col("fg_df") >= _SIG_MIN_FG_DF)
    )
    scored = (
        fg.join(F.broadcast(fgn), "query_id")
        .join(ts, "term")
        .select(
            "query_id",
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.round(
                (F.col("fg_df") * F.lit(float(n_docs)))
                / (F.col("fg_n") * F.col("df")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("lift"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "term", "fg_df", "lift")
    )


SQL_SIG_TERMS = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
corpus AS (SELECT count(*) AS n_docs FROM dstats),
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT DISTINCT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
hits AS (SELECT DISTINCT q.query_id, p.doc_id FROM qtoks q JOIN postings p USING (term)),
fgn AS (SELECT query_id, count(*) AS fg_n FROM hits GROUP BY query_id),
fg AS (
  SELECT h.query_id, p.term, CAST(count(DISTINCT p.doc_id) AS BIGINT) AS fg_df
  FROM hits h JOIN postings p USING (doc_id)
  GROUP BY h.query_id, p.term
  HAVING count(DISTINCT p.doc_id) >= {_SIG_MIN_FG_DF}
),
scored AS (
  SELECT f.query_id, f.term, f.fg_df,
         round((f.fg_df * CAST(c.n_docs AS DOUBLE)) / (n.fg_n * t.df), 6) AS lift
  FROM fg f
  JOIN fgn n USING (query_id)
  JOIN tstats t USING (term)
  CROSS JOIN corpus c
),
ranked AS (
  SELECT query_id, term, fg_df, lift,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY lift DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, term, fg_df, lift FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: fuzzy probes — misspellings of corpus terms (merge, join, spark)
_FUZZY_PROBES = ["mergee", "jion", "sparc"]
#: ES ``fuzzy.max_expansions`` default
_FUZZY_MAX_EXPANSIONS = 50


def _deletion_variants(col_name: str) -> Column:
    """SymSpell deletion neighborhood for edit distance 1: the string
    itself plus every single-character deletion. Two strings are within
    classic Levenshtein 1 ONLY IF their neighborhoods intersect (the
    converse needs a verify — delete-different-chars pairs like ab/ba
    share a variant at distance 2), so exploding both sides and
    equi-joining on the variant prunes the dictionary the way ES's FST
    automaton walk does, without a nested-loop edit-distance join."""
    return F.expr(
        f"array_union(array({col_name}), transform(sequence(1, length({col_name})),"
        f" i -> concat(substring({col_name}, 1, i-1), substring({col_name}, i+1))))"
    )


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fuzzy-query parity: each probe expands to the index terms
    within Levenshtein distance 1 (classic distance on both engines;
    ES's default is Damerau — transposition=1 — see
    ``q_fuzzy_damerau_topk`` for that mode), capped at the df-highest
    ``max_expansions`` terms (ES's cap, ties term asc), then scored as
    BM25 over the expanded terms with qtf=1 each. The expansion walks
    the TERM DICTIONARY only (ES's automaton walk analog) via a
    SymSpell deletion-neighborhood EQUI-join (term dict exploded to
    len+1 delete-variants, hash-joined against the probes' variants,
    then a levenshtein<=1 verify on the tiny candidate set) — a 100M-
    term dictionary is pruned by the hash join instead of paying
    |dict| x |probes| edit-distance evaluations; the matched set is
    collected driver-side — metadata-sized, exactly like query-term
    stats — so the postings scan stays term-pushed."""
    return _fuzzy_expand_topk(spark, sf_dir, damerau=False)


def _adjacent_transpositions(s: str) -> list[str]:
    """All single adjacent-transposition neighbors of ``s`` (the one
    edit Damerau counts as 1 that classic Levenshtein counts as 2)."""
    return sorted({s[:i] + s[i + 1] + s[i] + s[i + 2:] for i in range(len(s) - 1)} - {s})


def _fuzzy_expand_topk(spark: SparkSession, sf_dir: str, damerau: bool) -> DataFrame:
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    probes = literal_df(spark, [(p,) for p in _FUZZY_PROBES], "query_id string")
    probe_vars = probes.select(
        "query_id", F.explode(_deletion_variants("query_id")).alias("v")
    ).distinct()
    term_vars = ts.select(
        "term", "df", F.explode(_deletion_variants("term")).alias("v")
    )
    cand = (
        term_vars.join(F.broadcast(probe_vars), "v")
        .select("query_id", "term", "df")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.col("query_id")) <= 1)
    )
    if damerau:
        # Damerau-1 = classic-1 UNION single adjacent transposition; the
        # transposition neighborhood of the (literal) probes is generated
        # driver-side and equi-joined against the term dictionary.
        trans_rows = [
            (p, v) for p in _FUZZY_PROBES for v in _adjacent_transpositions(p)
        ]
        if trans_rows:
            trans = literal_df(spark, trans_rows, "query_id string, term string")
            cand = cand.unionByName(
                ts.join(F.broadcast(trans), "term").select("query_id", "term", "df")
            ).distinct()
    matched = cand.collect()
    by_probe: dict[str, list] = {}
    for r in matched:
        by_probe.setdefault(r["query_id"], []).append((r["term"], int(r["df"])))
    rows = []
    for qid, terms in by_probe.items():
        terms.sort(key=lambda t: (-t[1], t[0]))
        rows += [(qid, t, bm25.idf(n_docs, df)) for t, df in terms[:_FUZZY_MAX_EXPANSIONS]]
    qterms = literal_df(spark, rows, bm25.QTERMS_SCHEMA)
    posts_q = posts.filter(F.col("term").isin(sorted({t for _, t, _ in rows})))
    scored = bm25.score_candidates(posts_q, ds, qterms, avgdl, CFG)
    return bm25.topk(scored, DEFAULT_K)


_SQL_FUZZY_QTERMS = f"""probes(query_id) AS (VALUES {", ".join(f"('{p}')" for p in _FUZZY_PROBES)}),
exp0 AS (
  SELECT p.query_id, t.term,
         row_number() OVER (PARTITION BY p.query_id ORDER BY t.df DESC, t.term ASC) AS xr
  FROM probes p JOIN tstats t ON levenshtein(p.query_id, t.term) <= 1
),
qterms AS (SELECT query_id, term, CAST(1.0 AS DOUBLE) AS qtf FROM exp0 WHERE xr <= {_FUZZY_MAX_EXPANSIONS})"""

SQL_FUZZY_TOPK = f"""
{_sql_bm25_scored_cte(qterms_cte=_SQL_FUZZY_QTERMS)},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_fuzzy_damerau_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fuzzy query with its DEFAULT distance: Damerau (adjacent
    transposition costs 1, e.g. probe 'jion' now reaches 'join').
    Expansion = the classic deletion-neighborhood equi-join of
    ``q_fuzzy_topk`` UNION an equi-join of the probes' adjacent-
    transposition neighborhood (generated driver-side — probes are
    query literals) against the term dictionary; for max edit
    distance 1 that union is EXACTLY the Damerau-1 ball. Oracle twin
    uses DuckDB's native damerau_levenshtein."""
    return _fuzzy_expand_topk(spark, sf_dir, damerau=True)


_SQL_FUZZY_DAMERAU_QTERMS = f"""probes(query_id) AS (VALUES {", ".join(f"('{p}')" for p in _FUZZY_PROBES)}),
exp0 AS (
  SELECT p.query_id, t.term,
         row_number() OVER (PARTITION BY p.query_id ORDER BY t.df DESC, t.term ASC) AS xr
  FROM probes p JOIN tstats t ON damerau_levenshtein(p.query_id, t.term) <= 1
),
qterms AS (SELECT query_id, term, CAST(1.0 AS DOUBLE) AS qtf FROM exp0 WHERE xr <= {_FUZZY_MAX_EXPANSIONS})"""

SQL_FUZZY_DAMERAU_TOPK = f"""
{_sql_bm25_scored_cte(qterms_cte=_SQL_FUZZY_DAMERAU_QTERMS)},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_explain`` parity: the per-term BM25 contribution breakdown
    for each query's TOP HIT — (query_id, doc_id, term, contribution),
    sum(contribution) = the hit's reported score. The explain set is
    top-1 per query (the hit a user inspects), joined back to the
    un-aggregated contribution table; both sides round at 6 places."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    tdf = bm25.collect_query_term_stats(ts, REFERENCE_QUERIES)
    qterms = bm25.query_term_weights(spark, REFERENCE_QUERIES, tdf, n_docs)
    qterm_list = sorted({t for _, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)})
    posts_q = posts.filter(F.col("term").isin(qterm_list))
    top1 = (
        bm25.topk(bm25.score_candidates(posts_q, ds, qterms, avgdl, CFG), 1)
        .select("query_id", "doc_id")
    )
    cand = posts_q.join(F.broadcast(qterms), "term").join(ds, "doc_id")
    contrib = bm25.contrib_col(F.col("w"), F.col("tf"), F.col("doclen"), avgdl, CFG)
    return (
        cand.select("query_id", "doc_id", "term", F.round(contrib, 6).alias("contribution"))
        .join(F.broadcast(top1), ["query_id", "doc_id"])
    )


SQL_EXPLAIN_SCORES = f"""
{_sql_bm25_scored_cte()},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
),
top1 AS (SELECT query_id, doc_id FROM ranked WHERE rank = 1)
SELECT c.query_id, c.doc_id, c.term, round(c.contrib, 6) AS contribution
FROM contribs c JOIN top1 USING (query_id, doc_id)
"""


#: more-like-this probe docs + ES-default-style selection knobs
_MLT_DOCS = [1, 42, 100]
_MLT_MIN_TF = 2      # ES min_term_freq
_MLT_MIN_DF = 5      # ES min_doc_freq
_MLT_MAX_TERMS = 10  # ES max_query_terms (25 default; 10 on this vocab)


def q_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more-like-this parity: for each probe doc, select its
    "interesting" terms — tf >= min_term_freq, df >= min_doc_freq,
    ranked by tf*idf (rounded at 6 so both engines order identically),
    top max_query_terms — then run a BM25 OR-query over them (qtf=1)
    excluding the source doc. Term selection happens driver-side from
    the probe docs' postings rows (metadata-sized — exactly where ES's
    coordinating node does it)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    src = (
        posts.filter(F.col("doc_id").isin(_MLT_DOCS))
        .join(ts, "term")
        .select("doc_id", "term", "tf", "df")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in src:
        if int(r["tf"]) >= _MLT_MIN_TF and int(r["df"]) >= _MLT_MIN_DF:
            sel = round(int(r["tf"]) * bm25.idf(n_docs, int(r["df"])), 6)
            by_doc.setdefault(int(r["doc_id"]), []).append((sel, r["term"], int(r["df"])))
    rows = []
    for d, terms in by_doc.items():
        terms.sort(key=lambda t: (-t[0], t[1]))
        rows += [
            (f"mlt-{d}", t, bm25.idf(n_docs, df)) for _, t, df in terms[:_MLT_MAX_TERMS]
        ]
    qterms = literal_df(spark, rows, bm25.QTERMS_SCHEMA)
    posts_q = posts.filter(F.col("term").isin(sorted({t for _, t, _ in rows})))
    scored = bm25.score_candidates(posts_q, ds, qterms, avgdl, CFG)
    scored = scored.filter(
        F.col("query_id") != F.concat(F.lit("mlt-"), F.col("doc_id").cast("string"))
    )
    return bm25.topk(scored, DEFAULT_K)


_SQL_MLT_QTERMS = f"""probes(src_doc) AS (VALUES {", ".join(f"({d})" for d in _MLT_DOCS)}),
int0 AS (
  SELECT pr.src_doc, p.term,
         round(p.tf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5)), 6) AS sel
  FROM probes pr
  JOIN postings p ON p.doc_id = pr.src_doc
  JOIN tstats t USING (term)
  CROSS JOIN corpus c
  WHERE p.tf >= {_MLT_MIN_TF} AND t.df >= {_MLT_MIN_DF}
),
intr AS (
  SELECT src_doc, term,
         row_number() OVER (PARTITION BY src_doc ORDER BY sel DESC, term ASC) AS xr
  FROM int0
),
qterms AS (
  SELECT 'mlt-' || src_doc AS query_id, term, CAST(1.0 AS DOUBLE) AS qtf
  FROM intr WHERE xr <= {_MLT_MAX_TERMS}
)"""

SQL_MLT_TOPK = f"""
{_sql_bm25_scored_cte(qterms_cte=_SQL_MLT_QTERMS)},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
  WHERE query_id != 'mlt-' || doc_id
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: wildcard infix fragments (ES ``wildcard: {field: "*frag*"}``) —
#: multi-term fragments that each expand to several dictionary terms
_WILDCARDS = ["or", "ta", "ue"]


def q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES wildcard-query parity (``*frag*``) with the constant-score
    multi-term rewrite (same rewrite ES applies to wildcard by
    default): every dictionary term CONTAINING the fragment matches;
    a doc's score is its count of distinct matching terms; top-10 per
    fragment, ties doc_id asc. The expansion is a contains() filter on
    the term dictionary — the full-dictionary scan is exactly what ES
    pays for a leading-wildcard pattern (no prefix seek possible), and
    the dictionary is the metadata-sized relation here, never the
    postings. Expanded terms broadcast into a term-pushed postings
    join, mirroring q_prefix_topk."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ts = P.term_stats(posts)
    exp = None
    for frag in _WILDCARDS:
        e = ts.filter(F.col("term").contains(frag)).select(
            F.lit(frag).alias("pattern"), "term"
        )
        exp = e if exp is None else exp.union(e)
    scored = (
        posts.select("term", "doc_id")
        .join(F.broadcast(exp), "term")
        .groupBy("pattern", "doc_id")
        .agg(F.countDistinct("term").alias("score"))
    )
    w = Window.partitionBy("pattern").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("pattern", "rank", "doc_id", F.col("score").cast("long").alias("score"))
    )


SQL_WILDCARD_TOPK = f"""
WITH {_DUCK_TOKS},
dterms AS (SELECT DISTINCT doc_id, term FROM toks),
pat(pattern) AS (VALUES {", ".join(f"('{p}')" for p in _WILDCARDS)}),
matches AS (
  SELECT p.pattern, t.doc_id, CAST(count(DISTINCT t.term) AS BIGINT) AS score
  FROM dterms t JOIN pat p ON t.term LIKE '%' || p.pattern || '%'
  GROUP BY p.pattern, t.doc_id
),
ranked AS (
  SELECT pattern, doc_id, score,
         CAST(row_number() OVER (PARTITION BY pattern ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM matches
)
SELECT pattern, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: bool.should minimum_should_match clause count
_MSM = 2


def q_min_should_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bool.should`` + ``minimum_should_match: 2`` parity: a doc
    is a candidate only when it contains >= 2 DISTINCT query terms;
    candidates keep their full BM25 score over the terms they match.
    The matched-clause count rides the same per-(query, doc)
    aggregation that accumulates the score — msm costs zero extra
    shuffles over the OR query. Accumulation order stays the engine's
    fixed sort-by-term fold so scores are bit-identical to the other
    BM25 paths."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    tdf = bm25.collect_query_term_stats(ts, REFERENCE_QUERIES)
    qterms = bm25.query_term_weights(spark, REFERENCE_QUERIES, tdf, n_docs)
    qterm_list = sorted({t for _, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)})
    posts_q = posts.filter(F.col("term").isin(qterm_list))
    cand = posts_q.join(F.broadcast(qterms), "term").join(ds, "doc_id")
    contrib = bm25.contrib_col(F.col("w"), F.col("tf"), F.col("doclen"), avgdl, CFG)
    scored = (
        cand.select("query_id", "doc_id", "term", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
            F.countDistinct("term").alias("_nt"),
        )
        .filter(F.col("_nt") >= _MSM)
        .select(
            "query_id",
            "doc_id",
            F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]).alias(
                "score"
            ),
        )
    )
    return bm25.topk(scored, DEFAULT_K)


SQL_MIN_SHOULD_MATCH_TOPK = f"""
{_sql_bm25_scored_cte()},
msm AS (
  SELECT query_id, doc_id FROM contribs
  GROUP BY query_id, doc_id HAVING count(DISTINCT term) >= {_MSM}
),
ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS INT) AS rank
  FROM scored s JOIN msm USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: top_hits sub-aggregation size (hits kept per bucket)
_TOP_HITS_PER_BUCKET = 3


def q_top_hits_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` agg + ``top_hits`` sub-agg parity: for each query,
    bucket matching docs by ``lang`` and keep each bucket's top-3 hits
    by full BM25 score (collapse generalized from 1 to N per group).
    Scores are quantized to 6 places before the bucket window so engine
    and oracle break ties identically; the bucket rank is a window over
    (query, lang) — the per-bucket heap ES's top_hits collector keeps."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG).select(
        "query_id", "doc_id", F.round("score", 6).alias("score")
    )
    scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
    wg = Window.partitionBy("query_id", "lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("hit_rank", F.row_number().over(wg).cast("int"))
        .filter(F.col("hit_rank") <= _TOP_HITS_PER_BUCKET)
        .select("query_id", "lang", "hit_rank", "doc_id", "score")
    )


SQL_TOP_HITS_AGG = f"""
{_sql_bm25_scored_cte()},
grouped AS (
  SELECT s.query_id, d.lang, s.doc_id, s.score,
         CAST(row_number() OVER (PARTITION BY s.query_id, d.lang ORDER BY s.score DESC, s.doc_id ASC) AS INT) AS hit_rank
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT query_id, lang, hit_rank, doc_id, score FROM grouped
WHERE hit_rank <= {_TOP_HITS_PER_BUCKET}
"""


#: term-suggester probes (misspellings a user would type) and knobs
_SUGGEST_PROBES = ["quer", "bath", "stram"]
_SUGGEST_MAX_EDITS = 2   # ES term suggester max_edits (its maximum)
_SUGGEST_SIZE = 5        # suggestions returned per probe


def q_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term-suggester parity ("did you mean"): for each probe, the
    top-5 dictionary terms within Levenshtein distance 2, ranked by
    popularity (df desc, term asc — ES ``sort: frequency``). The
    length-band predicate (abs length diff <= max_edits, a necessary
    condition for edit distance) runs BEFORE the Levenshtein so the
    expensive comparison touches only the band — the FST-walk pruning
    ES's suggester gets for free, expressed relationally. The scan is
    dictionary-sized; postings are never touched."""
    docs = _docs(spark, sf_dir)
    ts = P.term_stats(P.build_postings(docs))
    probes = literal_df(spark, [(p,) for p in _SUGGEST_PROBES], "probe string")
    cond = (
        F.abs(F.length("term") - F.length("probe")) <= _SUGGEST_MAX_EDITS
    ) & (F.levenshtein(F.col("term"), F.col("probe")) <= _SUGGEST_MAX_EDITS)
    matched = ts.join(F.broadcast(probes), cond).select(
        "probe", "term", F.col("df").cast("long").alias("df")
    )
    w = Window.partitionBy("probe").orderBy(F.desc("df"), F.asc("term"))
    return (
        matched.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _SUGGEST_SIZE)
        .select("probe", "rank", "term", "df")
    )


SQL_TERM_SUGGEST = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
probes(probe) AS (VALUES {", ".join(f"('{p}')" for p in _SUGGEST_PROBES)}),
matched AS (
  SELECT p.probe, t.term, t.df
  FROM tstats t JOIN probes p
    ON abs(length(t.term) - length(p.probe)) <= {_SUGGEST_MAX_EDITS}
   AND levenshtein(t.term, p.probe) <= {_SUGGEST_MAX_EDITS}
),
ranked AS (
  SELECT probe, term, df,
         CAST(row_number() OVER (PARTITION BY probe ORDER BY df DESC, term ASC) AS INT) AS rank
  FROM matched
)
SELECT probe, rank, term, df FROM ranked WHERE rank <= {_SUGGEST_SIZE}
"""


def q_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_histogram`` aggregation parity (calendar_interval:
    day) with sub-aggregations per bucket: value_count, sum, and an
    exact ``cardinality`` of users. All three are one map-side-partial
    hash aggregation over the events scan; the bucket key is a
    truncation, not a join, so the plan is scan -> partial agg ->
    single exchange on day — the shape that holds at 100 TB. At that
    scale the exact distinct is the one term that grows a second
    exchange; production swaps it for approx_count_distinct (HLL++,
    still one pass) — the estimator-vs-exact bound is asserted in
    tests/test_entry_contract.py."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.countDistinct("user_id").alias("unique_users"),
    )


SQL_DATE_HISTOGRAM = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
FROM events GROUP BY 1
"""


#: moving_fn window (ES default shift=0: the window is the `w` buckets
#: BEFORE the current one, current excluded; empty window -> null)
_MOVING_FN_WINDOW = 3


def q_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline-aggregation parity over a ``date_histogram`` bucket
    series: ``derivative`` (day-over-day delta), ``cumulative_sum``,
    ``moving_fn`` (unweighted avg, window 3, ES shift=0 — the window
    ends at the PREVIOUS bucket, so the first bucket is null), and
    ``bucket_script`` (per-bucket ratio sum_value/n_events).

    Scale note: pipeline aggs operate on the BUCKET SERIES, not the
    corpus — cardinality is O(#days) by construction, so the
    single-partition ordered window here is the correct plan at any
    corpus size (the corpus-sized work is the partial-agg scan that
    produced the buckets, same plan as q_date_histogram). All derived
    values compute from the ROUNDED per-bucket sum in day order in
    both engines, keeping float accumulation bit-identical."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    w = Window.orderBy("day")
    return buckets.select(
        "day",
        "n_events",
        "sum_value",
        F.round(F.col("sum_value") - F.lag("sum_value", 1).over(w), 6).alias(
            "deriv_sum_value"
        ),
        F.round(
            F.sum("sum_value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("cumu_sum_value"),
        F.round(
            F.avg("sum_value").over(w.rowsBetween(-_MOVING_FN_WINDOW, -1)), 6
        ).alias("mavg_sum_value"),
        F.round(F.col("sum_value") / F.col("n_events"), 6).alias("value_per_event"),
    )


SQL_PIPELINE_AGGS = f"""
WITH buckets AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         count(*) AS n_events,
         round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, n_events, sum_value,
       round(sum_value - lag(sum_value) OVER (ORDER BY day), 6) AS deriv_sum_value,
       round(sum(sum_value) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumu_sum_value,
       round(avg(sum_value) OVER (ORDER BY day
             ROWS BETWEEN {_MOVING_FN_WINDOW} PRECEDING AND 1 PRECEDING), 6) AS mavg_sum_value,
       round(sum_value / n_events, 6) AS value_per_event
FROM buckets
"""


def q_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``cardinality`` aggregation parity: distinct users per event
    type. Exact here (count_distinct) so the oracle can hash-match; ES
    itself answers this with HLL++ and so does the engine's scale path
    (approx_count_distinct — same sketch family), whose error bound vs
    this exact query is asserted in tests/test_entry_contract.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("unique_users")
    )


SQL_CARDINALITY_AGG = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
FROM events GROUP BY event_type
"""


#: range-aggregation bucket edges over events.value (ES ``range`` agg)
_RANGE_EDGES = [10.0, 100.0]


def q_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``range`` aggregation parity over a numeric field: per-bucket
    doc count and sum. Buckets follow ES's [from, to) convention with
    open first/last buckets. A CASE expression, not a join — the
    bucketing stays inside the scan's whole-stage codegen."""
    lo, hi = _RANGE_EDGES
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < lo, F.lit(f"*-{lo}"))
        .when(F.col("value") < hi, F.lit(f"{lo}-{hi}"))
        .otherwise(F.lit(f"{hi}-*"))
    )
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


SQL_RANGE_AGG = f"""
SELECT CASE WHEN value < {_RANGE_EDGES[0]} THEN '*-{_RANGE_EDGES[0]}'
            WHEN value < {_RANGE_EDGES[1]} THEN '{_RANGE_EDGES[0]}-{_RANGE_EDGES[1]}'
            ELSE '{_RANGE_EDGES[1]}-*' END AS bucket,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
"""


def q_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``filters`` aggregation parity: NAMED, independently-evaluated
    (and deliberately OVERLAPPING) filter buckets — a doc lands in
    every bucket whose filter it matches, which is what distinguishes
    ``filters`` from a CASE-style ``range`` bucketing. One bucket is a
    query-context filter (docs containing a term), one structural
    (short docs), one match_all. Each bucket is a filter + partial agg
    over the same scan; Spark unions the three aggregates (3 metadata-
    sized rows, no corpus-wide shuffle beyond the partial aggs)."""
    from functools import reduce

    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    base = docs.select(
        F.size(tokens_col("text")).alias("doclen"),
        F.array_contains(tokens_col("text"), "the").alias("has_the"),
    )
    parts = []
    for name, flt in (
        ("short", F.col("doclen") < 60),
        ("has_the", F.col("has_the")),
        ("all", F.lit(True)),
    ):
        parts.append(
            base.filter(flt)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.round(F.avg("doclen"), 6).alias("avg_doclen"),
            )
            .select(F.lit(name).alias("bucket"), "n_docs", "avg_doclen")
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


SQL_FILTERS_AGG = f"""
WITH base AS (
  SELECT CAST(len({duckdb_tokens_expr('text')}) AS INT) AS doclen,
         list_contains({duckdb_tokens_expr('text')}, 'the') AS has_the
  FROM documents
)
SELECT 'short' AS bucket, count(*) AS n_docs, round(avg(doclen), 6) AS avg_doclen
FROM base WHERE doclen < 60
UNION ALL
SELECT 'has_the', count(*), round(avg(doclen), 6) FROM base WHERE has_the
UNION ALL
SELECT 'all', count(*), round(avg(doclen), 6) FROM base
"""


#: histogram interval over doclen (ES histogram agg, min_doc_count=1)
_HISTO_INTERVAL = 32


def q_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``histogram`` aggregation parity over a numeric field:
    fixed-interval buckets keyed by ``floor(x / interval) * interval``,
    empty buckets omitted (min_doc_count=1). Stays entirely inside the
    scan's partial agg — one narrow shuffle of bucket keys."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    dl = F.size(tokens_col("text"))
    bucket = (F.floor(dl / F.lit(_HISTO_INTERVAL)) * _HISTO_INTERVAL).cast("long")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 1)
    )


SQL_HISTOGRAM_AGG = f"""
SELECT CAST(floor(len({duckdb_tokens_expr('text')}) / {_HISTO_INTERVAL}) * {_HISTO_INTERVAL} AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY 1 HAVING count(*) >= 1
"""


#: span_near probes: (query_id, first term, second term, slop) —
#: in-order proximity with at most ``slop`` tokens between the two
_SPAN_QUERIES = [
    ("span-1", "hash", "join", 2),
    ("span-2", "sort", "merge", 3),
    ("span-3", "group", "key", 1),
]


def q_span_near_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_near`` / sloppy-phrase parity (in_order=true): a doc
    matches when the second term occurs AFTER the first with at most
    ``slop`` tokens between them; matches are ranked by BM25 over the
    two span terms (the same scoring contract q_phrase_topk fixes for
    positional queries). Everything is answered FROM THE POSITIONAL
    INDEX: the pair join touches only the two terms' postings (term-
    pushed), and proximity is an ``exists`` over the two position
    arrays — JVM higher-order functions, O(tf_a * tf_b) per candidate
    doc, never a corpus re-tokenize. Proximity uses position
    DIFFERENCES, so the index's 0-based positions and the oracle's
    1-based subscripts agree without adjustment. The two BM25
    contributions are added pairwise (IEEE addition is commutative, so
    no accumulation-order fix is needed for exactly two terms)."""
    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    posts = idx.postings()
    spans = literal_df(
        spark, _SPAN_QUERIES, "query_id string, t1 string, t2 string, slop int"
    )
    span_terms = sorted({t for _, t1, t2, _ in _SPAN_QUERIES for t in (t1, t2)})
    dfs = {
        r["term"]: int(r["df"])
        for r in idx.termdict.filter(F.col("term").isin(span_terms)).collect()
    }

    def _contrib(tf_col: str, w: Column) -> Column:
        return bm25.contrib_col(w, F.col(tf_col), F.col("doclen"), avgdl, CFG)

    idf_map = F.create_map(
        *[x for t in span_terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, dfs.get(t, 0))))]
    )
    p1 = posts.filter(F.col("term").isin(span_terms)).select(
        F.col("term").alias("t1"),
        "doc_id",
        F.col("tf").alias("tf1"),
        "doclen",
        F.col("positions").alias("pa"),
    )
    p2 = posts.filter(F.col("term").isin(span_terms)).select(
        F.col("term").alias("t2"),
        "doc_id",
        F.col("tf").alias("tf2"),
        F.col("positions").alias("pb"),
    )
    cand = p1.join(F.broadcast(spans), "t1").join(p2, ["t2", "doc_id"])
    slop = F.col("slop").cast("long")
    matched = cand.filter(
        F.exists(
            "pa",
            lambda a: F.exists("pb", lambda bp: (bp > a) & ((bp - a - F.lit(1)) <= slop)),
        )
    )
    scored = matched.select(
        "query_id",
        "doc_id",
        F.round(
            _contrib("tf1", idf_map[F.col("t1")]) + _contrib("tf2", idf_map[F.col("t2")]),
            6,
        ).alias("score"),
    )
    return bm25.rank(scored, DEFAULT_K)


def _sql_span_near() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(f"('{q}', '{t1}', '{t2}', {s})" for q, t1, t2, s in _SPAN_QUERIES)
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
spans(query_id, t1, t2, slop) AS (VALUES {rows}),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
matched AS (
  SELECT DISTINCT s.query_id, a.doc_id
  FROM spans s
  JOIN posns a ON a.term = s.t1
  JOIN posns b ON b.doc_id = a.doc_id AND b.term = s.t2
   AND b.pos > a.pos AND b.pos - a.pos - 1 <= s.slop
),
qterms AS (
  SELECT query_id, t1 AS term FROM spans UNION ALL SELECT query_id, t2 FROM spans
),
contribs AS (
  SELECT q.query_id, p.doc_id,
         ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT m.query_id, m.doc_id, round(sum(cb.contrib), 6) AS score
  FROM matched m JOIN contribs cb ON cb.query_id = m.query_id AND cb.doc_id = m.doc_id
  GROUP BY m.query_id, m.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_NEAR_TOPK = _sql_span_near()


#: percentile points for the percentiles aggregation
_PCTS = [0.5, 0.95, 0.99]


def q_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentiles`` aggregation parity over a numeric field.
    Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) so the oracle hash-matches; ES itself and
    the engine's scale path use a mergeable sketch
    (``percentile_approx`` / t-digest family) — exact percentile is a
    full sort per group, the sketch is one pass + tiny merge, which is
    the swap a 100 TB deployment makes."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(p)), 6).alias(f"p{int(p * 100)}")
            for p in _PCTS
        ]
    )


SQL_PERCENTILES_AGG = f"""
SELECT event_type,
       {", ".join(f"round(quantile_cont(value, {p}), 6) AS p{int(p * 100)}" for p in _PCTS)}
FROM events GROUP BY event_type
"""


#: boosting-query knobs (ES ``boosting: {positive, negative,
#: negative_boost}``): docs containing a negative term keep matching
#: but their relevance is multiplied down, never filtered out
_NEG_TERMS = ["slow"]
_NEG_BOOST = 0.5


def q_boosting_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting-query parity: the positive clause is the reference
    OR query set; docs containing any negative term have their final
    BM25 score multiplied by ``negative_boost`` (demoted, not
    excluded — the difference from must_not). The negative set is the
    negative terms' postings doc ids — term-pushed, metadata-sized
    next to the corpus — applied as a left join + conditional multiply
    AFTER scoring, so positive-clause scoring stays identical to
    q_bm25_topk. Scores quantized to 6 before ranking, both engines."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    neg = (
        posts.filter(F.col("term").isin(_NEG_TERMS))
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(True))
    )
    # demote the UNROUNDED sum and round ONCE (in topk): *0.5 is exact
    # in binary, so a single round at 6 stays inside the suite's
    # cross-engine float contract — rounding before AND after the
    # multiply manufactures exact .xxxxx5 ties whose half-up/half-even
    # resolution differs between Spark and DuckDB
    demoted = scored.join(neg, "doc_id", "left").select(
        "query_id",
        "doc_id",
        F.when(F.col("_neg"), F.col("score") * F.lit(_NEG_BOOST))
        .otherwise(F.col("score"))
        .alias("score"),
    )
    return bm25.topk(demoted, DEFAULT_K)


SQL_BOOSTING_TOPK = f"""
{_sql_bm25_scored_cte()},
scored_raw AS (
  SELECT query_id, doc_id, sum(contrib) AS s FROM contribs GROUP BY query_id, doc_id
),
neg AS (
  SELECT DISTINCT doc_id FROM postings
  WHERE term IN ({", ".join(f"'{t}'" for t in _NEG_TERMS)})
),
demoted AS (
  SELECT sr.query_id, sr.doc_id,
         round(CASE WHEN n.doc_id IS NOT NULL THEN sr.s * {_NEG_BOOST}
                    ELSE sr.s END, 6) AS score
  FROM scored_raw sr LEFT JOIN neg n ON sr.doc_id = n.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM demoted
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: multi_match best_fields: the corpus has one text column, so the
#: second field is the standard title analog — the first _TITLE_LEN
#: tokens (ES users index exactly this as a "title"/"lead" subfield).
#: Per-field statistics (df, avgdl, doclen) are FIELD-LOCAL, as in
#: Lucene; tie_breaker folds the losing field in at 0.3.
_TITLE_LEN = 8
_TIE_BREAKER = 0.3


def q_multi_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_match`` (type=best_fields, tie_breaker=0.3) parity
    over fields (text, title): each field is scored as its own BM25
    index — field-local df, doclen, avgdl, exactly Lucene's per-field
    statistics — and a doc's final score is
    ``max(fields) + tie_breaker * (sum(fields) - max(fields))``
    (dis_max with a tie breaker). Title candidates are a subset of
    text candidates (title tokens are a prefix of text tokens), so the
    combine is a left join from the text scores; raw field sums are
    combined first and rounded ONCE in topk."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens_col("text").alias("tk"))
    sides = []
    for fname, fcol in (
        ("text", F.col("tk")),
        ("title", F.slice(F.col("tk"), 1, _TITLE_LEN)),
    ):
        ft = toks.select("doc_id", fcol.alias("ftk"))
        posts = (
            ft.select("doc_id", F.explode("ftk").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        )
        ds = ft.select("doc_id", F.size("ftk").alias("doclen"))
        ts = P.term_stats(posts)
        sc = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
        sides.append(sc.withColumnRenamed("score", f"s_{fname}"))
    s_text, s_title = sides
    ti = F.coalesce(F.col("s_title"), F.lit(0.0))
    combined = s_text.join(s_title, ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        (
            F.greatest(F.col("s_text"), ti)
            + F.lit(_TIE_BREAKER) * F.least(F.col("s_text"), ti)
        ).alias("score"),
    )
    return bm25.topk(combined, DEFAULT_K)


def _sql_multi_match(k: int = DEFAULT_K) -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    tokens = duckdb_tokens_expr("text")

    def contribs(posts: str, dst: str, corp: str, tst: str) -> str:
        return f"""
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN {posts} p USING (term)
  JOIN {tst} t USING (term)
  JOIN {dst} d ON p.doc_id = d.doc_id
  CROSS JOIN {corp} c"""

    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
ttoks AS (
  SELECT doc_id, unnest(list_slice({tokens}, 1, {_TITLE_LEN})) AS term FROM documents
),
tpostings AS (
  SELECT term, doc_id, CAST(count(*) AS INT) AS tf FROM ttoks GROUP BY term, doc_id
),
tdstats AS (
  SELECT doc_id, CAST(least(len({tokens}), {_TITLE_LEN}) AS INT) AS doclen FROM documents
),
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tcorpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM tdstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
ttstats AS (SELECT term, count(*) AS df FROM tpostings GROUP BY term),
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term),
c_text AS ({contribs('postings', 'dstats', 'corpus', 'tstats')}),
c_title AS ({contribs('tpostings', 'tdstats', 'tcorpus', 'ttstats')}),
s_text AS (SELECT query_id, doc_id, sum(contrib) AS s FROM c_text GROUP BY 1, 2),
s_title AS (SELECT query_id, doc_id, sum(contrib) AS s FROM c_title GROUP BY 1, 2),
combined AS (
  SELECT st.query_id, st.doc_id,
         round(greatest(st.s, coalesce(sti.s, 0.0))
               + {_TIE_BREAKER} * least(st.s, coalesce(sti.s, 0.0)), 6) AS score
  FROM s_text st
  LEFT JOIN s_title sti ON st.query_id = sti.query_id AND st.doc_id = sti.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM combined
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_MULTI_MATCH_TOPK = _sql_multi_match()


#: rank_feature saturation: contribution = weight * x / (x + pivot) —
#: ES's default rank_feature function, here over doclen (the one
#: numeric per-doc feature both engines derive identically)
_RF_PIVOT = 60.0
_RF_WEIGHT = 1.5


def q_function_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``function_score`` / ``rank_feature`` parity: BM25 relevance
    plus an additive per-document feature contribution
    ``weight * x/(x + pivot)`` (the rank_feature saturation function)
    over doclen. The feature term joins AFTER scoring — positive-clause
    scoring stays identical to q_bm25_topk — and the division is exact
    IEEE in both engines; the sum is rounded ONCE in topk."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    dl = F.col("doclen").cast("double")
    boosted = scored.join(ds, "doc_id").select(
        "query_id",
        "doc_id",
        (F.col("score") + F.lit(_RF_WEIGHT) * dl / (dl + F.lit(_RF_PIVOT))).alias("score"),
    )
    return bm25.topk(boosted, DEFAULT_K)


SQL_FUNCTION_SCORE_TOPK = f"""
{_sql_bm25_scored_cte()},
scored_raw AS (
  SELECT query_id, doc_id, sum(contrib) AS s FROM contribs GROUP BY query_id, doc_id
),
final AS (
  SELECT sr.query_id, sr.doc_id,
         round(sr.s + {_RF_WEIGHT} * d.doclen / (d.doclen + {_RF_PIVOT}), 6) AS score
  FROM scored_raw sr JOIN dstats d ON sr.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM final
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_extended_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``extended_stats`` aggregation parity over a numeric field:
    count/min/max/sum/avg/variance/std per bucket in ONE partial-agg
    pass (Spark's stddev_samp and DuckDB's stddev_samp share the
    sample-variance definition). Rounded at 6 so both engines hash
    identically."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
    )


SQL_EXTENDED_STATS_AGG = """
SELECT event_type,
       count(*) AS n,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       round(sum(value), 6) AS sum_value,
       round(avg(value), 6) AS avg_value,
       round(var_samp(value), 6) AS var_value,
       round(stddev_samp(value), 6) AS std_value
FROM events GROUP BY event_type
"""


#: composite-agg page size (ES ``composite.size`` + ``after`` cursor)
_COMPOSITE_SIZE = 8


def q_composite_agg_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``composite`` aggregation parity — the scalable paginated
    bucket walk: buckets keyed by (lang, source) in key order, page 2
    (``after`` = the last key of page 1). Like ES, pagination is a
    keyset cursor, not offset: the page-2 scan FILTERS on the after-key
    tuple before ranking, so each page's work is bounded by the keys
    beyond the cursor (Spark: the tuple predicate pushes into the
    aggregate's input; no global sort of all buckets survives —
    TakeOrderedAndProject handles the page)."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    page1 = counts.orderBy("lang", "source").limit(_COMPOSITE_SIZE).collect()
    last = page1[-1]
    after_l, after_s = last["lang"], last["source"]
    beyond = counts.filter(
        (F.col("lang") > after_l)
        | ((F.col("lang") == after_l) & (F.col("source") > after_s))
    )
    return (
        beyond.orderBy("lang", "source")
        .limit(_COMPOSITE_SIZE)
        .withColumn(
            "page_pos",
            F.row_number().over(Window.orderBy("lang", "source")).cast("int"),
        )
    )


SQL_COMPOSITE_AGG_PAGE2 = f"""
WITH counts AS (
  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY lang, source
),
ordered AS (
  SELECT lang, source, n_docs,
         row_number() OVER (ORDER BY lang, source) AS rn
  FROM counts
)
SELECT lang, source, n_docs,
       CAST(rn - {_COMPOSITE_SIZE} AS INT) AS page_pos
FROM ordered
WHERE rn > {_COMPOSITE_SIZE} AND rn <= {2 * _COMPOSITE_SIZE}
"""


def q_exists_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``exists`` query parity over a sparse/JSON field: per event
    type, how many docs HAVE ``props.k`` (field present and non-null)
    vs total — the null-accounting primitive behind ES's exists/
    missing pair. One JVM json-path evaluation inside the scan's
    codegen; no UDF."""
    ev = load_table(spark, sf_dir, "events")
    has = F.get_json_object("props", "$.k").isNotNull()
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(has.cast("long")).alias("n_with_field"),
    )


SQL_EXISTS_AGG = """
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_field
FROM events GROUP BY event_type
"""


def q_bm25_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with Lucene SmallFloat-style quantized doclen norms
    (SURVEY §7-hard #1): same plan as q_bm25_topk, doclen floor-
    truncated to a 4-bit mantissa in engine AND oracle."""
    from dataclasses import replace

    cfg_q = replace(CFG, bm25=replace(CFG.bm25, quantize_doclen=True))
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    return bm25.bm25_topk_naive(posts, ds, ts, REFERENCE_QUERIES, k=DEFAULT_K, cfg=cfg_q)


def q_match_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only issued query: match-all with a size cap
    (GET /{index}/_search?size=N, it/TestHelpers.scala:162-165) —
    deterministic order by doc id."""
    docs = _docs(spark, sf_dir)
    w = Window.orderBy(F.asc("doc_id"))
    return (
        docs.select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


SQL_MATCH_ALL = "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100"


def q_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (bool-must / AND) BM25 top-k: only docs containing
    ALL query terms are scored (ES bool query semantics)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    )
    # count matched distinct terms per (query, doc) and keep full matches
    qterms = [
        (qid, t)
        for qid, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)
    ]
    qt = literal_df(spark, qterms, "query_id string, term string")
    need = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("need"))
    have = (
        posts.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("have"))
    )
    full = have.join(F.broadcast(need), "query_id").filter(F.col("have") == F.col("need"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.drop("rank")
        .join(full.select("query_id", "doc_id"), ["query_id", "doc_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "doc_id", "score")
    )


def _sql_bm25_and(k: int = DEFAULT_K) -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term),
need AS (SELECT query_id, count(*) AS need FROM qterms GROUP BY query_id),
have AS (
  SELECT q.query_id, p.doc_id, count(*) AS have
  FROM qterms q JOIN postings p USING (term)
  GROUP BY q.query_id, p.doc_id
),
full_match AS (
  SELECT h.query_id, h.doc_id FROM have h JOIN need n USING (query_id)
  WHERE h.have = n.need
),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT c.query_id, c.doc_id, round(sum(c.contrib), 6) AS score
  FROM contribs c JOIN full_match fm ON c.query_id = fm.query_id AND c.doc_id = fm.doc_id
  GROUP BY c.query_id, c.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_BM25_AND_TOPK = _sql_bm25_and()


#: phrase query set (ES match_phrase analog): analyzer-normalized
#: token-sequence containment, BM25-scored over the phrase's terms
PHRASE_QUERIES: list[tuple[str, str]] = [
    ("p-0001", "merge sort"),
    ("p-0002", "the customer"),
    ("p-0003", "hash join order"),
    ("p-0004", "zzzz missing phrase"),
]


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase over POSITIONAL POSTINGS: adjacency decided from the
    index's per-posting position streams (pruned block scan, no corpus
    rescan — r01 re-normalized every document per phrase batch), ranked
    by BM25 over the phrase terms. The oracle is unchanged: normalized-
    text containment is equivalent to token-sequence adjacency."""
    from .operators.phrase import phrase_topk

    from .functions.analyze import tokenize_text as _tok

    idx = _physical_index(spark, sf_dir)
    pterms = sorted({t for _, q in PHRASE_QUERIES for t in _tok(q)})
    return phrase_topk(
        idx.blocks, idx.termdict, idx.corpus(), PHRASE_QUERIES, k=DEFAULT_K,
        cfg=_IDX_CFG, term_rows=idx.lookup_terms(pterms),
    )


def _sql_phrase(k: int = DEFAULT_K) -> str:
    from .functions.analyze import tokenize_text

    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        "('{}', '{}', ' {} ')".format(qid, qtext.replace("'", "''"), " ".join(tokenize_text(qtext)))
        for qid, qtext in PHRASE_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qraw AS (SELECT * FROM (VALUES {rows}) AS t(query_id, query_text, phrase)),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term),
normed AS (
  SELECT doc_id, ' ' || array_to_string(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+'), ' ') || ' ' AS norm
  FROM documents
),
matches AS (
  SELECT q.query_id, n.doc_id
  FROM qraw q JOIN normed n ON contains(n.norm, q.phrase)
),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT c.query_id, c.doc_id, round(sum(c.contrib), 6) AS score
  FROM contribs c JOIN matches mm ON c.query_id = mm.query_id AND c.doc_id = mm.doc_id
  GROUP BY c.query_id, c.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_PHRASE_TOPK = _sql_phrase()


#: rescore: first-pass BM25 window, second-pass exact-phrase bonus
_RESCORE_WINDOW = 3 * DEFAULT_K
_RESCORE_WEIGHT = 2.0


def q_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rescore`` parity (the two-phase search architecture): a
    cheap first pass ranks by plain BM25, then only the top
    ``window_size`` hits per query are re-scored with an expensive
    second query — here an exact-phrase occurrence count, the classic
    proximity rescorer — and re-ranked as
    ``first_pass + weight * phrase_count``. The second pass touches
    window_size * |queries| rows, never the corpus: the join back to
    the doc text is a broadcast of the tiny hit set, exactly how a
    fetch-phase rescorer behaves at scale. First-pass selection uses
    the ROUNDED score (the reported number search_after would key on),
    so both engines cut the identical window."""
    from .functions.analyze import tokenize_text, tokens_col
    from .functions.localdf import literal_df

    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, PHRASE_QUERIES, CFG)
    window = bm25.topk(scored, _RESCORE_WINDOW)  # (query_id, rank, doc_id, score)
    phrases = literal_df(
        spark,
        [(qid, " " + " ".join(tokenize_text(qt)) + " ") for qid, qt in PHRASE_QUERIES],
        "query_id string, phrase string",
    )
    normed = docs.select(
        "doc_id",
        F.concat(F.lit(" "), F.array_join(tokens_col("text"), " "), F.lit(" ")).alias(
            "norm"
        ),
    )
    hits = window.join(phrases, "query_id")
    rescored = normed.join(F.broadcast(hits), "doc_id").select(
        "query_id",
        "doc_id",
        (
            F.col("score")
            + F.lit(_RESCORE_WEIGHT)
            * (
                (F.length("norm") - F.length(F.replace(F.col("norm"), F.col("phrase"), F.lit(""))))
                / F.length("phrase")
            ).cast("double")
        ).alias("score"),
    )
    return bm25.topk(rescored, DEFAULT_K)


def _sql_rescore(k: int = DEFAULT_K) -> str:
    from .functions.analyze import tokenize_text

    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        "('{}', '{}', ' {} ')".format(
            qid, qtext.replace("'", "''"), " ".join(tokenize_text(qtext))
        )
        for qid, qtext in PHRASE_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qraw AS (SELECT * FROM (VALUES {rows}) AS t(query_id, query_text, phrase)),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
firstpass AS (
  SELECT query_id, doc_id, round(sum(contrib), 6) AS score FROM contribs GROUP BY 1, 2
),
windowed AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r
  FROM firstpass
),
normed AS (
  SELECT doc_id,
         ' ' || array_to_string({duckdb_tokens_expr('text')}, ' ') || ' ' AS norm
  FROM documents
),
rescored AS (
  SELECT w.query_id, w.doc_id,
         round(w.score + {_RESCORE_WEIGHT} *
               CAST((length(n.norm) - length(replace(n.norm, q.phrase, ''))) / length(q.phrase) AS DOUBLE),
               6) AS score
  FROM windowed w
  JOIN qraw q ON w.query_id = q.query_id
  JOIN normed n ON w.doc_id = n.doc_id
  WHERE w.r <= {_RESCORE_WINDOW}
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM rescored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_RESCORE_TOPK = _sql_rescore()


# ---------------------------------------------------------------------------
# physical index: compressed blocks + block-max WAND (SURVEY M2/M3)
# Both queries run over the REAL persisted index (built on demand into a
# temp dir, memoized per sf_dir) and share the relational oracles — the
# decode/rank-identity invariants checked by an independent engine.

_IDX_CFG = None
_IDX_CACHE: dict[str, object] = {}


def _physical_index(spark: SparkSession, sf_dir: str):
    global _IDX_CFG
    import tempfile

    from .config import EngineConfig, IndexConfig
    from .index_store import build_blocks_only

    if _IDX_CFG is None:
        _IDX_CFG = EngineConfig(
            index=IndexConfig(block_size=64, docs_per_range=1000, term_buckets=16)
        )
    key = sf_dir
    if key not in _IDX_CACHE:
        path = tempfile.mkdtemp(prefix="engine-contract-idx-")
        _IDX_CACHE[key] = build_blocks_only(spark, _docs(spark, sf_dir), path, _IDX_CFG)
    return _IDX_CACHE[key]


#: delete_by_query probe term ('dup' is rare — a selective delete set)
_DELETE_TERMS = ["dup"]


def q_delete_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_delete_by_query`` parity end-to-end: build an index,
    delete every doc containing 'dup' (term-pushed match, tombstones),
    then ``compact_index`` — the merge that physically expunges the
    tombstones from blocks/termdict/doc store and restates corpus
    stats. Returns the decoded postings of the compacted index; the
    oracle is the relational postings of the corpus MINUS the matching
    docs, so a hash match proves both the delete semantics and that
    the expunged index round-trips exactly."""
    import tempfile

    from .index_store import build_blocks_only, compact_index, delete_by_query

    key = ("del", sf_dir)
    if key not in _IDX_CACHE:
        _physical_index(spark, sf_dir)  # ensures _IDX_CFG
        path = tempfile.mkdtemp(prefix="engine-contract-del-")
        idx = build_blocks_only(spark, _docs(spark, sf_dir), path, _IDX_CFG)
        delete_by_query(idx, _DELETE_TERMS)
        _IDX_CACHE[key] = compact_index(idx)
    return _IDX_CACHE[key].postings().select("term", "doc_id", "tf")


SQL_DELETE_BY_QUERY = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
deldocs AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ({", ".join(f"'{t}'" for t in _DELETE_TERMS)})
)
SELECT term, doc_id, tf FROM postings
WHERE doc_id NOT IN (SELECT doc_id FROM deldocs)
"""


def q_postings_blocks_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the delta-gap+varint blocks back to logical postings; the
    oracle is the same SQL as q_postings_tf (M2 invariant)."""
    idx = _physical_index(spark, sf_dir)
    return idx.postings().select("term", "doc_id", "tf")


def q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND over compressed blocks; oracle identical to the
    naive relational BM25 (M3 rank-identity invariant)."""
    from .operators import wand

    idx = _physical_index(spark, sf_dir)
    qterms = sorted(
        {t for _, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)}
    )
    return wand.wand_topk(
        idx.blocks,
        idx.termdict,
        idx.corpus(),
        REFERENCE_QUERIES,
        k=DEFAULT_K,
        cfg=_IDX_CFG,
        # local pyarrow termdict probe: no Spark job for the term lookup
        term_rows=idx.lookup_terms(qterms),
    )


# ---------------------------------------------------------------------------
# layer-1 pipeline parity over `events` (reference dataflow analogs)

def q_shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-shard routing (E4; core/Processing.scala:162-171 analog):
    events grouped by their target shard suffix."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_SHARD_ROUTING = """
SELECT strftime(ts, '%Y-%m-%d') AS shard, count(*) AS n_events
FROM events GROUP BY 1
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting/sum/min aggregations (S7/S8 analogs) by event type."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("earliest_ts"),
    )


SQL_EVENTS_ROLLUP = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS earliest_ts
FROM events GROUP BY event_type
"""


def q_badrow_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good/bad split semantics (S3/S11, E5 analogs): per-row invariant
    classification, counted per class — never failing the batch."""
    ev = load_table(spark, sf_dir, "events")
    cls = (
        F.when(F.get_json_object("props", "$.k").isNull(), F.lit("bad_json"))
        .when(F.col("value") < 0, F.lit("bad_value"))
        .otherwise(F.lit("good"))
    )
    return ev.select(cls.alias("row_class")).groupBy("row_class").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


SQL_BADROW_SPLIT = """
SELECT CASE
         WHEN json_extract(props, '$.k') IS NULL THEN 'bad_json'
         WHEN value < 0 THEN 'bad_value'
         ELSE 'good'
       END AS row_class,
       count(*) AS n_rows
FROM events GROUP BY 1
"""


def q_badrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-typed JSON field -> monotyped columns (SURVEY S6, the
    BadRowTransformer analog): a field that is object/array/scalar per
    row splits into failure_obj / failure_list / failure_str."""
    from .operators.badjson import normalize_badrows

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    j = (
        F.when(F.col("event_type") == "error", F.concat(F.lit('{"failure": {"code": '), k, F.lit("}}")))
        .when(F.col("event_type") == "purchase", F.concat(F.lit('{"failure": ['), k, F.lit(", 2]}")))
        .otherwise(F.concat(F.lit('{"failure": "msg-'), k, F.lit('"}')))
    )
    df = ev.select("event_id", j.alias("j"))
    return normalize_badrows(df, "j", ["failure"]).select(
        "event_id", "failure_str", "failure_list", "failure_obj"
    )


SQL_BADROW_NORMALIZE = """
WITH src AS (
  SELECT event_id,
         CASE WHEN event_type = 'error'
                THEN '{"failure": {"code": ' || json_extract_string(props, '$.k') || '}}'
              WHEN event_type = 'purchase'
                THEN '{"failure": [' || json_extract_string(props, '$.k') || ', 2]}'
              ELSE '{"failure": "msg-' || json_extract_string(props, '$.k') || '"}'
         END AS j
  FROM events
),
typed AS (
  SELECT event_id, j,
         substr(ltrim(json_extract(j, '$.failure')::VARCHAR), 1, 1) AS head
  FROM src
)
SELECT event_id,
       CASE WHEN head NOT IN ('{', '[') THEN json_extract_string(j, '$.failure') END AS failure_str,
       CASE WHEN head = '[' THEN json_extract(j, '$.failure')::VARCHAR END AS failure_list,
       CASE WHEN head = '{' THEN json_extract(j, '$.failure')::VARCHAR END AS failure_obj
FROM typed
"""


def q_limit_error_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: regex classification of limit errors into a counter
    (core/ElasticsearchSink.scala:195-198 analog)."""
    from .operators.badjson import limit_error_count

    ev = load_table(spark, sf_dir, "events")
    errs = ev.select(
        F.when(
            F.col("event_type") == "error",
            F.lit("Limit of total fields [200] has been exceeded"),
        )
        .otherwise(F.lit("mapper_parsing_exception"))
        .alias("error")
    )
    return limit_error_count(errs)


SQL_LIMIT_ERROR_COUNT = """
SELECT CAST(sum(CASE WHEN error SIMILAR TO '.*Limit.*has been exceeded.*' THEN 1 ELSE 0 END) AS BIGINT) AS index_limit_error
FROM (
  SELECT CASE WHEN event_type = 'error'
              THEN 'Limit of total fields [200] has been exceeded'
              ELSE 'mapper_parsing_exception' END AS error
  FROM events
)
"""


# ---------------------------------------------------------------------------
# BadRowTransformer 12-fix parity (S6 full): deterministic fixtures
# covering every fix path; the oracle is the EXPECTED table (outputs
# hand-derived from the reference's documented semantics,
# core/BadRowTransformer.scala:30-72 + BadRowTransformerSpec.scala).

_BR = "iglu:com.snowplowanalytics.snowplow.badrows"
_BADROW_FIXTURES: list[tuple[int, str]] = [
    (0, '{"foo": "bar"}'),  # non-self-describing: pass through
    (1, '{"schema":"%s/loader_runtime_error/jsonschema/1-0-0","data":{"failure":"some error","payload":"raw"}}' % _BR),
    (2, '{"schema":"%s/x/jsonschema/1-0-0","data":{"failure":["e1","e2"]}}' % _BR),
    (3, '{"schema":"%s/x/jsonschema/1-0-0","data":{"failure":{"error":"E","errors":["a"],'
        '"messages":[{"error":"m1","expectedMapping":{"k":1},"json":[1,2],"message":{"error":"inner"}}]},'
        '"payload":{"raw":{"parameters":{"key":"value"}}}}}' % _BR),
    (4, '{"schema":"iglu:com.example/event/jsonschema/1-0-0","data":{"failure":"oops"}}'),
    (5, "not json {"),
    (6, '{"schema":"%s/y/jsonschema/1-0-0","data":{"failure":[{"error":"le","value":{"v":2}}]}}' % _BR),
    # malformed iglu URI (missing version): the reference's
    # SelfDescribingData decode fails -> row passes through UNCHANGED
    # even though the string starts with the badrows vendor
    (7, '{"schema":"%s/x/jsonschema","data":{"failure":"kept"}}' % _BR),
]


def q_badrow_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 12-fix BadRowTransformer over self-describing bad rows;
    outputs are leaf extractions from the transformed JSON."""
    from .operators.badjson import transform_badrows

    df = spark.createDataFrame(_BADROW_FIXTURES, "rid int, json string")
    out = transform_badrows(df, "json")
    g = lambda p: F.get_json_object(F.col("transformed"), p)
    return out.select(
        "rid",
        g("$.data.failure_str").alias("failure_str"),
        g("$.data.payload_str").alias("payload_str"),
        g("$.data.failure_list").isNotNull().alias("has_failure_list"),
        g("$.data.failure.error_str").alias("failure_error_str"),
        g("$.data.failure.errors_list[0]").alias("errors0"),
        g("$.data.failure.messages[0].error_str").alias("msg_error_str"),
        g("$.data.failure.messages[0].expectedMapping").alias("expected_mapping"),
        g("$.data.failure.messages[0].json").alias("json_serialized"),
        g("$.data.failure.messages[0].message.error_str").alias("inner_error_str"),
        g("$.data.payload.raw.parameters").alias("parameters"),
        g("$.data.failure_list[0].error_str").alias("fl0_error_str"),
        g("$.data.failure_list[0].value").alias("fl0_value"),
        # scalar-only passthrough check (object rendering is engine-
        # specific; object-shaped failures are checked via their leaves)
        F.when(
            F.substring(F.ltrim(g("$.data.failure")), 1, 1) != F.lit("{"),
            g("$.data.failure"),
        ).alias("passthrough_failure"),
        F.col("_error").isNotNull().alias("is_error"),
    )


def _sql_badrow_transform() -> str:
    def lit(x):
        if x is None:
            return "NULL"
        if isinstance(x, bool):
            return "true" if x else "false"
        return "'" + x.replace("'", "''") + "'"

    n = None
    expected = [
        # rid, failure_str, payload_str, has_fl, failure_error_str, errors0,
        # msg_error_str, expected_mapping, json_serialized, inner_error_str,
        # parameters, fl0_error_str, fl0_value, passthrough_failure, is_error
        (0, n, n, False, n, n, n, n, n, n, n, n, n, n, False),
        (1, "some error", "raw", False, n, n, n, n, n, n, n, n, n, n, False),
        (2, n, n, True, n, n, n, n, n, n, n, n, n, n, False),
        (3, n, n, False, "E", "a", "m1", '{"k":1}', "[1,2]", "inner",
         '{"key":"value"}', n, n, n, False),
        (4, n, n, False, n, n, n, n, n, n, n, n, n, "oops", False),
        (5, n, n, False, n, n, n, n, n, n, n, n, n, n, True),
        (6, n, n, True, n, n, n, n, n, n, n, "le", '{"v":2}', n, False),
        (7, n, n, False, n, n, n, n, n, n, n, n, n, "kept", False),
    ]
    rows = ", ".join("(" + ", ".join(lit(x) if not isinstance(x, int) or isinstance(x, bool) else str(x) for x in r) + ")" for r in expected)
    cols = ("rid, failure_str, payload_str, has_failure_list, failure_error_str, errors0, "
            "msg_error_str, expected_mapping, json_serialized, inner_error_str, parameters, "
            "fl0_error_str, fl0_value, passthrough_failure, is_error")
    return f"SELECT * FROM (VALUES {rows}) AS t({cols})"


SQL_BADROW_TRANSFORM = _sql_badrow_transform()


# ---------------------------------------------------------------------------
# payload decompression (S2): magic-byte sniff, corrupt -> bad row.
# Fixtures are synthesized deterministically; the oracle is the
# EXPECTED table (codec/text/error known by construction), independent
# of the operator under test.

def _payload_fixtures() -> list[tuple[int, bytes, str, str | None, str | None]]:
    """(pid, payload, expected codec, expected text, expected error_class)."""
    import gzip

    import pyarrow as pa

    from .operators.payload import ZSTD_MAGIC

    rows = []
    for i in range(48):
        text = f"payload {i} unicode üöä 你好 {'x' * (i % 7)}"
        b = text.encode("utf-8")
        mode = i % 4
        if mode == 0:
            rows.append((i, b, "plain", text, None))
        elif mode == 1:
            rows.append((i, gzip.compress(b, mtime=0), "gzip", text, None))
        elif mode == 2:
            rows.append((i, bytes(pa.Codec("zstd").compress(b)), "zstd", text, None))
        else:  # corrupt zstd frame: valid magic, garbage body
            rows.append((i, ZSTD_MAGIC + b"\x00\xff corrupt", "zstd", None, "decompression_error"))
    return rows


def q_payload_decompress(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.payload import decompress_payloads

    rows = [(pid, payload) for pid, payload, _, _, _ in _payload_fixtures()]
    df = spark.createDataFrame(rows, "pid int, payload binary")
    out = decompress_payloads(df, "payload", max_bytes=1_000_000)
    return out.select(
        "pid",
        "codec",
        "text",
        F.split(F.col("_error"), ":").getItem(0).alias("error_class"),
    )


def _sql_payload_decompress() -> str:
    def lit(x):
        return "NULL" if x is None else "'" + x.replace("'", "''") + "'"

    rows = ", ".join(
        f"({pid}, {lit(codec)}, {lit(text)}, {lit(err)})"
        for pid, _, codec, text, err in _payload_fixtures()
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(pid, codec, text, error_class)"


SQL_PAYLOAD_DECOMPRESS = _sql_payload_decompress()


# ---------------------------------------------------------------------------
# rows-only entries (non-SQL-expressible: streaming, binary plumbing,
# checkpoint lineage — the driver records weaker rows-only checks;
# cross-validation lives in tests/)

def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns: container parse + byte features via
    mapInPandas (decode stubbed per brief; plumbing real)."""
    from .operators import multimodal as MM

    return MM.extract_metadata(MM.synth_assets(spark, n=96)).select(
        "asset_id", "kind", "width", "height", "n_frames", "payload_bytes"
    )


def q_index_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed build lineage (S14/S15 analogs): deterministic
    columns of _checkpoints after a full tiny build.

    The driver's rows-only check is backed by invariants ASSERTED here
    (VERDICT r3 #9) — the query itself raises if the lineage counters
    do not reconcile with the physical index:
      * sum(postings_emitted) over range batches == decoded postings rows
      * terms_finalized on the finalize row == termdict row count
      * turns on the documents row == doc-store row count
    """
    import tempfile

    from .config import EngineConfig, IndexConfig
    from .index_store import build_index
    from .sources.transcripts import synth_transcripts

    key = "lineage"
    if key not in _IDX_CACHE:
        cfg = EngineConfig(index=IndexConfig(block_size=32, docs_per_range=512, term_buckets=8))
        path = tempfile.mkdtemp(prefix="engine-contract-lineage-")
        tr = synth_transcripts(spark, n_convs=20, seed=5, with_anomalies=True)
        _IDX_CACHE[key] = build_index(spark, tr, path, cfg, ranges_per_batch=2)
    idx = _IDX_CACHE[key]
    cp = idx.checkpoints
    # every range row of one batch shares the batch's observation, so
    # sum one row per (batch start, value) group, not per range row
    batch_rows = cp.filter(F.col("stage") == "range_batch").groupBy(
        "postings_emitted", "started_ts"
    ).count().collect()
    emitted = sum(int(r["postings_emitted"]) for r in batch_rows)
    decoded = idx.postings().count()
    if emitted != decoded:
        raise AssertionError(
            f"lineage mismatch: postings_emitted {emitted} != decoded postings {decoded}"
        )
    fin = cp.filter(F.col("stage") == "finalize").agg(F.max("terms_finalized")).collect()[0][0]
    n_terms = idx.termdict.count()
    if int(fin) != int(n_terms):
        raise AssertionError(
            f"lineage mismatch: terms_finalized {fin} != termdict rows {n_terms}"
        )
    doc_turns = cp.filter(F.col("stage") == "documents").agg(F.max("turns")).collect()[0][0]
    n_docs = idx.documents.count()
    if int(doc_turns) != int(n_docs):
        raise AssertionError(
            f"lineage mismatch: documents turns {doc_turns} != doc store rows {n_docs}"
        )
    return cp.select(
        "stage", "partition_id", "status", "turns", "postings_emitted", "terms_finalized"
    )


def q_streaming_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming incremental build over the ``documents``
    table -> decoded postings. Oracle: SQL_POSTINGS_TF — the streamed
    index must decode to EXACTLY the relational postings of the corpus
    (VERDICT r3 #3: this was rows-only for no structural reason).

    The table is delivered as two micro-batch files split at a
    docs_per_range multiple, with conv_id = zero-padded doc_id: the
    stream's dense-rank id assignment plus the fresh-range-boundary
    offset then reproduces the original doc_ids, so the DuckDB twin
    joins on the same ids without any remapping."""
    import glob
    import os
    import tempfile

    from .config import EngineConfig, IndexConfig
    from .streaming.stream_build import incremental_index_build
    from .index_store import InvertedIndex

    return _streamed_index(spark, sf_dir, "stream").postings().select(
        "term", "doc_id", "tf"
    )


#: docs_per_range of the contract's streamed indexes (the oracle for
#: q_update_by_query derives replacement doc ids from this boundary)
_STREAM_DPR = 250


def _streamed_index(spark: SparkSession, sf_dir: str, tag: str):
    """Two-micro-batch streamed index over ``documents`` (conv_id =
    zero-padded doc_id so the stream's dense-rank ids reproduce the
    original doc_ids), cached per (tag, sf_dir) — mutating contract
    queries take their own tag so they never corrupt q_streaming_
    postings' shared index."""
    import glob
    import os
    import tempfile

    from .config import EngineConfig, IndexConfig
    from .streaming.stream_build import incremental_index_build
    from .index_store import InvertedIndex

    key = (tag, sf_dir)
    if key not in _IDX_CACHE:
        dpr = _STREAM_DPR
        cfg = EngineConfig(index=IndexConfig(block_size=32, docs_per_range=dpr, term_buckets=8))
        docs = _docs(spark, sf_dir)
        n = docs.count()
        split = max(dpr, (n // 2 // dpr) * dpr)  # largest dpr multiple <= n/2
        tr = docs.select(
            F.col("doc_id"),
            F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        in_dir = tempfile.mkdtemp(prefix="engine-contract-simp-")
        idx_dir = tempfile.mkdtemp(prefix="engine-contract-sidx-")
        cp_dir = tempfile.mkdtemp(prefix="engine-contract-scp-")
        for bi, part in enumerate(
            (tr.filter(F.col("doc_id") < split), tr.filter(F.col("doc_id") >= split))
        ):
            sub = os.path.join(in_dir, f"_b{bi}")
            part.drop("doc_id").coalesce(1).write.mode("overwrite").parquet(sub)
            src = sorted(glob.glob(os.path.join(sub, "part-*.parquet")))[0]
            # delivery order = (mod time, name): both increase with bi
            os.rename(src, os.path.join(in_dir, f"{bi:04d}.parquet"))
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, cfg, available_now=True)
        _IDX_CACHE[key] = InvertedIndex(spark, idx_dir, cfg)
    return _IDX_CACHE[key]


def q_update_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_update_by_query`` parity end-to-end over a STREAMED index:
    docs containing 'dup' get their old version tombstoned and a
    rewritten version (text || ' upd', same natural key) indexed as a
    fresh streaming segment; ``compact_index`` then expunges the old
    versions. Returns the decoded postings of the compacted index. The
    oracle recomputes the whole story relationally — unmatched docs
    keep their ids, replacements take ids from the next docs_per_range
    boundary in natural-key order (the stream's documented id
    contract) with the transformed text."""
    from .index_store import compact_index
    from .streaming.stream_build import update_by_query

    key = ("upd-done", sf_dir)
    if key not in _IDX_CACHE:
        idx = _streamed_index(spark, sf_dir, "upd")
        update_by_query(
            spark,
            idx.path,
            _DELETE_TERMS,
            lambda c: F.concat(c, F.lit(" upd")),
            idx.cfg,
        )
        _IDX_CACHE[key] = compact_index(idx)
    return _IDX_CACHE[key].postings().select("term", "doc_id", "tf")


SQL_UPDATE_BY_QUERY = f"""
WITH toks0 AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term FROM documents
),
deldocs AS (
  SELECT DISTINCT doc_id FROM toks0
  WHERE term IN ({", ".join(f"'{t}'" for t in _DELETE_TERMS)})
),
off AS (
  SELECT CAST(ceil(count(*) / {_STREAM_DPR}.0) * {_STREAM_DPR} AS BIGINT) AS o
  FROM documents
),
newids AS (
  SELECT d.doc_id AS old_id,
         (SELECT o FROM off) + row_number() OVER (ORDER BY d.doc_id) - 1 AS doc_id
  FROM deldocs d
),
corpus2 AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM deldocs)
  UNION ALL
  SELECT ni.doc_id, b.text || ' upd' AS text
  FROM documents b JOIN newids ni ON b.doc_id = ni.old_id
),
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term FROM corpus2
),
postings AS (
  SELECT term, doc_id, CAST(count(*) AS INT) AS tf FROM toks GROUP BY term, doc_id
)
SELECT term, doc_id, tf FROM postings
"""


# ---------------------------------------------------------------------------
# relational capability demos (join strategy: broadcast dims, window top-k)

def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter pushdown + hash agg."""
    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_LINEITEM_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k. nation (25 rows, SF-invariant)
    is hinted broadcast; customer scales with SF, so its join strategy
    is left to AQE — broadcast at bench scale, shuffle join at 100x
    (r6; the unconditional broadcast hint was VERDICT r5 wrong #2).
    The rank<=10 window compiles to TakeOrderedAndProject via Spark's
    WindowGroupLimit inference (plans/r06), not a global sort."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("total_spent"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy(F.desc("total_spent"), F.asc("c_custkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "c_custkey", "c_name", "n_name", "total_spent", "n_orders")
    )


SQL_TOP_CUSTOMERS = """
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         round(sum(o_totalprice), 6) AS total_spent,
         count(*) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY c_custkey, c_name, n_name
)
SELECT CAST(row_number() OVER (ORDER BY total_spent DESC, c_custkey ASC) AS INT) AS rank,
       c_custkey, c_name, n_name, total_spent, n_orders
FROM agg
ORDER BY rank
LIMIT 10
"""


# ---------------------------------------------------------------------------
# text analysis (training-data pipeline ops)

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import textstats as TS

    return _docs(spark, sf_dir).select(
        "doc_id",
        TS.ws_token_count().alias("n_ws_tokens"),
        TS.bpe_token_count().alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import textstats as TS
    from .functions.analyze import tokens_col

    # two-step projection: bind the token array once so the three
    # token-consuming quality columns don't each re-run the regex (r6)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text", tokens_col("text").alias("_toks"))
        .select("doc_id", *TS.quality_columns(toks=F.col("_toks")))
    )


SQL_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       round(len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) / nullif(length(text),0), 6) AS punct_ratio,
       round(len(list_filter(toks, x -> x IN ('the','a','of','to','and','in','is'))) / nullif(len(toks),0), 6) AS stopword_ratio,
       round(list_sum(list_transform(toks, x -> length(x))) / nullif(len(toks),0), 6) AS avg_token_len
FROM t
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import textstats as TS

    from .functions.analyze import tokens_col

    # bind the token array once: the CASE chain references the four
    # per-language hit counts (each a filter over the tokens) many
    # times inside one expression tree (r6)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", tokens_col("text").alias("_toks"))
        .select("doc_id", TS.lang_id_col(toks=F.col("_toks")).alias("lang"))
    )


def _sql_lang_id() -> str:
    from .functions.textstats import LANG_PROFILES

    hit = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in LANG_PROFILES
    }
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{{L}}\p{{N}}]+') AS toks FROM documents
),
h AS (
  SELECT doc_id, {hit['en']} AS en, {hit['de']} AS de, {hit['es']} AS es, {hit['fr']} AS fr FROM t
)
SELECT doc_id,
       CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
            WHEN de >= es AND de >= fr THEN 'de'
            WHEN es >= fr THEN 'es'
            ELSE 'fr' END AS lang
FROM h
"""


SQL_LANG_ID = _sql_lang_id()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import textstats as TS

    # two-step projection: the window lambda must reference the BOUND
    # norm column, not the tokenizer expression (r6; see textstats)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", TS.norm_text_col().alias("_norm"))
        .select("doc_id", TS.fingerprint_of_norm(F.col("_norm")).alias("fp"))
    )


SQL_FINGERPRINT = r"""
WITH t AS (
  SELECT doc_id,
         array_to_string(regexp_extract_all(lower(text), '[\p{L}\p{N}]+'), ' ') AS norm
  FROM documents
)
SELECT doc_id, min(md5(substr(norm, gs.i, 8))) AS fp
FROM t CROSS JOIN generate_series(1, 8192) gs(i)
WHERE gs.i <= greatest(length(norm) - 7, 1)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# deduplication suite

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), n_hashes=8)


SQL_MINHASH_SIGNATURES = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[\p{{L}}\p{{N}}]+')) AS term
  FROM documents
)
SELECT doc_id, {', '.join(f"min(md5('{i}:' || term)) AS h{i}" for i in range(8))}
FROM tok GROUP BY doc_id
"""


#: LSH band-bucket size cap (dropped buckets carry no signal; prevents
#: O(n^2) candidates from degenerate duplicate clusters) — shared with
#: the SQL twin verbatim
LSH_MAX_GROUP = 64


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n_hashes=8, bands=4, threshold=0.9, max_doc_id=200,
        max_group=LSH_MAX_GROUP,
    )


SQL_MINHASH_LSH_PAIRS = rf"""
WITH docs AS (SELECT * FROM documents WHERE doc_id < 200),
tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[\p{{L}}\p{{N}}]+')) AS term
  FROM docs
),
sig AS (
  SELECT doc_id, {', '.join(f"min(md5('{i}:' || term)) AS h{i}" for i in range(8))}
  FROM tok GROUP BY doc_id
),
banded0 AS (
  {' UNION ALL '.join(f"SELECT doc_id, {bi} AS band, h{2*bi} || h{2*bi+1} AS key FROM sig" for bi in range(4))}
),
okb AS (
  SELECT band, key FROM banded0 GROUP BY band, key HAVING count(*) <= {LSH_MAX_GROUP}
),
banded AS (SELECT b.* FROM banded0 b JOIN okb USING (band, key)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.doc_a
  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.i / (sa.n + sb.n - i.i), 6) >= 0.9
"""


#: shingle document-frequency cap for candidate generation (hot
#: boilerplate shingles would explode pairs quadratically)
NGRAM_MAX_DF = 100


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.1, max_doc_id=500, max_df=NGRAM_MAX_DF
    )


SQL_NGRAM_JACCARD_PAIRS = rf"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{{L}}\p{{N}}]+') AS toks
  FROM documents WHERE doc_id < 500
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS term
  FROM docs WHERE len(toks) >= 3
),
rare AS (SELECT term FROM sh GROUP BY term HAVING count(*) <= {NGRAM_MAX_DF}),
sh_cand AS (SELECT s.* FROM sh s JOIN rare USING (term)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh_cand a JOIN sh_cand b ON a.term = b.term AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh ta ON ta.doc_id = c.doc_a
  JOIN sh tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.i / (sa.n + sb.n - i.i), 6) >= 0.1
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    pairs (iterated min-label propagation, one shuffle per round,
    O(log n) rounds) — the canonicalization step that turns pairs into
    keep/drop decisions. Oracle: DuckDB recursive-CTE transitive
    closure over the identical pairs."""
    from .operators.dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n_hashes=8, bands=4, threshold=0.9, max_doc_id=200,
        max_group=LSH_MAX_GROUP,
    )
    return connected_components(pairs)


def _sql_neardup_clusters() -> str:
    head, tail = SQL_MINHASH_LSH_PAIRS.rsplit("\nSELECT ", 1)
    inner = head.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""{inner}, pairs AS (SELECT {tail}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.s, rc.r FROM edges e JOIN reach rc ON rc.id = e.d
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


SQL_NEARDUP_CLUSTERS = _sql_neardup_clusters()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir), bits=60)


SQL_SIMHASH = r"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS term
  FROM documents
),
bits AS (
  SELECT doc_id, gs.j,
         CAST(floor((strpos('0123456789abcdef', substr(md5(term), CAST(floor(gs.j/4) AS INT)+1, 1)) - 1)
              / power(2, gs.j % 4)) AS INT) % 2 AS bit
  FROM tok CROSS JOIN generate_series(0, 59) gs(j)
),
votes AS (
  SELECT doc_id, j, sum(2*bit - 1) AS v FROM bits GROUP BY doc_id, j
)
SELECT doc_id,
       string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10, exclude_id=0)


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         round(list_inner_product(embedding::DOUBLE[], q.qv)
               / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank, vec_id, cos_sim
  FROM scored
)
SELECT rank, vec_id, cos_sim FROM ranked WHERE rank <= 10
"""

#: fixed LSH hyperplanes (seeded; literals shared verbatim with the SQL twin)
from .operators.similarity import random_planes as _random_planes  # noqa: E402

ANN_PLANES = _random_planes(4, 64, seed=7)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _query_vec(spark, sf_dir), ANN_PLANES, k=10, exclude_id=0)


def _sql_ann_lsh_topk() -> str:
    def arr(p):
        return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"

    bucket = " || ".join(
        f"(CASE WHEN list_inner_product(embedding::DOUBLE[], {arr(p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in ANN_PLANES
    )
    qbucket = " || ".join(
        f"(CASE WHEN list_inner_product(qv, {arr(p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in ANN_PLANES
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
in_bucket AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings CROSS JOIN q
  WHERE vec_id <> 0 AND ({bucket}) = ({qbucket})
),
scored AS (
  SELECT vec_id,
         round(list_inner_product(v, q.qv)
               / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
  FROM in_bucket CROSS JOIN q
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank, vec_id, cos_sim
  FROM scored
)
SELECT rank, vec_id, cos_sim FROM ranked WHERE rank <= 10
"""


SQL_ANN_LSH_TOPK = _sql_ann_lsh_topk()


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1) with the offline-trained coarse quantizer."""
    from .operators.ivf_centroids import IVF_CENTROIDS
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _query_vec(spark, sf_dir), IVF_CENTROIDS, k=10, exclude_id=0)


_IVF_STORE: dict[str, str] = {}


def q_ann_ivf_topk_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the corpus-scale physical layout: embeddings
    partitioned on disk by coarse cell, query reads ONLY the probe
    cell via partition pruning. Same results (and oracle) as
    q_ann_ivf_topk by construction."""
    import tempfile

    from .operators.ivf_centroids import IVF_CENTROIDS
    from .operators.similarity import ivf_topk_materialized, materialize_ivf_cells

    if sf_dir not in _IVF_STORE:
        path = tempfile.mkdtemp(prefix="engine-ivf-cells-")
        materialize_ivf_cells(load_table(spark, sf_dir, "embeddings"), IVF_CENTROIDS, path)
        _IVF_STORE[sf_dir] = path
    return ivf_topk_materialized(
        spark, _IVF_STORE[sf_dir], _query_vec(spark, sf_dir), IVF_CENTROIDS,
        k=10, exclude_id=0,
    )


def _sql_ann_ivf_topk() -> str:
    from .operators.ivf_centroids import IVF_CENTROIDS

    K = len(IVF_CENTROIDS)

    def arr(c):
        return "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"

    def cell_expr(expr):
        ds = ", ".join(f"list_inner_product({expr}, {arr(c)})" for c in IVF_CENTROIDS)
        # first argmax (lowest cell index on ties) — the exact twin of
        # Spark's array_position(dots, array_max(dots)) - 1
        return f"(list_position([{ds}], list_max([{ds}])) - 1)"

    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qcell AS (SELECT {cell_expr('qv')} AS c FROM q),
in_cell AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings CROSS JOIN qcell
  WHERE vec_id <> 0 AND ({cell_expr('embedding::DOUBLE[]')}) = qcell.c
),
scored AS (
  SELECT vec_id,
         round(list_inner_product(v, q.qv)
               / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
  FROM in_cell CROSS JOIN q
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank, vec_id, cos_sim
  FROM scored
)
SELECT rank, vec_id, cos_sim FROM ranked WHERE rank <= 10
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf_topk()


#: banded sign-bucket planes for embedding near-dup (4 bands x 2
#: planes; literals shared verbatim with the SQL twin)
NEARDUP_BANDS = 4
NEARDUP_PLANES = _random_planes(8, 64, seed=11)


def q_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup pairs: candidates via equi-joins on
    (band, sign-bucket) — NO cross join anywhere in the plan (asserted
    in tests/test_plans.py); exact cosine verifies candidates."""
    from .operators.similarity import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(
        emb, threshold=0.3, planes=NEARDUP_PLANES, bands=NEARDUP_BANDS, max_vec_id=300
    )


def _sql_embed_neardup() -> str:
    per = len(NEARDUP_PLANES) // NEARDUP_BANDS

    def arr(p):
        return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"

    def key_expr(planes):
        return " || ".join(
            f"(CASE WHEN list_inner_product(v, {arr(p)}) >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )

    union = " UNION ALL ".join(
        f"SELECT vid, v, {bi} AS band, {key_expr(NEARDUP_PLANES[bi * per:(bi + 1) * per])} AS key FROM sub"
        for bi in range(NEARDUP_BANDS)
    )
    return f"""
WITH sub AS (
  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
),
banded AS ({union}),
cand AS (
  SELECT DISTINCT a.vid AS vec_a, b.vid AS vec_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vid < b.vid
)
SELECT c.vec_a, c.vec_b,
       round(list_inner_product(x.v, y.v)
             / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))), 6) AS cos_sim
FROM cand c JOIN sub x ON x.vid = c.vec_a JOIN sub y ON y.vid = c.vec_b
WHERE round(list_inner_product(x.v, y.v)
            / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))), 6) >= 0.3
"""


SQL_EMBED_NEARDUP_PAIRS = _sql_embed_neardup()


# ---------------------------------------------------------------------------
# simple_query_string / match_phrase_prefix / regexp / nested buckets
# (E7 search-API parity, continued)

#: simple_query_string fixture set: OR terms, +must, -must_not, and
#: quoted phrases, over the synthetic documents vocabulary
QS_QUERIES: list[tuple[str, str]] = [
    ("qs-0001", "merge sort -dup"),
    ("qs-0002", "+customer filter group"),
    ("qs-0003", '"hash join" order'),
    ("qs-0004", "vector +spark -slow"),
    ("qs-0005", '+the +scan "merge sort"'),
]


def q_query_string_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``simple_query_string`` parity: a real parser (+must,
    -must_not, "phrase", bare OR terms) feeding the standard BM25
    contract; clause semantics documented in operators/querystring.py.
    Clause tables are metadata-sized and broadcast; the term filter is
    pushed below every join."""
    from .operators.querystring import query_string_topk

    return query_string_topk(_docs(spark, sf_dir), QS_QUERIES, k=DEFAULT_K, cfg=CFG)


def _sql_query_string(k: int = DEFAULT_K) -> str:
    from .operators.querystring import parse_query_string, _phrase_needle

    parsed = {qid: parse_query_string(qtext) for qid, qtext in QS_QUERIES}
    # scored-term weights (qtf = occurrence count), from the SAME parse
    # the Spark path uses so the two sides cannot drift
    vals = []
    for qid, p in parsed.items():
        seen: dict[str, int] = {}
        for t in p.scored_terms:
            seen[t] = seen.get(t, 0) + 1
        for t, n in sorted(seen.items()):
            vals.append(f"('{qid}', '{t}', CAST({n} AS DOUBLE))")
    qterms_cte = (
        "qterms AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(query_id, term, qtf))"
    )
    conds = []
    for qid, p in parsed.items():
        c = []
        for t in sorted(set(p.must)):
            c.append(f"d.doc_id IN (SELECT doc_id FROM postings WHERE term = '{t}')")
        for ph in p.phrases:
            c.append(
                "d.doc_id IN (SELECT doc_id FROM qsnormed WHERE contains(norm, '"
                + _phrase_needle(ph)
                + "'))"
            )
        if not p.must and not p.phrases:
            terms = ", ".join(f"'{t}'" for t in sorted(set(p.should)))
            c.append(f"d.doc_id IN (SELECT doc_id FROM postings WHERE term IN ({terms}))")
        if p.must_not:
            terms = ", ".join(f"'{t}'" for t in sorted(set(p.must_not)))
            c.append(
                f"d.doc_id NOT IN (SELECT doc_id FROM postings WHERE term IN ({terms}))"
            )
        conds.append(
            f"SELECT '{qid}' AS query_id, d.doc_id FROM dstats d WHERE "
            + " AND ".join(c)
        )
    cand = " UNION ALL ".join(conds)
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qterms_cte)},
qsnormed AS (
  SELECT doc_id, ' ' || array_to_string({duckdb_tokens_expr('text')}, ' ') || ' ' AS norm
  FROM documents
),
cand AS ({cand}),
ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS INT) AS rank
  FROM scored s JOIN cand USING (query_id, doc_id)
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_QUERY_STRING_TOPK = _sql_query_string()


#: match_phrase_prefix fixture set: (query_id, exact tokens, prefix)
MPP_QUERIES: list[tuple[str, list[str], str]] = [
    ("mpp-0001", ["merge", "sort"], "win"),
    ("mpp-0002", ["hash"], "jo"),
    ("mpp-0003", ["the"], "cust"),
]


def q_match_phrase_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_phrase_prefix`` parity: adjacency of the exact
    tokens, final slot expanded by prefix; score = matching base
    positions (phrase frequency). Evaluated entirely with JVM
    higher-order functions over the analyzed token array (codegen, no
    Python workers)."""
    from .operators.querystring import match_phrase_prefix_counts

    return match_phrase_prefix_counts(_docs(spark, sf_dir), MPP_QUERIES, k=DEFAULT_K)


def _sql_match_phrase_prefix(k: int = DEFAULT_K) -> str:
    arms = []
    for qid, toks, pre in MPP_QUERIES:
        m = len(toks)
        preds = [f"tk[i+{j}] = '{t}'" if j else f"tk[i] = '{t}'" for j, t in enumerate(toks)]
        preds.append(f"starts_with(tk[i+{m}], '{pre}')")
        arms.append(
            f"""SELECT '{qid}' AS query_id, doc_id,
         CASE WHEN len(tk) <= {m} THEN CAST(0 AS BIGINT)
              ELSE CAST(len(list_filter(range(1, len(tk)-{m}+1),
                                        i -> {' AND '.join(preds)})) AS BIGINT) END AS score
  FROM tl"""
        )
    union = "\n  UNION ALL\n  ".join(arms)
    return f"""
WITH tl AS (SELECT doc_id, {duckdb_tokens_expr('text')} AS tk FROM documents),
hits AS (
  {union}
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM hits WHERE score > 0
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_MATCH_PHRASE_PREFIX_TOPK = _sql_match_phrase_prefix()


#: regexp-query fixture patterns (ES anchors the pattern to the whole
#: term; these are full-match patterns over the term dictionary)
_REGEXPS = ["so.*", "h.sh", "(scan|stream)"]


def q_regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``regexp`` query parity with the constant-score multi-term
    rewrite (same as wildcard/prefix): every dictionary term FULLY
    matching the pattern matches; score = count of distinct matching
    terms in the doc; top-10 per pattern, ties doc_id asc. The regexp
    runs over the metadata-sized term dictionary, never the postings
    or the corpus — exactly what ES pays (an automaton walk of the
    term dict), then expanded terms broadcast into a term-pushed
    postings join."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ts = P.term_stats(posts)
    exp = None
    for pat in _REGEXPS:
        e = ts.filter(F.col("term").rlike(f"^(?:{pat})$")).select(
            F.lit(pat).alias("pattern"), "term"
        )
        exp = e if exp is None else exp.union(e)
    scored = (
        posts.select("term", "doc_id")
        .join(F.broadcast(exp), "term")
        .groupBy("pattern", "doc_id")
        .agg(F.countDistinct("term").alias("score"))
    )
    w = Window.partitionBy("pattern").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("pattern", "rank", "doc_id", F.col("score").cast("long").alias("score"))
    )


SQL_REGEXP_TOPK = f"""
WITH {_DUCK_TOKS},
dterms AS (SELECT DISTINCT doc_id, term FROM toks),
pat(pattern) AS (VALUES {", ".join(f"('{p}')" for p in _REGEXPS)}),
matches AS (
  SELECT p.pattern, t.doc_id, CAST(count(DISTINCT t.term) AS BIGINT) AS score
  FROM dterms t JOIN pat p ON regexp_full_match(t.term, p.pattern)
  GROUP BY p.pattern, t.doc_id
),
ranked AS (
  SELECT pattern, doc_id, score,
         CAST(row_number() OVER (PARTITION BY pattern ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM matches
)
SELECT pattern, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_nested_buckets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested BUCKET aggregation parity: ``date_histogram`` (day)
    with a ``terms`` sub-aggregation on event_type, metrics per leaf
    bucket. One scan -> partial agg -> single exchange on the compound
    key; the two-level bucket tree ES renders is a reshape of these
    flat rows."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


SQL_NESTED_BUCKETS_AGG = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""


#: adjacency_matrix named filters (ES key format "A&B" for pairwise
#: intersections). Deliberately overlapping, like q_filters_agg.
_ADJ_KEYS = ["A", "B", "C", "A&B", "A&C", "B&C"]


def q_adjacency_matrix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation parity: named filters A/B/C
    evaluated over one scan, with a bucket per filter AND per pairwise
    intersection (keyed "A&B" like ES), empty buckets omitted. Unlike
    ``filters`` (one union branch per bucket) this is ONE partial agg
    producing a single metadata-sized row of conditional counts,
    unpivoted with ``stack`` — the shape that survives any corpus size
    because the exchange carries 6 longs, never buckets of docs."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    base = docs.select(
        (F.col("lang") == "en").alias("fa"),
        (F.size(tokens_col("text")) < 60).alias("fb"),
        F.array_contains(tokens_col("text"), "the").alias("fc"),
    )

    def _cnt(cond: Column) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    conds = {
        "A": F.col("fa"),
        "B": F.col("fb"),
        "C": F.col("fc"),
        "A&B": F.col("fa") & F.col("fb"),
        "A&C": F.col("fa") & F.col("fc"),
        "B&C": F.col("fb") & F.col("fc"),
    }
    agg = base.agg(*[_cnt(conds[k]).alias(f"k{i}") for i, k in enumerate(_ADJ_KEYS)])
    stack_args = ", ".join(f"'{k}', k{i}" for i, k in enumerate(_ADJ_KEYS))
    return agg.selectExpr(
        f"stack({len(_ADJ_KEYS)}, {stack_args}) AS (bucket, n_docs)"
    ).filter(F.col("n_docs") > 0)


SQL_ADJACENCY_MATRIX_AGG = f"""
WITH flags AS (
  SELECT (lang = 'en') AS fa,
         (len({duckdb_tokens_expr('text')}) < 60) AS fb,
         list_contains({duckdb_tokens_expr('text')}, 'the') AS fc
  FROM documents
),
m AS (
  SELECT CAST(sum(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT) AS ka,
         CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT) AS kb,
         CAST(sum(CASE WHEN fc THEN 1 ELSE 0 END) AS BIGINT) AS kc,
         CAST(sum(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS kab,
         CAST(sum(CASE WHEN fa AND fc THEN 1 ELSE 0 END) AS BIGINT) AS kac,
         CAST(sum(CASE WHEN fb AND fc THEN 1 ELSE 0 END) AS BIGINT) AS kbc
  FROM flags
)
SELECT bucket, n_docs FROM (
  SELECT 'A' AS bucket, ka AS n_docs FROM m
  UNION ALL SELECT 'B', kb FROM m
  UNION ALL SELECT 'C', kc FROM m
  UNION ALL SELECT 'A&B', kab FROM m
  UNION ALL SELECT 'A&C', kac FROM m
  UNION ALL SELECT 'B&C', kbc FROM m
) WHERE n_docs > 0
"""


def q_weighted_avg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``weighted_avg`` aggregation parity: per ``lang`` bucket, the
    average of ``n_chars`` weighted by token count (value field +
    weight field, ES's two-field contract). The weighted numerator and
    denominator are accumulated as EXACT integers (both fields are
    ints), so the single final double division is bit-identical across
    engines and accumulation orders — no float-sum order hazard."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    dl = F.size(tokens_col("text")).cast("long")
    return docs.groupBy("lang").agg(
        F.round(
            F.sum(F.col("n_chars").cast("long") * dl).cast("double")
            / F.sum(dl).cast("double"),
            6,
        ).alias("weighted_avg_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_WEIGHTED_AVG_AGG = f"""
SELECT lang,
       round(CAST(sum(CAST(n_chars AS BIGINT) * len({duckdb_tokens_expr('text')})) AS DOUBLE)
             / CAST(sum(CAST(len({duckdb_tokens_expr('text')}) AS BIGINT)) AS DOUBLE), 6)
         AS weighted_avg_chars,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


#: completion-suggester probes (prefixes) and page size
_COMPLETE_PREFIXES = ["s", "me", "pa"]
_COMPLETE_SIZE = 5


def q_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion-suggester parity (the ``suggest`` endpoint's
    prefix autocomplete): for each probe prefix, the top-5 dictionary
    terms extending it, ranked by popularity (df desc, term asc — the
    suggester's default weight). Answered ENTIRELY from the term
    dictionary (metadata-sized; postings never touched) — the FST
    prefix-walk expressed as a dictionary range predicate, which the
    physical termdict serves as a pushed StringStartsWith
    (q_prefix_topk's plan test covers that pushdown)."""
    docs = _docs(spark, sf_dir)
    ts = P.term_stats(P.build_postings(docs))
    probes = literal_df(
        spark, [(p,) for p in _COMPLETE_PREFIXES], "prefix string"
    )
    matched = ts.join(
        F.broadcast(probes), F.col("term").startswith(F.col("prefix"))
    ).select("prefix", "term", F.col("df").cast("long").alias("df"))
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        matched.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _COMPLETE_SIZE)
        .select("prefix", "rank", "term", "df")
    )


SQL_COMPLETION_SUGGEST = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
probes(prefix) AS (VALUES {", ".join(f"('{p}')" for p in _COMPLETE_PREFIXES)}),
matched AS (
  SELECT p.prefix, t.term, t.df
  FROM tstats t JOIN probes p ON starts_with(t.term, p.prefix)
),
ranked AS (
  SELECT prefix, term, df,
         CAST(row_number() OVER (PARTITION BY prefix ORDER BY df DESC, term ASC) AS INT) AS rank
  FROM matched
)
SELECT prefix, rank, term, df FROM ranked WHERE rank <= {_COMPLETE_SIZE}
"""


#: terms_set query: the candidate term set, and the per-doc dynamic
#: threshold (ES minimum_should_match_field — here derived from
#: doclen: long docs must match 3 of the set, short docs 2)
_TERMS_SET = ["hash", "join", "merge", "sort"]
_TERMS_SET_LONG_DOCLEN = 60


def q_terms_set_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms_set`` query parity: a doc is a candidate when it
    contains at least ``m(doc)`` DISTINCT terms of the set, where the
    threshold is a PER-DOC field (``minimum_should_match_field``) —
    here 3 for long docs (doclen >= 60) and 2 otherwise. Candidates
    keep their full BM25 score over the set terms they match (bool
    should semantics), under the engine's fixed sort-by-term
    accumulation. The dynamic threshold rides the same per-(doc)
    aggregation as the score — zero extra shuffles vs the OR query
    (the difference from q_min_should_match_topk's constant m)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    dfs = {
        r["term"]: int(r["df"])
        for r in ts.filter(F.col("term").isin(_TERMS_SET)).collect()
    }
    qterms = literal_df(
        spark,
        [("ts-1", t, bm25.idf(n_docs, dfs.get(t, 0))) for t in sorted(_TERMS_SET)],
        "query_id string, term string, w double",
    )
    posts_q = posts.filter(F.col("term").isin(_TERMS_SET))
    cand = posts_q.join(F.broadcast(qterms), "term").join(ds, "doc_id")
    contrib = bm25.contrib_col(F.col("w"), F.col("tf"), F.col("doclen"), avgdl, CFG)
    required = F.when(
        F.col("doclen") >= _TERMS_SET_LONG_DOCLEN, F.lit(3)
    ).otherwise(F.lit(2))
    scored = (
        cand.select(
            "query_id", "doc_id", "term", contrib.alias("contrib"), required.alias("req")
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
            F.countDistinct("term").alias("_nt"),
            F.first("req").alias("_req"),
        )
        .filter(F.col("_nt") >= F.col("_req"))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]), 6
            ).alias("score"),
        )
    )
    return bm25.rank(scored, DEFAULT_K)


def _sql_terms_set() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    terms = ", ".join(f"('{t}')" for t in sorted(_TERMS_SET))
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qterms(term) AS (VALUES {terms}),
contribs AS (
  SELECT p.doc_id, p.term,
         ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib,
         CASE WHEN d.doclen >= {_TERMS_SET_LONG_DOCLEN} THEN 3 ELSE 2 END AS req
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT doc_id, round(sum(contrib), 6) AS score
  FROM contribs GROUP BY doc_id
  HAVING count(DISTINCT term) >= max(req)
),
ranked AS (
  SELECT 'ts-1' AS query_id, doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_TERMS_SET_TOPK = _sql_terms_set()


# ---------------------------------------------------------------------------
# percentile_ranks / matrix_stats / bucket_sort / rank_feature
# (remaining ES aggregation + query-DSL parity rows)

#: percentile_ranks probe values (ES ``percentile_ranks: {field:
#: value, values: [...]}``)
_PCT_RANK_VALUES = [5.0, 50.0, 95.0]


def q_percentile_ranks_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentile_ranks`` aggregation parity: for each probe value
    v, the percentage of the field's values <= v, per bucket — the
    inverse lookup of q_percentiles_agg. Exact CDF semantics here
    (``100 * count(value <= v) / count(*)``, one partial-agg scan, no
    sort) so the oracle hash-matches; ES itself interpolates on a
    t-digest — the same sketch swap documented on q_percentiles_agg is
    what a 100 TB deployment makes, and the exact form is the sketch's
    convergence target."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(
                F.avg((F.col("value") <= F.lit(v)).cast("double")) * 100.0, 6
            ).alias(f"rank_{int(v)}")
            for v in _PCT_RANK_VALUES
        ]
    )


SQL_PERCENTILE_RANKS_AGG = f"""
SELECT event_type,
       {", ".join(f"round(100.0 * avg(CASE WHEN value <= {v} THEN 1.0 ELSE 0.0 END), 6) AS rank_{int(v)}" for v in _PCT_RANK_VALUES)}
FROM events GROUP BY event_type
"""


def q_matrix_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``matrix_stats`` aggregation parity over two numeric fields
    (``value``, ``user_id``): per-field count/mean/sample-variance plus
    the cross-field sample covariance and Pearson correlation — the
    moment subset whose definitions are identical in Spark and DuckDB
    (skewness/kurtosis use different small-sample corrections across
    engines, so they are out of the hash contract). One partial-agg
    scan; every statistic is a mergeable moment sketch, so the plan is
    map-side combine + one tiny exchange at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("value_mean"),
        F.round(F.var_samp("value"), 6).alias("value_variance"),
        F.round(F.avg("user_id"), 6).alias("user_id_mean"),
        F.round(F.var_samp("user_id"), 6).alias("user_id_variance"),
        F.round(F.covar_samp("value", "user_id"), 6).alias("covariance"),
        F.round(F.corr("value", "user_id"), 6).alias("correlation"),
    )
    return row


SQL_MATRIX_STATS_AGG = """
SELECT count(*) AS n,
       round(avg(value), 6) AS value_mean,
       round(var_samp(value), 6) AS value_variance,
       round(avg(user_id), 6) AS user_id_mean,
       round(var_samp(user_id), 6) AS user_id_variance,
       round(covar_samp(value, user_id), 6) AS covariance,
       round(corr(value, user_id), 6) AS correlation
FROM events
"""


#: bucket_sort page: skip the top bucket, take the next four
_BUCKET_SORT_FROM, _BUCKET_SORT_SIZE = 1, 4


def q_bucket_sort_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_sort`` pipeline aggregation parity: order the terms
    buckets by a metric (sum of ``value`` desc, bucket key asc as the
    deterministic tiebreak), then apply from/size truncation — the
    bucket-level pagination ES runs after the agg tree. The window runs
    over the BUCKET SERIES (O(#event_types) rows), never the corpus;
    the corpus-sized work is the same partial-agg scan as
    q_terms_agg."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    w = Window.orderBy(F.desc("sum_value"), F.asc("event_type"))
    return (
        buckets.withColumn("bucket_rank", F.row_number().over(w).cast("int"))
        .filter(
            (F.col("bucket_rank") > _BUCKET_SORT_FROM)
            & (F.col("bucket_rank") <= _BUCKET_SORT_FROM + _BUCKET_SORT_SIZE)
        )
    )


SQL_BUCKET_SORT_PAGE = f"""
WITH buckets AS (
  SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM events GROUP BY event_type
),
ranked AS (
  SELECT event_type, n_events, sum_value,
         CAST(row_number() OVER (ORDER BY sum_value DESC, event_type ASC) AS INT)
           AS bucket_rank
  FROM buckets
)
SELECT * FROM ranked
WHERE bucket_rank > {_BUCKET_SORT_FROM}
  AND bucket_rank <= {_BUCKET_SORT_FROM + _BUCKET_SORT_SIZE}
"""


#: rank_feature saturation pivot (ES default is the field's geometric
#: mean; a fixed literal keeps the contract deterministic)
_RANK_FEATURE_PIVOT = 500.0
_RANK_FEATURE_BOOST = 2.0


def q_rank_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_feature`` query parity (``bool.should: [{match},
    {rank_feature: {field, saturation: {pivot}, boost}}]``): BM25
    relevance plus a static per-document feature prior —
    ``boost * f / (f + pivot)`` with ``f = n_chars`` — the standard
    popularity/quality-signal blend. Candidates stay the match
    clause's (a rank_feature should-clause never matches on its own
    here); df/avgdl are index-wide. The feature join touches only the
    scored candidate rows, and at scale the feature column lives in
    the doc store the fetch phase already reads."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    feat = docs.select(
        "doc_id",
        (
            F.lit(_RANK_FEATURE_BOOST)
            * F.col("n_chars")
            / (F.col("n_chars") + F.lit(_RANK_FEATURE_PIVOT))
        ).alias("_sat"),
    )
    # round the first-pass score to 6 BEFORE the blend: the oracle's
    # shared scored-CTE reports rounded scores, and the contract keys
    # every downstream rank on the reported number
    total = scored.join(feat, "doc_id").select(
        "query_id",
        "doc_id",
        F.round(F.round(F.col("score"), 6) + F.col("_sat"), 6).alias("score"),
    )
    return bm25.rank(total, DEFAULT_K)


SQL_RANK_FEATURE_TOPK = f"""
{_sql_bm25_scored_cte()},
with_feat AS (
  SELECT s.query_id, s.doc_id,
         round(s.score + {_RANK_FEATURE_BOOST!r} * d.n_chars
               / (d.n_chars + {_RANK_FEATURE_PIVOT!r}), 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM with_feat
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


# ---------------------------------------------------------------------------
# ES aggregation/query parity, batch 7: rare_terms, multi_terms,
# string_stats, boxplot, median_absolute_deviation, t_test, sibling
# pipeline aggs, serial_diff, auto_date_histogram, dis_max,
# constant_score, ids, percolate

#: rare_terms cutoff (ES ``max_doc_count``, default 1; 3 here so the
#: sf0.01 fixture yields a non-trivial rare set)
_RARE_MAX_DOC_COUNT = 3


def q_rare_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rare_terms`` aggregation parity: the long-tail buckets a
    ``terms`` agg ordered by count ASC would surface — buckets whose
    doc count is <= ``max_doc_count`` (here over the integerized
    ``value`` field; the transcripts vocabulary is too head-heavy to
    have rare terms at test scale). ES implements this with a CuckooFilter
    sketch to avoid materializing every bucket; the exact form here is
    one partial-agg scan + HAVING, and the sketch swap is the same
    exact->approx trade documented on q_percentiles_agg."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor("value").cast("long").alias("value_bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") <= _RARE_MAX_DOC_COUNT)
    )


SQL_RARE_TERMS_AGG = f"""
SELECT CAST(floor(value) AS BIGINT) AS value_bucket, count(*) AS doc_count
FROM events GROUP BY 1 HAVING count(*) <= {_RARE_MAX_DOC_COUNT}
"""


_MULTI_TERMS_SIZE = 10


def q_multi_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_terms`` aggregation parity: compound buckets over
    (lang, source) with a sub-metric, ordered by doc count desc with
    the compound key as the deterministic tie-break, truncated to
    ``size``. One partial-agg scan; the rank window runs over the
    bucket series (O(#lang x #source)), never the corpus."""
    d = _docs(spark, sf_dir)
    b = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )
    w = Window.orderBy(F.desc("doc_count"), F.asc("lang"), F.asc("source"))
    return (
        b.withColumn("bucket_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("bucket_rank") <= _MULTI_TERMS_SIZE)
    )


SQL_MULTI_TERMS_AGG = f"""
WITH b AS (
  SELECT lang, source, count(*) AS doc_count, round(avg(n_chars), 6) AS avg_chars
  FROM documents GROUP BY 1, 2
)
SELECT lang, source, doc_count, avg_chars,
       CAST(row_number() OVER (ORDER BY doc_count DESC, lang ASC, source ASC) AS INT)
         AS bucket_rank
FROM b QUALIFY bucket_rank <= {_MULTI_TERMS_SIZE}
"""


def q_string_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``string_stats`` aggregation parity (``show_distribution``
    off): count / min / max / avg character length of the text field
    plus the corpus-wide Shannon entropy (log2) of the CHARACTER
    distribution — ES's collected-shard semantics. Lengths are one
    partial-agg scan; the entropy distribution is a char explode ->
    count groupBy whose key space is the alphabet (tiny at any corpus
    size), so the second exchange moves O(|alphabet|) rows."""
    d = _docs(spark, sf_dir)
    stats = d.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.min(F.length("text")).cast("long").alias("min_length"),
        F.max(F.length("text")).cast("long").alias("max_length"),
        F.round(F.avg(F.length("text")), 6).alias("avg_length"),
    )
    dist = (
        d.select(F.explode(F.split(F.col("text"), "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    tot = dist.agg(F.sum("n").alias("t"))
    ent = (
        dist.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                -F.sum((F.col("n") / F.col("t")) * F.log2(F.col("n") / F.col("t"))), 6
            ).alias("entropy")
        )
    )
    return stats.crossJoin(F.broadcast(ent))


SQL_STRING_STATS_AGG = """
WITH chars AS (SELECT unnest(string_split(text, '')) AS c FROM documents),
dist AS (SELECT c, CAST(count(*) AS DOUBLE) AS n FROM chars WHERE c <> '' GROUP BY c),
tot AS (SELECT sum(n) AS t FROM dist),
ent AS (SELECT round(-sum((n/t)*log2(n/t)), 6) AS entropy FROM dist, tot),
st AS (
  SELECT count(*) AS n_values,
         CAST(min(length(text)) AS BIGINT) AS min_length,
         CAST(max(length(text)) AS BIGINT) AS max_length,
         round(avg(length(text)), 6) AS avg_length
  FROM documents
)
SELECT st.*, ent.entropy FROM st, ent
"""


def q_boxplot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boxplot`` aggregation parity per bucket: min / q1 / median
    / q3 / max of the value field. Exact linear-interpolation quantiles
    (Spark ``percentile`` == DuckDB ``quantile_cont``) for the hash
    contract; ES runs a t-digest — the same exact->sketch swap
    documented on q_percentiles_agg is the 100 TB path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("q2"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q3"),
        F.round(F.max("value"), 6).alias("v_max"),
    )


SQL_BOXPLOT_AGG = """
SELECT event_type,
       round(min(value), 6) AS v_min,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.5), 6) AS q2,
       round(quantile_cont(value, 0.75), 6) AS q3,
       round(max(value), 6) AS v_max
FROM events GROUP BY event_type
"""


def q_mad_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``median_absolute_deviation`` aggregation parity per bucket:
    median(|x - median(x)|). Two exact-median passes — the per-bucket
    median table is bucket-count-sized, so the second pass joins a
    broadcast relation and re-scans once. ES computes both medians on
    one t-digest; same sketch-swap note as q_percentiles_agg."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("_med")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("_med")), F.lit(0.5)), 6
            ).alias("mad")
        )
    )


SQL_MAD_AGG = """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1)
SELECT e.event_type, round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad
FROM events e JOIN med USING (event_type) GROUP BY e.event_type
"""


#: t_test groups (ES ``t_test: {a: {filter}, b: {filter}, type: heteroscedastic}``)
_TTEST_A, _TTEST_B = "click", "view"


def q_t_test_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``t_test`` aggregation parity (heteroscedastic / Welch): the
    t statistic between two filtered populations of the value field,
    from single-pass conditional moments (mean, sample variance, n per
    side — all mergeable partial aggs). ES reports the p-value, a
    client-side CDF transform of (t, df) with no distributed part; the
    deterministic distributed statistic is the contract here."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("event_type") == _TTEST_A
    b = F.col("event_type") == _TTEST_B
    m = ev.agg(
        F.avg(F.when(a, F.col("value"))).alias("m1"),
        F.var_samp(F.when(a, F.col("value"))).alias("v1"),
        F.count(F.when(a, F.lit(1))).cast("double").alias("n1"),
        F.avg(F.when(b, F.col("value"))).alias("m2"),
        F.var_samp(F.when(b, F.col("value"))).alias("v2"),
        F.count(F.when(b, F.lit(1))).cast("double").alias("n2"),
    )
    return m.select(
        F.round(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")),
            6,
        ).alias("t_stat")
    )


SQL_T_TEST_AGG = f"""
WITH m AS (
  SELECT avg(value) FILTER (event_type = '{_TTEST_A}') AS m1,
         var_samp(value) FILTER (event_type = '{_TTEST_A}') AS v1,
         CAST(count(*) FILTER (event_type = '{_TTEST_A}') AS DOUBLE) AS n1,
         avg(value) FILTER (event_type = '{_TTEST_B}') AS m2,
         var_samp(value) FILTER (event_type = '{_TTEST_B}') AS v2,
         CAST(count(*) FILTER (event_type = '{_TTEST_B}') AS DOUBLE) AS n2
  FROM events
)
SELECT round((m1 - m2) / sqrt(v1/n1 + v2/n2), 6) AS t_stat FROM m
"""


def q_sibling_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sibling pipeline aggregations parity — ``avg_bucket`` /
    ``min_bucket`` / ``max_bucket`` / ``sum_bucket`` / ``stats_bucket``
    over a daily date_histogram's per-bucket sum(value). The pipeline
    runs over the BUCKET SERIES (O(#days) rows after the corpus-sized
    partial agg), exactly like q_pipeline_aggs' parent-pipeline rows.
    Bucket sums are quantized to 6 places BEFORE the sibling pass on
    both engines so the second-level floats hash stably."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("bsum"))
    return daily.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.avg("bsum"), 6).alias("avg_bucket"),
        F.round(F.min("bsum"), 6).alias("min_bucket"),
        F.round(F.max("bsum"), 6).alias("max_bucket"),
        F.round(F.sum("bsum"), 6).alias("sum_bucket"),
    )


SQL_SIBLING_PIPELINE_AGGS = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS bsum
  FROM events GROUP BY 1
)
SELECT count(*) AS n_buckets,
       round(avg(bsum), 6) AS avg_bucket,
       round(min(bsum), 6) AS min_bucket,
       round(max(bsum), 6) AS max_bucket,
       round(sum(bsum), 6) AS sum_bucket
FROM daily
"""


_SERIAL_DIFF_LAG = 7


def q_serial_diff_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``serial_diff`` pipeline aggregation parity (lag=7): the
    week-over-week difference of a daily date_histogram's sum(value).
    The lag window is ordered over the bucket series only; the first
    ``lag`` buckets emit null, like ES. Bucket sums quantized to 6 on
    both engines before differencing."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("sum_value"))
    w = Window.orderBy("day")
    return daily.withColumn(
        "diff7",
        F.round(F.col("sum_value") - F.lag("sum_value", _SERIAL_DIFF_LAG).over(w), 6),
    )


SQL_SERIAL_DIFF_AGG = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, sum_value,
       round(sum_value - lag(sum_value, {_SERIAL_DIFF_LAG}) OVER (ORDER BY day), 6)
         AS diff7
FROM daily
"""


#: auto_date_histogram: target bucket count and the fixed-width
#: interval ladder (seconds). ES rounds to calendar intervals; the
#: deterministic cross-engine contract here uses fixed widths on
#: integer epoch-microseconds (calendar rounding differs between
#: engines' session-timezone handling, width arithmetic cannot).
_AUTO_HIST_TARGET = 10
_AUTO_HIST_LADDER_SEC = [60, 3600, 86400, 604800, 2592000, 7776000, 31536000]


def q_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``auto_date_histogram`` parity: pick the smallest interval
    from a fixed ladder such that the series spans <= ``target``
    buckets, then histogram on it. The span derives from one
    min/max agg (mergeable, metadata-sized result broadcast back), so
    the plan is two scans of the pushed-down (ts, value) columns and
    no driver decision — the interval choice itself is an expression,
    identical on both engines over integer microseconds."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the UTC-session cast makes unix_micros legal,
    # and every output is a DIFFERENCE of epochs, so the interpretation
    # offset cancels between engines
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        F.min(us).alias("mn"), (F.max(us) - F.min(us)).alias("span")
    )
    width = None
    for w_sec in reversed(_AUTO_HIST_LADDER_SEC):
        cond = F.col("span") < F.lit(w_sec * _AUTO_HIST_TARGET * 1_000_000)
        width = F.when(cond, F.lit(w_sec)) if width is None else F.when(cond, F.lit(w_sec)).otherwise(width)
    # fall through to the largest rung when the span exceeds the ladder
    width = F.coalesce(width, F.lit(_AUTO_HIST_LADDER_SEC[-1]))
    b = bounds.select("mn", width.cast("long").alias("width_sec"))
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            F.floor((us - F.col("mn")) / (F.col("width_sec") * 1_000_000))
            .cast("long")
            .alias("bucket"),
            "width_sec",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def _sql_auto_hist_width() -> str:
    expr = str(_AUTO_HIST_LADDER_SEC[-1])
    for w_sec in _AUTO_HIST_LADDER_SEC[-2::-1]:
        expr = (
            f"CASE WHEN span < {w_sec * _AUTO_HIST_TARGET * 1_000_000} "
            f"THEN {w_sec} ELSE {expr} END"
        )
    return expr


SQL_AUTO_DATE_HISTOGRAM = f"""
WITH bounds AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) - min(epoch_us(ts)) AS span
  FROM events
),
b AS (SELECT mn, CAST({_sql_auto_hist_width()} AS BIGINT) AS width_sec FROM bounds)
SELECT CAST(floor((epoch_us(ts) - b.mn) / (b.width_sec * 1000000)) AS BIGINT) AS bucket,
       b.width_sec,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events, b GROUP BY 1, 2
"""


#: dis_max tie_breaker (ES default 0.0 collapses to pure max; 0.3 is
#: the documented typical setting and exercises the blend)
_DIS_MAX_TIE = 0.3


def q_dis_max_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``dis_max`` query parity with per-term subqueries:
    score = max(term contributions) + tie_breaker * (sum - max) —
    the best-matching clause dominates instead of the bool query's
    coordinated sum. Contributions are the same unrounded BM25 terms
    as q_explain_scores (proven hash-parity with the oracle's contribs
    CTE); only the final blended score is quantized. Plan shape is
    identical to q_bm25_topk: term-pushed postings join broadcast
    query weights, one groupBy, window top-k."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    tdf = bm25.collect_query_term_stats(ts, REFERENCE_QUERIES)
    qterms = bm25.query_term_weights(spark, REFERENCE_QUERIES, tdf, n_docs)
    qterm_list = sorted({t for _, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)})
    cand = (
        posts.filter(F.col("term").isin(qterm_list))
        .join(F.broadcast(qterms), "term")
        .join(ds, "doc_id")
    )
    contrib = bm25.contrib_col(F.col("w"), F.col("tf"), F.col("doclen"), avgdl, CFG)
    scored = (
        cand.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.max("c") + F.lit(_DIS_MAX_TIE) * (F.sum("c") - F.max("c")), 6
            ).alias("score")
        )
    )
    return bm25.rank(scored, DEFAULT_K)


SQL_DIS_MAX_TOPK = f"""
{_sql_bm25_scored_cte()},
dis AS (
  SELECT query_id, doc_id,
         round(max(contrib) + {_DIS_MAX_TIE!r} * (sum(contrib) - max(contrib)), 6)
           AS score
  FROM contribs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM dis
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


_CONSTANT_SCORE_TERM = "vector"
_CONSTANT_SCORE_BOOST = 1.2
_CONSTANT_SCORE_K = 20


def q_constant_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``constant_score`` query parity: a filter-context term query
    whose every hit scores exactly ``boost`` — no BM25 statistics are
    consulted, which is why ES caches these clauses as bitsets. Here
    the filter is a term-pushed postings probe (partition-prunable on
    the physical index); ranking degenerates to the deterministic
    doc_id order."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    hits = posts.filter(F.col("term") == _CONSTANT_SCORE_TERM).select("doc_id")
    w = Window.orderBy(F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _CONSTANT_SCORE_K)
        .select(
            "rank", "doc_id", F.lit(_CONSTANT_SCORE_BOOST).alias("score")
        )
    )


SQL_CONSTANT_SCORE_TOPK = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
hits AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY doc_id ASC) AS INT) AS rank
  FROM postings WHERE term = '{_CONSTANT_SCORE_TERM}'
)
SELECT rank, doc_id, {_CONSTANT_SCORE_BOOST!r} AS score
FROM hits WHERE rank <= {_CONSTANT_SCORE_K}
"""


_IDS_QUERY_SET = [3, 17, 42, 123, 999_999_999]


def q_ids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``ids`` query parity: fetch documents by primary id, silently
    skipping ids that don't exist (the trailing sentinel). On the
    physical layout this is the doc-store point-read path (range-pruned
    by the id-clustered file layout assign_doc_ids writes); here it is
    an IN-list the scan pushes down (`PushedFilters: In(doc_id, ...)`)."""
    d = _docs(spark, sf_dir)
    return d.filter(F.col("doc_id").isin(_IDS_QUERY_SET)).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


SQL_IDS_QUERY = f"""
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id IN ({", ".join(str(i) for i in _IDS_QUERY_SET)})
"""


#: percolate candidate slice: docs with id < cap (a "new batch" being
#: matched against the registered query set)
_PERCOLATE_DOC_CAP = 50


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolator parity (reverse search): the reference query set
    is REGISTERED, and incoming documents are matched against it —
    (query_id, doc_id) pairs where the doc contains EVERY term of the
    query (match-query-with-AND percolation). The doc side is the
    incoming batch (id < cap), tokenized once; the query-terms table is
    metadata-sized and broadcast, so percolating a 100 TB day's batch
    is one scan + broadcast join + count-match groupBy per batch —
    no per-registered-query rescan, which is exactly why ES stores
    percolator queries in an index."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PERCOLATE_DOC_CAP)
    posts = P.build_postings(docs).select("term", "doc_id")
    qt = literal_df(
        spark,
        sorted({(q, t) for q, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)}),
        "query_id string, term string",
    )
    qn = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("_nq"))
    matched = (
        posts.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_nm"))
    )
    return (
        matched.join(F.broadcast(qn), "query_id")
        .filter(F.col("_nm") == F.col("_nq"))
        .select("query_id", "doc_id")
    )


SQL_PERCOLATE = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
qraw AS (SELECT * FROM {queries_sql_values()}),
qt AS (
  SELECT DISTINCT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term
  FROM qraw
),
qn AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
matched AS (
  SELECT qt.query_id, p.doc_id, count(*) AS nm
  FROM postings p JOIN qt USING (term)
  WHERE p.doc_id < {_PERCOLATE_DOC_CAP}
  GROUP BY 1, 2
)
SELECT m.query_id, m.doc_id
FROM matched m JOIN qn USING (query_id) WHERE m.nm = qn.nq
"""


# ---------------------------------------------------------------------------
# ES aggregation/query parity, batch 8: script_score, combined_fields,
# intervals, diversified_sampler, top_metrics, date_range,
# bucket_selector, value_count/missing/global, frequent_item_sets

_SCRIPT_SCORE_DIV = 100.0


def q_script_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``script_score`` query parity: rescale the relevance score
    with an arbitrary per-document script — here the multiplicative
    quality prior ``_score * (1 + ln(1 + n_chars/100))`` (rank_feature
    is the additive saturation variant; this is the free-form
    multiplicative one). The script runs as a JVM column expression on
    the already-scored candidates (never a Python UDF), so the plan is
    q_bm25_topk's plus one broadcast-sized projection; at 100 TB the
    feature column rides the doc store the fetch phase reads anyway."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    feat = docs.select(
        "doc_id",
        (
            F.lit(1.0)
            + F.log(F.lit(1.0) + F.col("n_chars") / F.lit(_SCRIPT_SCORE_DIV))
        ).alias("_mult"),
    )
    total = scored.join(feat, "doc_id").select(
        "query_id",
        "doc_id",
        F.round(F.round(F.col("score"), 6) * F.col("_mult"), 6).alias("score"),
    )
    return bm25.rank(total, DEFAULT_K)


SQL_SCRIPT_SCORE_TOPK = f"""
{_sql_bm25_scored_cte()},
rescored AS (
  SELECT s.query_id, s.doc_id,
         round(s.score * (1.0 + ln(1.0 + d.n_chars / {_SCRIPT_SCORE_DIV!r})), 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM rescored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_combined_fields_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``combined_fields`` query parity: term-centric scoring over
    several fields treated as ONE synthetic combined field — term
    freqs add across fields, doclen is the summed field length, and
    df/idf are computed on the combined postings (distinct from
    multi_match, which scores fields separately and blends). Realized
    by tokenizing the space-joined fields (text + source here): the
    whitespace join is tf/df-identical to a per-field union because
    the analyzer never emits a token spanning the boundary. Same
    single-shuffle naive-BM25 plan as q_bm25_topk."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat_ws(" ", "text", "source")
    )
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    return bm25.bm25_topk_naive(posts, ds, ts, REFERENCE_QUERIES, k=DEFAULT_K, cfg=CFG)


def _sql_combined_fields(k: int = DEFAULT_K) -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    combined = duckdb_tokens_expr("concat(text, ' ', source)")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({combined}) AS term FROM documents
),
postings AS (
  SELECT term, doc_id, CAST(count(*) AS INT) AS tf FROM toks GROUP BY term, doc_id
),
dstats AS (
  SELECT doc_id, CAST(len({combined}) AS INT) AS doclen FROM documents
),
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term),
contribs AS (
  SELECT q.query_id, p.doc_id,
         q.qtf * ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT query_id, doc_id, round(sum(contrib), 6) AS score
  FROM contribs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_COMBINED_FIELDS_TOPK = _sql_combined_fields()


#: intervals all_of(ordered, max_gaps): (query_id, t1, t2, t3, max_gaps)
_INTERVAL_QUERIES = [
    ("iv-1", "batch", "merge", "data", 4),
    ("iv-2", "sort", "join", "key", 6),
]


def q_intervals_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``intervals`` query parity (``all_of: {ordered: true,
    max_gaps}`` over three terms): a doc matches when the terms occur
    in order with total gap ``p3 - p1 - 2 <= max_gaps``; matches rank
    by summed BM25 of the three terms (the positional-query scoring
    contract q_phrase_topk/q_span_near_topk fix). Answered entirely
    FROM THE POSITIONAL INDEX: a three-way self-join of the terms'
    postings (term-pushed, so it touches 3 posting lists, never the
    corpus) with the gap test as nested JVM ``exists`` over the
    position arrays — O(tf^3) per candidate in the worst case but
    bounded by the posting lists' co-membership, the same cost Lucene
    pays walking interval iterators."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    iv = literal_df(
        spark,
        _INTERVAL_QUERIES,
        "query_id string, t1 string, t2 string, t3 string, max_gaps int",
    )
    iv_terms = sorted({t for _, t1, t2, t3, _ in _INTERVAL_QUERIES for t in (t1, t2, t3)})
    td_rows = (
        idx.termdict.filter(F.col("term").isin(iv_terms))
        .select("term", "df", "term_bucket")
        .collect()
    )
    dfs = {r["term"]: int(r["df"]) for r in td_rows}
    # partition-pruned block scan (the phrase/WAND pattern): read only
    # the probed terms' buckets, then decode just those posting lists
    buckets = sorted({int(r["term_bucket"]) for r in td_rows})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(iv_terms)
        )
    )

    def _contrib(tf_col: str, w: Column) -> Column:
        return bm25.contrib_col(w, F.col(tf_col), F.col("doclen"), avgdl, CFG)

    idf_map = F.create_map(
        *[x for t in iv_terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, dfs.get(t, 0))))]
    )
    base = posts.filter(F.col("term").isin(iv_terms))
    p1 = base.select(
        F.col("term").alias("t1"), "doc_id", F.col("tf").alias("tf1"),
        "doclen", F.col("positions").alias("pa"),
    )
    p2 = base.select(
        F.col("term").alias("t2"), "doc_id", F.col("tf").alias("tf2"),
        F.col("positions").alias("pb"),
    )
    p3 = base.select(
        F.col("term").alias("t3"), "doc_id", F.col("tf").alias("tf3"),
        F.col("positions").alias("pc"),
    )
    cand = (
        p1.join(F.broadcast(iv), "t1")
        .join(p2, ["t2", "doc_id"])
        .join(p3, ["t3", "doc_id"])
    )
    gaps = F.col("max_gaps").cast("long")
    matched = cand.filter(
        F.exists(
            "pa",
            lambda a: F.exists(
                "pb",
                lambda bp: (bp > a)
                & F.exists(
                    "pc", lambda c: (c > bp) & ((c - a - F.lit(2)) <= gaps)
                ),
            ),
        )
    )
    scored = matched.select(
        "query_id",
        "doc_id",
        F.round(
            _contrib("tf1", idf_map[F.col("t1")])
            + _contrib("tf2", idf_map[F.col("t2")])
            + _contrib("tf3", idf_map[F.col("t3")]),
            6,
        ).alias("score"),
    )
    return bm25.rank(scored, DEFAULT_K)


def _sql_intervals() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        f"('{q}', '{t1}', '{t2}', '{t3}', {g})" for q, t1, t2, t3, g in _INTERVAL_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
iv(query_id, t1, t2, t3, max_gaps) AS (VALUES {rows}),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
matched AS (
  SELECT DISTINCT v.query_id, a.doc_id
  FROM iv v
  JOIN posns a ON a.term = v.t1
  JOIN posns b ON b.doc_id = a.doc_id AND b.term = v.t2 AND b.pos > a.pos
  JOIN posns c ON c.doc_id = a.doc_id AND c.term = v.t3 AND c.pos > b.pos
   AND c.pos - a.pos - 2 <= v.max_gaps
),
qterms AS (
  SELECT query_id, t1 AS term FROM iv
  UNION ALL SELECT query_id, t2 FROM iv
  UNION ALL SELECT query_id, t3 FROM iv
),
contribs AS (
  SELECT q.query_id, p.doc_id,
         ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)) AS contrib
  FROM qterms q
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT ct.query_id, ct.doc_id, round(sum(ct.contrib), 6) AS score
  FROM contribs ct JOIN matched m ON ct.query_id = m.query_id AND ct.doc_id = m.doc_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_INTERVALS_TOPK = _sql_intervals()


#: diversified_sampler: query, per-lang cap, sample size, terms-agg size
_SAMPLER_QUERY_ID = "q-0001"
_SAMPLER_MAX_PER_LANG = 2
_SAMPLER_SHARD_SIZE = 50
_SAMPLER_TOP_TERMS = 10


def q_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``diversified_sampler`` + nested ``terms`` agg parity:
    restrict an aggregation to the top-scoring sample of a query's
    matches, at most ``max_docs_per_value`` docs per diversity field
    (lang), then count docs-containing-term over the sample.
    Deterministic ES analog: ES samples per shard in score order; here
    the sample IS the global top-``shard_size`` in (score, doc_id)
    order after the per-lang cap — two window functions over the
    scored candidates (broadcast-small), then one postings join that
    touches only sampled docs."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    sq = [(qid, qt) for qid, qt in REFERENCE_QUERIES if qid == _SAMPLER_QUERY_ID]
    scored = bm25.score_queries(posts, ds, ts, sq, CFG).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    lw = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    gw = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    samp = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("lr", F.row_number().over(lw))
        .filter(F.col("lr") <= _SAMPLER_MAX_PER_LANG)
        .withColumn("rn", F.row_number().over(gw))
        .filter(F.col("rn") <= _SAMPLER_SHARD_SIZE)
        .select("doc_id")
    )
    terms = (
        posts.join(F.broadcast(samp), "doc_id")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    tw = Window.orderBy(F.desc("doc_count"), F.asc("term"))
    return (
        terms.withColumn("rn", F.row_number().over(tw))
        .filter(F.col("rn") <= _SAMPLER_TOP_TERMS)
        .select("term", "doc_count")
    )


SQL_SAMPLER_AGG = f"""
{_sql_bm25_scored_cte()},
samp0 AS (
  SELECT s.doc_id, s.score, d.lang,
         row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) AS lr
  FROM scored s JOIN documents d USING (doc_id)
  WHERE s.query_id = '{_SAMPLER_QUERY_ID}'
),
samp AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM samp0 WHERE lr <= {_SAMPLER_MAX_PER_LANG}
  ) WHERE rn <= {_SAMPLER_SHARD_SIZE}
),
t AS (
  SELECT p.term, count(*) AS doc_count
  FROM postings p JOIN samp USING (doc_id) GROUP BY 1
),
ranked AS (
  SELECT term, doc_count, row_number() OVER (ORDER BY doc_count DESC, term ASC) AS rn
  FROM t
)
SELECT term, doc_count FROM ranked WHERE rn <= {_SAMPLER_TOP_TERMS}
"""


def q_top_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_metrics`` aggregation parity: per bucket (event_type),
    the metric values of the single top row under the agg's sort
    (latest ts, event_id as the deterministic tiebreak ES resolves by
    shard doc order). One window over the grouped scan — no join, no
    second pass; at 100 TB this is the classic 'argmax per key' that
    stays a single shuffle on the bucket key."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("top_ts"),
            F.round("value", 6).alias("top_value"),
        )
    )


SQL_TOP_METRICS_AGG = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS top_ts,
       round(value, 6) AS top_value
FROM (
  SELECT event_type, ts, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


_DATE_RANGE_EDGES = ("2024-01-10", "2024-01-20")


def q_date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_range`` aggregation parity (from inclusive, to
    exclusive, like ES): three buckets over the events timeline with
    per-bucket count + sum. The bucket key is a CASE over the scan —
    partial-aggregatable, single exchange on 3 keys."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    lo, hi = _DATE_RANGE_EDGES
    bucket = (
        F.when(F.col("ts") < F.lit(lo).cast("timestamp"), F.lit(f"*-{lo}"))
        .when(F.col("ts") < F.lit(hi).cast("timestamp"), F.lit(f"{lo}-{hi}"))
        .otherwise(F.lit(f"{hi}-*"))
    )
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


SQL_DATE_RANGE_AGG = f"""
SELECT CASE WHEN ts < TIMESTAMP '{_DATE_RANGE_EDGES[0]}' THEN '*-{_DATE_RANGE_EDGES[0]}'
            WHEN ts < TIMESTAMP '{_DATE_RANGE_EDGES[1]}' THEN '{_DATE_RANGE_EDGES[0]}-{_DATE_RANGE_EDGES[1]}'
            ELSE '{_DATE_RANGE_EDGES[1]}-*' END AS bucket,
       count(*) AS doc_count,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
"""


_BUCKET_SELECTOR_MIN_SUM = 3500.0
_BUCKET_SELECTOR_MIN_N = 3


def q_bucket_selector_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_selector`` pipeline agg parity: keep only buckets
    whose metrics pass a script predicate (``params.total > 3500 &&
    params.n >= 3``). In Spark the selector is a post-aggregation
    filter — Catalyst keeps it above the partial agg, so the plan is
    still scan -> partial -> one exchange -> final agg -> filter."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 6).alias("total"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(
            (F.col("total") > _BUCKET_SELECTOR_MIN_SUM)
            & (F.col("n_events") >= _BUCKET_SELECTOR_MIN_N)
        )
    )


SQL_BUCKET_SELECTOR_AGG = f"""
SELECT user_id, round(sum(value), 6) AS total, count(*) AS n_events
FROM events GROUP BY 1
HAVING round(sum(value), 6) > {_BUCKET_SELECTOR_MIN_SUM!r} AND count(*) >= {_BUCKET_SELECTOR_MIN_N}
"""


def q_value_count_missing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``value_count`` + ``missing`` + ``global`` agg parity in one
    row: total docs in scope (global), docs with a value for the field
    (value_count), docs missing it (missing). One partial-aggregated
    scan, no exchange beyond the final singleton."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("global_count"),
        F.count("value").alias("value_count"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("missing_count"),
    )


SQL_VALUE_COUNT_MISSING_AGG = """
SELECT count(*) AS global_count,
       count(value) AS value_count,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_count
FROM events
"""


_FIS_MIN_SUPPORT = 0.145


def q_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation parity at set size 2:
    baskets are (user_id, day) sessions, items are the event_types seen
    in a basket; emit every item PAIR whose support (fraction of
    baskets containing both) clears ``minimum_support``. Exact
    counting — a distinct-items self-join per basket, partial-agg'd on
    the pair — where ES runs the ECLAT sketch; same exact->approx
    trade documented on q_percentiles_agg. The basket self-join is
    keyed by basket id, so skew is bounded by items-per-basket (<=5
    event types), never by corpus size."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    n_baskets = b.select("user_id", "d").distinct().count()
    l = b.select("user_id", "d", F.col("event_type").alias("item_a"))
    r = b.select("user_id", "d", F.col("event_type").alias("item_b"))
    pairs = l.join(r, ["user_id", "d"]).filter(F.col("item_a") < F.col("item_b"))
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support_count"))
        .filter(F.col("support_count") >= F.lit(_FIS_MIN_SUPPORT) * F.lit(float(n_baskets)))
        .select(
            "item_a",
            "item_b",
            "support_count",
            F.round(F.col("support_count") / F.lit(float(n_baskets)), 6).alias("support"),
        )
    )


SQL_FREQUENT_ITEM_SETS = f"""
WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
n AS (SELECT count(*) AS nb FROM (SELECT DISTINCT user_id, d FROM b)),
p AS (
  SELECT a.event_type AS item_a, c.event_type AS item_b, count(*) AS support_count
  FROM b a JOIN b c ON a.user_id = c.user_id AND a.d = c.d AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT item_a, item_b, support_count,
       round(support_count * 1.0 / (SELECT nb FROM n), 6) AS support
FROM p WHERE support_count >= {_FIS_MIN_SUPPORT!r} * (SELECT nb FROM n)
"""


# ---------------------------------------------------------------------------
# ES aggregation/query parity, batch 9: knn (filtered), rrf retriever,
# pinned, random_sampler, change_point, categorize_text, span_first,
# min_score

_KNN_FILTER_LABEL = 3


def q_knn_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``knn`` search clause parity with a ``filter``: top-k by
    cosine similarity among ONLY the vectors passing the filter
    (``label = 3``) — ES applies knn filters DURING graph search, so
    the k results all satisfy the filter (post-filtering a plain top-k
    would return fewer). Exact search here (ES ``exact: true`` /
    script_score knn); the ANN scale path is q_ann_ivf_topk* — same
    contract, IVF cells as physical partitions. The filter is a
    pushed-down parquet predicate, so at 100 TB the scan reads only
    the filtered stripe."""
    from .operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label") == _KNN_FILTER_LABEL
    )
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10, exclude_id=0)


SQL_KNN_FILTERED_TOPK = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         round(list_inner_product(embedding::DOUBLE[], q.qv)
               / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cos_sim
  FROM embeddings CROSS JOIN q
  WHERE vec_id <> 0 AND label = {_KNN_FILTER_LABEL}
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank, vec_id, cos_sim
  FROM scored
)
SELECT rank, vec_id, cos_sim FROM ranked WHERE rank <= 10
"""


_RRF_K = 60          # ES rrf rank_constant default
_RRF_DEPTH = 100     # ES rrf rank_window_size
_RRF_QUERY_ID = "q-0001"


def q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rrf`` retriever parity (hybrid search, 8.14+): fuse a
    lexical BM25 ranking and a knn cosine ranking by reciprocal-rank
    fusion — score(doc) = sum over rankings of 1/(rank_constant +
    rank), over each ranking's top ``rank_window_size``. Embedding row
    vec_id carries the embedding of document doc_id (the synthetic
    corpus contract). Both input rankings are top-100 (driver-small
    after their own distributed top-k), so the fusion join is a
    broadcast-sized full outer join — at 100 TB the cost stays in the
    two underlying retrievals, which each already scale."""
    from .operators.similarity import cosine_topk

    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    rq = [(qid, qt) for qid, qt in REFERENCE_QUERIES if qid == _RRF_QUERY_ID]
    lex = bm25.bm25_topk_naive(posts, ds, ts, rq, k=_RRF_DEPTH, cfg=CFG)
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk(emb, _query_vec(spark, sf_dir), k=_RRF_DEPTH, exclude_id=0)
    l = lex.select(
        "doc_id", (F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank"))).alias("c_lex")
    )
    r = knn.select(
        F.col("vec_id").alias("doc_id"),
        (F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank"))).alias("c_knn"),
    )
    fused = l.join(r, "doc_id", "full").select(
        "doc_id",
        F.round(
            F.coalesce("c_lex", F.lit(0.0)) + F.coalesce("c_knn", F.lit(0.0)), 6
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("rank", "doc_id", "rrf_score")
    )


SQL_RRF_HYBRID_TOPK = f"""
{_sql_bm25_scored_cte()},
lex AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
    FROM scored WHERE query_id = '{_RRF_QUERY_ID}'
  ) WHERE r <= {_RRF_DEPTH}
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
ksc AS (
  SELECT vec_id,
         round(list_inner_product(embedding::DOUBLE[], qv.qv)
               / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_inner_product(qv.qv, qv.qv))), 6) AS cs
  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0
),
knn AS (
  SELECT doc_id, r FROM (
    SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS r
    FROM ksc
  ) WHERE r <= {_RRF_DEPTH}
),
fused AS (
  SELECT coalesce(l.doc_id, k.doc_id) AS doc_id,
         round(coalesce(1.0/({_RRF_K} + l.r), 0) + coalesce(1.0/({_RRF_K} + k.r), 0), 6) AS rrf_score
  FROM lex l FULL JOIN knn k ON l.doc_id = k.doc_id
),
ranked AS (
  SELECT doc_id, rrf_score,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
  FROM fused
)
SELECT rank, doc_id, rrf_score FROM ranked WHERE rank <= {DEFAULT_K}
"""


_PINNED_IDS = [7, 42, 3]
_PINNED_QUERY_ID = "q-0005"


def q_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``pinned`` query parity: the given ids occupy ranks 1..n in
    their listed order regardless of relevance; organic BM25 results
    follow, excluding the pinned ids. The pinned side is a literal
    (LocalRelation); the organic side is the standard top-k plan with
    a post-rank exclusion — dropping <= n pinned rows from a top-(k+n)
    ranking always leaves >= k organic rows, so no second pass."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    pq = [(qid, qt) for qid, qt in REFERENCE_QUERIES if qid == _PINNED_QUERY_ID]
    organic = bm25.bm25_topk_naive(
        posts, ds, ts, pq, k=DEFAULT_K + len(_PINNED_IDS), cfg=CFG
    )
    npin = len(_PINNED_IDS)
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    org = (
        organic.filter(~F.col("doc_id").isin(_PINNED_IDS))
        .withColumn("nr", (F.row_number().over(w) + F.lit(npin)).cast("int"))
        .filter(F.col("nr") <= DEFAULT_K)
        .select("query_id", F.col("nr").alias("rank"), "doc_id")
    )
    pinned = literal_df(
        spark,
        [(_PINNED_QUERY_ID, i + 1, int(d)) for i, d in enumerate(_PINNED_IDS)],
        "query_id string, rank int, doc_id long",
    )
    return pinned.unionByName(org)


SQL_PINNED_TOPK = f"""
{_sql_bm25_scored_cte()},
org AS (
  SELECT query_id, doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM scored
  WHERE query_id = '{_PINNED_QUERY_ID}'
    AND doc_id NOT IN ({", ".join(str(d) for d in _PINNED_IDS)})
),
pinned(query_id, rank, doc_id) AS (VALUES {", ".join(
    f"('{_PINNED_QUERY_ID}', {i + 1}, {d})" for i, d in enumerate(_PINNED_IDS)
)})
SELECT query_id, CAST(rank AS INT) AS rank, CAST(doc_id AS BIGINT) AS doc_id FROM pinned
UNION ALL
SELECT query_id, CAST(r + {len(_PINNED_IDS)} AS INT) AS rank, doc_id
FROM org WHERE r <= {DEFAULT_K - len(_PINNED_IDS)}
"""


#: random_sampler: shared LCG so both engines draw the SAME sample.
#: At corpus scale the predicate becomes xxhash64(doc_id) % 100 — any
#: uniform integer hash works; the LCG keeps the oracle twin exact.
_SAMPLER_PCT = 37


def q_random_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``random_sampler`` aggregation parity: run sub-aggregations
    over a random p-fraction of matching docs and scale doc_count back
    up by 1/p. ES samples per shard with a seeded hash; here the seed
    is a fixed LCG over doc_id so the Spark and oracle samples are
    bit-identical. doc_id is reduced mod 2^31 BEFORE the multiply so
    the product stays below 2^61 and never overflows int64 — without
    the reduction, doc_id > ~8.4e9 (routine at 10^12-turn scale) wraps
    silently in Spark while DuckDB raises, and the engines diverge.
    The predicate is a scan-level filter (no shuffle added); the agg
    over the sample is one partial-agg'd exchange."""
    docs = _docs(spark, sf_dir)
    h = (
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(1103515245) + F.lit(12345))
        % F.lit(2147483648)
    ) % F.lit(100)
    samp = docs.filter(h < _SAMPLER_PCT)
    return samp.agg(
        F.count(F.lit(1)).alias("sample_docs"),
        F.round(F.count(F.lit(1)) / F.lit(_SAMPLER_PCT / 100.0), 6).alias("est_total_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_n_chars"),
    )


SQL_RANDOM_SAMPLER_AGG = f"""
SELECT count(*) AS sample_docs,
       round(count(*) / {_SAMPLER_PCT / 100.0!r}, 6) AS est_total_docs,
       round(avg(n_chars), 6) AS avg_n_chars
FROM documents
WHERE (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < {_SAMPLER_PCT}
"""


def q_change_point_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``change_point`` pipeline aggregation parity (deterministic
    core): over the daily sum(value) series from events, the change
    point is the day maximizing |mean(before) - mean(at-and-after)|,
    earliest day on ties (ES fits several change types via ML; the
    mean-shift split is its dominant 'step_change' case, made exact so
    the oracle can hash-match). The series is one row per day, so the
    windows run over an agg output thousands of times smaller than the
    scan — the global window is driver-trivial at any corpus size."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(F.sum("value").alias("v"))
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    s = (
        daily.withColumn("cum_v", F.sum("v").over(wc))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .withColumn("tot_v", F.sum("v").over(wall))
        .withColumn("tot_n", F.count(F.lit(1)).over(wall))
    )
    cand = s.filter(F.col("rn") > 1).select(
        "d",
        F.abs(
            (F.col("cum_v") - F.col("v")) / (F.col("rn") - 1)
            - (F.col("tot_v") - (F.col("cum_v") - F.col("v")))
            / (F.col("tot_n") - F.col("rn") + 1)
        ).alias("shift"),
    )
    w = Window.orderBy(F.desc("shift"), F.asc("d"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("d").alias("change_point_day"), F.round("shift", 6).alias("mean_shift"))
    )


SQL_CHANGE_POINT_AGG = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, sum(value) AS v FROM events GROUP BY 1
),
s AS (
  SELECT d, v,
         sum(v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v,
         row_number() OVER (ORDER BY d) AS rn,
         sum(v) OVER () AS tot_v,
         count(*) OVER () AS tot_n
  FROM daily
),
cand AS (
  SELECT d, abs((cum_v - v)/(rn - 1) - (tot_v - (cum_v - v))/(tot_n - rn + 1)) AS shift
  FROM s WHERE rn > 1
)
SELECT d AS change_point_day, round(shift, 6) AS mean_shift
FROM cand ORDER BY shift DESC, d ASC LIMIT 1
"""


_CATEGORIZE_PREFIX_TOKENS = 3
_CATEGORIZE_TOP = 10


def q_categorize_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``categorize_text`` aggregation parity (deterministic core):
    group documents into message categories by token signature and
    count each category. ES's categorizer drifts with its ML token
    weighting; the deterministic analog — category = first N analyzed
    tokens — is exact and order-stable so the oracle hash-matches.
    One tokenize projection (JVM regexp, no Python) + one partial-agg
    exchange on the category key; top buckets by (count, key)."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    cats = docs.select(
        F.concat_ws(
            " ", F.slice(tokens_col("text"), 1, _CATEGORIZE_PREFIX_TOKENS)
        ).alias("category")
    )
    agg = cats.groupBy("category").agg(F.count(F.lit(1)).alias("doc_count"))
    w = Window.orderBy(F.desc("doc_count"), F.asc("category"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CATEGORIZE_TOP)
        .select("category", "doc_count")
    )


SQL_CATEGORIZE_TEXT_AGG = f"""
WITH cats AS (
  SELECT array_to_string(({duckdb_tokens_expr('text')})[1:{_CATEGORIZE_PREFIX_TOKENS}], ' ') AS category
  FROM documents
),
agg AS (SELECT category, count(*) AS doc_count FROM cats GROUP BY 1),
ranked AS (
  SELECT category, doc_count,
         row_number() OVER (ORDER BY doc_count DESC, category ASC) AS rn
  FROM agg
)
SELECT category, doc_count FROM ranked WHERE rn <= {_CATEGORIZE_TOP}
"""


_SPAN_FIRST_TERM = "merge"
_SPAN_FIRST_END = 8


def q_span_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_first`` query parity: match docs where the term's
    span ends within the first ``end`` positions (single-term span:
    0-based position < end), ranked by the term's BM25 contribution.
    Answered from the POSITIONAL INDEX: one pruned posting-list scan,
    the position test a JVM ``exists`` over the positions array —
    never a corpus re-tokenize; at 100 TB this touches exactly one
    term's blocks via the termdict partition pruning."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    row = idx.termdict.filter(F.col("term") == _SPAN_FIRST_TERM).collect()
    df_t = int(row[0]["df"]) if row else 0
    # partition-pruned single posting-list scan: only the term's bucket
    # is read (PartitionFilters), then only its list is decoded
    bucket = int(row[0]["term_bucket"]) if row else -1
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket") == bucket).filter(
            F.col("term") == _SPAN_FIRST_TERM
        )
    )
    matched = posts.filter(
        F.exists("positions", lambda p: p < F.lit(_SPAN_FIRST_END))
    )
    scored = matched.select(
        "doc_id",
        F.round(
            bm25.contrib_col(
                F.lit(bm25.idf(n_docs, df_t)), F.col("tf"), F.col("doclen"), avgdl, CFG
            ),
            6,
        ).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("rank", "doc_id", "score")
    )


def _sql_span_first() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
matched AS (
  SELECT doc_id FROM posns
  WHERE term = '{_SPAN_FIRST_TERM}' GROUP BY doc_id HAVING min(pos) <= {_SPAN_FIRST_END}
),
scored AS (
  SELECT p.doc_id,
         round(ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)), 6) AS score
  FROM postings p
  JOIN matched m ON p.doc_id = m.doc_id
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  WHERE p.term = '{_SPAN_FIRST_TERM}'
),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_FIRST_TOPK = _sql_span_first()


# ---------------------------------------------------------------------------
# ES pipeline-agg parity, batch 11: cumulative_cardinality, normalize,
# moving_percentiles


def q_cumulative_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg parity: per day, the
    count of DISTINCT users seen up to and including that day (the
    'new users accumulating' curve). Exact, in two bucket-sized steps:
    each user contributes on their FIRST day (one corpus-keyed agg on
    user_id), then a cumulative sum over the day series — never a
    day-by-day distinct union. ES computes this from merged HLL
    sketches; the exact form hash-matches the oracle and the HLL swap
    is the same documented on q_cardinality_agg. Scale: one exchange
    on user_id + windows over O(#days) rows."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "user_id"
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    days = ev.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("nu"))
        .select("day", F.sum("nu").over(w).alias("cumulative_unique_users"))
    )


SQL_CUMULATIVE_CARDINALITY_AGG = """
WITH ev AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id FROM events
),
first_day AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
new_per_day AS (SELECT day, count(*) AS nu FROM first_day GROUP BY 1),
days AS (SELECT DISTINCT day FROM ev)
SELECT d.day,
       CAST(sum(coalesce(n.nu, 0)) OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_unique_users
FROM days d LEFT JOIN new_per_day n ON d.day = n.day
"""


def q_normalize_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``normalize`` pipeline agg parity (method percent_of_sum):
    each daily bucket's sum as a percentage of the series total. The
    normalization is one total over the bucket series (O(#days)); the
    only corpus-sized work is the partial-agg scan that built the
    buckets."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("sum_value"))
    w = Window.partitionBy()
    return buckets.select(
        "day",
        "sum_value",
        F.round(F.lit(100.0) * F.col("sum_value") / F.sum("sum_value").over(w), 6).alias(
            "percent_of_sum"
        ),
    )


SQL_NORMALIZE_AGG = """
WITH buckets AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, sum_value,
       round(100.0 * sum_value / sum(sum_value) OVER (), 6) AS percent_of_sum
FROM buckets
"""


_MOVING_PCT_WINDOW = 7


def q_moving_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``moving_percentiles`` pipeline agg parity: the median of
    the previous ``window`` daily bucket sums (ES shift=0 — the window
    ends at the PREVIOUS bucket, so the first bucket is null). Exact
    interpolated percentile over the bucket series (Spark
    ``percentile`` == DuckDB ``quantile_cont``, the q_boxplot_agg
    contract); ES's t-digest is the documented exact→approx swap.
    Derived values compute from the ROUNDED bucket sums in day order,
    keeping interpolation bit-identical across engines."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("sum_value"))
    w = (
        Window.orderBy("day").rowsBetween(-_MOVING_PCT_WINDOW, -1)
    )
    return buckets.select(
        "day",
        "sum_value",
        F.round(F.expr("percentile(sum_value, 0.5)").over(w), 6).alias("moving_p50"),
    )


SQL_MOVING_PERCENTILES_AGG = f"""
WITH buckets AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, sum_value,
       round(quantile_cont(sum_value, 0.5) OVER (
         ORDER BY day ROWS BETWEEN {_MOVING_PCT_WINDOW} PRECEDING AND 1 PRECEDING
       ), 6) AS moving_p50
FROM buckets
"""


# ---------------------------------------------------------------------------
# ES API parity, batch 10: termvectors, _count, _analyze, span_not

_TERMVECTORS_DOC_IDS = [5, 17]


def q_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_termvectors`` API parity: per requested doc, its term
    vector — (term, tf, positions) with field stats. The doc-axis
    point lookup on the positional index: doc_id IN-list pushes to the
    blocks scan (doc-range partition statistics prune row groups at
    scale), decode yields the vectors without touching the corpus.
    Positions are emitted 1-based to share the oracle's subscript
    convention."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    # doc-axis partition pruning: range_id = doc_id // effective width,
    # so the scan reads only the requested docs' range partitions
    n_docs, _ = idx.corpus()
    dpr = _IDX_CFG.index.effective_docs_per_range(n_docs)
    ranges = sorted({d // dpr for d in _TERMVECTORS_DOC_IDS})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("range_id").isin(ranges))
    ).filter(F.col("doc_id").isin(_TERMVECTORS_DOC_IDS))
    return posts.select(
        "doc_id",
        "term",
        "tf",
        # ascending by construction (delta-decoded stream); 1-based,
        # comma-joined so the twin compare stays scalar
        F.array_join(
            F.transform("positions", lambda p: (p + 1).cast("string")), ","
        ).alias("positions"),
    )


SQL_TERMVECTORS = f"""
WITH posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
  WHERE doc_id IN ({", ".join(str(d) for d in _TERMVECTORS_DOC_IDS)})
)
SELECT doc_id, term, CAST(count(*) AS INT) AS tf,
       string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
FROM posns GROUP BY doc_id, term
"""


def q_count_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_count`` API parity: number of hits per reference query
    under match (OR) semantics — docs containing at least one analyzed
    query term. No scoring, no fetch: a semi-join from the term-pushed
    postings to a distinct-doc count per query. One exchange on
    (query_id, doc_id); the absent-term query counts zero rows (ES
    returns count: 0, so the query keys ride a left join from the
    query literal)."""
    from .functions.analyze import tokenize_text

    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    qtoks = [
        (qid, t)
        for qid, qtext in REFERENCE_QUERIES
        for t in sorted(set(tokenize_text(qtext)))
    ]
    qt = literal_df(spark, qtoks, "query_id string, term string").distinct()
    qterm_list = sorted({t for _, t in qtoks})
    hits = (
        posts.filter(F.col("term").isin(qterm_list))
        .join(F.broadcast(qt), "term")
        .groupBy("query_id")
        .agg(F.count_distinct("doc_id").alias("n_hits"))
    )
    qkeys = literal_df(
        spark, [(qid,) for qid, _ in REFERENCE_QUERIES], "query_id string"
    )
    return qkeys.join(hits, "query_id", "left").select(
        "query_id", F.coalesce("n_hits", F.lit(0)).alias("count")
    )


SQL_COUNT_API = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
qraw AS (SELECT * FROM {queries_sql_values()}),
qtoks AS (
  SELECT DISTINCT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
hits AS (
  SELECT q.query_id, count(DISTINCT p.doc_id) AS n
  FROM qtoks q JOIN postings p USING (term) GROUP BY 1
)
SELECT r.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS count
FROM (SELECT DISTINCT query_id FROM qraw) r LEFT JOIN hits h USING (query_id)
"""


_ANALYZE_TEXTS = [
    ("a-1", "Merge-SORT beats   bubble_sort, obviously!"),
    ("a-2", "ünïcode Tokens; 123 mixed99cases"),
    ("a-3", ""),
]


def q_analyze_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_analyze`` API parity: the analyzer's token stream for
    given texts — (text_id, position, token). The single public
    surface of the tokenization contract every other operator builds
    on (E1); one JVM regexp projection over a literal, no scan at
    all. Positions 1-based per the oracle subscript convention; empty
    text yields no rows."""
    from .functions.analyze import tokens_col

    lit = literal_df(spark, _ANALYZE_TEXTS, "text_id string, text string")
    return lit.select(
        "text_id", F.posexplode(tokens_col("text")).alias("pos0", "token")
    ).select("text_id", (F.col("pos0") + 1).cast("int").alias("position"), "token")


def _sql_analyze() -> str:
    rows = ", ".join(
        "('{}', '{}')".format(tid, txt.replace("'", "''")) for tid, txt in _ANALYZE_TEXTS
    )
    return f"""
WITH t(text_id, text) AS (VALUES {rows})
SELECT text_id,
       CAST(generate_subscripts({duckdb_tokens_expr('text')}, 1) AS INT) AS position,
       unnest({duckdb_tokens_expr('text')}) AS token
FROM t
"""


SQL_ANALYZE_API = _sql_analyze()


_SPAN_NOT_INCLUDE = "sort"
_SPAN_NOT_EXCLUDE = "merge"
_SPAN_NOT_DIST = 2


def q_span_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_not`` query parity: match docs with an occurrence of
    the include term having NO exclude-term occurrence within ``dist``
    positions (pre/post), ranked by the include term's BM25. Both
    posting lists come partition-pruned from the positional index; the
    span test is a nested JVM ``forall``/``exists`` over the two
    position arrays — never a corpus re-tokenize. Docs without the
    exclude term at all match trivially (left join, null positions)."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    terms = [_SPAN_NOT_INCLUDE, _SPAN_NOT_EXCLUDE]
    td = {
        r["term"]: (int(r["df"]), int(r["term_bucket"]))
        for r in idx.termdict.filter(F.col("term").isin(terms)).collect()
    }
    df_t = td.get(_SPAN_NOT_INCLUDE, (0, -1))[0]
    buckets = sorted({b for _, b in td.values()})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    )
    inc = posts.filter(F.col("term") == _SPAN_NOT_INCLUDE).select(
        "doc_id", "tf", "doclen", F.col("positions").alias("pi")
    )
    exc = posts.filter(F.col("term") == _SPAN_NOT_EXCLUDE).select(
        "doc_id", F.col("positions").alias("pe")
    )
    d = F.lit(_SPAN_NOT_DIST).cast("long")
    cand = inc.join(exc, "doc_id", "left").filter(
        F.col("pe").isNull()
        | F.exists(
            "pi",
            lambda a: ~F.exists("pe", lambda b: (b >= a - d) & (b <= a + d)),
        )
    )
    scored = cand.select(
        "doc_id",
        F.round(
            bm25.contrib_col(
                F.lit(bm25.idf(n_docs, df_t)), F.col("tf"), F.col("doclen"), avgdl, CFG
            ),
            6,
        ).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("rank", "doc_id", "score")
    )


def _sql_span_not() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
matched AS (
  SELECT DISTINCT i.doc_id
  FROM posns i
  WHERE i.term = '{_SPAN_NOT_INCLUDE}'
    AND NOT EXISTS (
      SELECT 1 FROM posns e
      WHERE e.doc_id = i.doc_id AND e.term = '{_SPAN_NOT_EXCLUDE}'
        AND e.pos BETWEEN i.pos - {_SPAN_NOT_DIST} AND i.pos + {_SPAN_NOT_DIST}
    )
),
scored AS (
  SELECT p.doc_id,
         round(ln(1 + (c.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/c.avgdl)), 6) AS score
  FROM postings p
  JOIN matched m ON p.doc_id = m.doc_id
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus c
  WHERE p.term = '{_SPAN_NOT_INCLUDE}'
),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_NOT_TOPK = _sql_span_not()


_MIN_SCORE = 1.5


def q_min_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``min_score`` parity: return EVERY hit scoring at or above
    the cutoff (no top-k window — min_score bounds the result set by
    score, not count). The cutoff compares the score after the same
    6-decimal ranking round both engines share, so the boundary is
    deterministic. Plan: the standard scored pipeline with a scalar
    filter above the final agg — no extra exchange."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    return (
        scored.select("query_id", "doc_id", F.round("score", 6).alias("score"))
        .filter(F.col("score") >= _MIN_SCORE)
    )


SQL_MIN_SCORE = f"""
{_sql_bm25_scored_cte()}
SELECT query_id, doc_id, score FROM scored WHERE score >= {_MIN_SCORE!r}
"""


# ---------------------------------------------------------------------------
# ES API parity, batch 11 (r5): bucket_script, _msearch, gauss decay

_BUCKET_SCRIPT_TYPE = "click"


def q_bucket_script_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_script`` pipeline agg parity (the docs' canonical
    sales-ratio example): per daily bucket, a script computed from the
    bucket's own sibling metrics — here ``100 * click_value /
    total_value``. The script runs over the O(#days) bucket series
    (driver-trivial); the only corpus-sized work is the partial-agg
    scan that built both sibling sums in ONE pass (a single groupBy —
    ES evaluates each sub-agg in the same bucket traversal, and the
    conditional sum keeps it one shuffle here too). Derived values
    compute from the ROUNDED bucket sums, keeping the division
    bit-identical across engines (the pipeline-agg determinism
    contract shared with q_normalize_agg)."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.round(F.sum("value"), 6).alias("total_value"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == _BUCKET_SCRIPT_TYPE, F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("click_value"),
    )
    return buckets.select(
        "day",
        "total_value",
        "click_value",
        F.round(
            F.lit(100.0) * F.col("click_value") / F.col("total_value"), 6
        ).alias("click_pct"),
    )


SQL_BUCKET_SCRIPT_AGG = f"""
WITH buckets AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS total_value,
         round(coalesce(sum(CASE WHEN event_type = '{_BUCKET_SCRIPT_TYPE}' THEN value END), 0.0), 6) AS click_value
  FROM events GROUP BY 1
)
SELECT day, total_value, click_value,
       round(100.0 * click_value / total_value, 6) AS click_pct
FROM buckets
"""


_MSEARCH_TEXT = REFERENCE_QUERIES[0][1]


def q_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_msearch`` API parity: several independent search bodies in
    one request, each answered as if sent alone, results tagged by body
    position. Body 0 is a relevance query (BM25 top-k for one text),
    body 1 a match_all with a size cap (constant _score = 1.0, ES
    match_all semantics), mirroring the classic dashboard batch. Each
    body keeps ITS OWN plan — msearch is transport-level batching, not
    a query combinator — so the union is two independent top-k
    subtrees under one job; at scale each body prunes/pushes down
    exactly as it would alone (the reference issues its queries one
    at a time over HTTP, core/ElasticsearchSink semantics)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    body0 = bm25.bm25_topk_naive(
        posts, ds, ts, [("m-0", _MSEARCH_TEXT)], k=DEFAULT_K, cfg=CFG
    ).select(
        F.lit(0).cast("int").alias("search_idx"), "rank", "doc_id", "score"
    )
    w = Window.orderBy(F.asc("doc_id"))
    body1 = (
        docs.select("doc_id")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select(
            F.lit(1).cast("int").alias("search_idx"),
            "rank",
            "doc_id",
            F.lit(1.0).alias("score"),
        )
    )
    return body0.unionByName(body1)


def _sql_msearch() -> str:
    qcte = f"""qraw AS (SELECT * FROM {queries_sql_values([("m-0", _MSEARCH_TEXT)])}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term)"""
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qcte)},
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT CAST(0 AS INT) AS search_idx, rank, doc_id, score
FROM ranked WHERE rank <= {DEFAULT_K}
UNION ALL
SELECT CAST(1 AS INT) AS search_idx, rank, doc_id, 1.0 AS score
FROM (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id ASC) AS INT) AS rank
  FROM documents
) WHERE rank <= {DEFAULT_K}
"""


SQL_MSEARCH = _sql_msearch()


#: gauss decay parameters (ES function_score decay syntax:
#: origin/offset/scale/decay on a numeric field — multiplier
#: exp(ln(decay) * (max(0, |field - origin| - offset) / scale)^2),
#: 1.0 inside [origin - offset, origin + offset], `decay` at
#: origin +/- scale).
_DECAY_ORIGIN = 2000
_DECAY_OFFSET = 100
_DECAY_SCALE = 1000.0
_DECAY_RATE = 0.5


def q_decay_function_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``function_score`` gauss-decay parity on a numeric field:
    relevance multiplied by a gaussian of the field's distance from an
    origin (the recency/geo-boost shape, applied to ``n_chars`` since
    the synthetic docs carry no timestamp). The decay is a JVM column
    expression over the already-scored candidates — one broadcast-sized
    projection on top of q_bm25_topk's plan, never a Python UDF; at
    100 TB the field rides the doc store the fetch phase reads anyway.
    Both engines square the normalized distance by self-multiplication
    on the same rounded inputs, keeping the transcendental chain
    (one ln, one exp) bit-aligned; the 6-decimal ranking round is the
    shared determinism contract."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    feat = docs.select(
        "doc_id",
        (
            F.greatest(
                F.abs(F.col("n_chars") - F.lit(_DECAY_ORIGIN)) - F.lit(_DECAY_OFFSET),
                F.lit(0),
            )
            / F.lit(_DECAY_SCALE)
        ).alias("_d"),
    ).select(
        "doc_id",
        F.exp(F.log(F.lit(_DECAY_RATE)) * F.col("_d") * F.col("_d")).alias("_mult"),
    )
    total = scored.join(feat, "doc_id").select(
        "query_id",
        "doc_id",
        F.round(F.col("score") * F.col("_mult"), 6).alias("score"),
    )
    return bm25.rank(total, DEFAULT_K)


SQL_DECAY_FUNCTION_TOPK = f"""
{_sql_bm25_scored_cte()},
decayed AS (
  SELECT s.query_id, s.doc_id,
         round(s.score * exp(ln({_DECAY_RATE!r})
           * (greatest(abs(d.n_chars - {_DECAY_ORIGIN}) - {_DECAY_OFFSET}, 0) / {_DECAY_SCALE!r})
           * (greatest(abs(d.n_chars - {_DECAY_ORIGIN}) - {_DECAY_OFFSET}, 0) / {_DECAY_SCALE!r})), 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM decayed
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


# ---------------------------------------------------------------------------
# ES API parity, batch 12 (r5 close): join-field parent/child, _mget,
# _reindex, scroll, scripted_metric, runtime fields, _rank_eval

#: synthetic join field: every _PC_CONV consecutive docs form one
#: "conversation" parent (conv_id = doc_id DIV _PC_CONV) — the ES
#: parent/child (join-field) data model over the transcript corpus.
#: ES requires parent and children on the same shard (routing by
#: parent id); DIV on the monotone doc id keeps each family inside one
#: doc-id range partition here, the same co-location property, so the
#: parent/child join below never crosses partitions at corpus scale.
_PC_CONV = 8


def _conv_col() -> Column:
    return F.expr(f"CAST(doc_id DIV {_PC_CONV} AS BIGINT)").alias("conv_id")


def q_has_child_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``has_child`` query parity (``score_mode: max``): return
    PARENT conversations ranked by the best BM25 score among their
    child turns. The child scoring is exactly q_bm25_topk's plan; the
    parent rollup is one more partial-aggregable max keyed by
    conv_id = doc_id DIV k, which co-partitions with the doc-id range
    layout (see _PC_CONV note) — no extra shuffle beyond the score
    aggregation ES itself performs per shard."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    parents = scored.select("query_id", _conv_col(), "score").groupBy(
        "query_id", "conv_id"
    ).agg(F.max("score").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("conv_id"))
    return (
        parents.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "conv_id", "score")
    )


SQL_HAS_CHILD_TOPK = f"""
{_sql_bm25_scored_cte()},
parents AS (
  SELECT query_id, doc_id // {_PC_CONV} AS conv_id, max(score) AS score
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, conv_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, conv_id ASC) AS INT) AS rank
  FROM parents
)
SELECT query_id, rank, conv_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: has_parent: parents qualify by a parent-level property (here total
#: child chars — a conversation-length gate); children additionally
#: term-filtered. ~half the synthetic parents pass at every SF.
_HAS_PARENT_MIN_CHARS = 2400
_HAS_PARENT_CHILD_TERM = "the"


def q_has_parent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``has_parent`` query parity: return child turns whose parent
    conversation satisfies a parent-level predicate (total child chars
    >= threshold), intersected with a term query on the child itself.
    The parent predicate is a partial-aggregable sum over the same
    co-partitioned conv_id key (no extra shuffle); the child term
    filter is a postings semi-join that Catalyst pushes below it, so
    at corpus scale the join fan-in is the hit set, not the corpus."""
    docs = _docs(spark, sf_dir).withColumn("conv_id", _conv_col())
    plen = docs.groupBy("conv_id").agg(F.sum("n_chars").alias("parent_chars"))
    large = plen.filter(F.col("parent_chars") >= _HAS_PARENT_MIN_CHARS)
    hits = (
        P.build_postings(_docs(spark, sf_dir))
        .filter(F.col("term") == _HAS_PARENT_CHILD_TERM)
        .select("doc_id")
    )
    return (
        docs.join(hits, "doc_id")
        .join(large, "conv_id")
        .select("doc_id", "conv_id", F.col("parent_chars").cast("long").alias("parent_chars"))
    )


SQL_HAS_PARENT_TOPK = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
fam AS (SELECT doc_id, doc_id // {_PC_CONV} AS conv_id, n_chars FROM documents),
plen AS (
  SELECT conv_id, CAST(sum(n_chars) AS BIGINT) AS parent_chars
  FROM fam GROUP BY 1 HAVING sum(n_chars) >= {_HAS_PARENT_MIN_CHARS}
)
SELECT f.doc_id, f.conv_id, p.parent_chars
FROM fam f
JOIN plen p USING (conv_id)
WHERE f.doc_id IN (SELECT doc_id FROM postings WHERE term = '{_HAS_PARENT_CHILD_TERM}')
"""


def q_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``children`` aggregation parity: bucket parents by a parent
    field (the conversation starter's lang — the min-doc_id child, ES
    join-field convention where the first turn carries the parent
    document's metadata) and aggregate over each bucket's CHILD turns:
    conversations, turns, mean turn length. Starter selection is a
    min_by on the co-partitioned conv key; both aggregations are
    partial-aggregable, so the whole plan is two map-side-combine
    passes over the co-located family partitions."""
    docs = _docs(spark, sf_dir).withColumn("conv_id", _conv_col())
    starter = docs.groupBy("conv_id").agg(
        F.min_by("lang", "doc_id").alias("starter_lang")
    )
    return (
        docs.join(starter, "conv_id")
        .groupBy("starter_lang")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


SQL_CHILDREN_AGG = f"""
WITH fam AS (SELECT doc_id, doc_id // {_PC_CONV} AS conv_id, lang, n_chars FROM documents),
starter AS (
  SELECT conv_id, min_by(lang, doc_id) AS starter_lang FROM fam GROUP BY 1
)
SELECT s.starter_lang,
       CAST(count(DISTINCT f.conv_id) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_turns,
       round(avg(f.n_chars), 6) AS avg_chars
FROM fam f JOIN starter s USING (conv_id)
GROUP BY 1
"""


#: _mget ids: three present at every SF (doc ids are dense from 0) +
#: one guaranteed-absent, exercising the per-id found flag.
_MGET_IDS = [3, 7, 11, 999_999_999]


def q_mget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_mget`` API parity: fetch an explicit id list from the doc
    store, one row per REQUESTED id with found=1/0 (missing ids still
    answer, ES _mget contract). The id list is a driver literal that
    broadcasts; at corpus scale this is the doc-store point-lookup path
    (the serving coordinator's pruned range read), never a scan.
    Missing rows surface sentinel values ('' / -1) instead of NULLs to
    keep the driver's value-hash NULL-free on both engines.

    Plan shape: the id list is pushed into the scan as an IN filter
    (parquet row-group/partition pruning at corpus scale), and the
    left-outer join that preserves missing ids broadcasts the PRUNED
    hit set as its build-right side — Spark cannot build the left side
    of a left join, so broadcasting the literal directly would fall
    back to a corpus-wide shuffle join."""
    ids = literal_df(spark, [(i,) for i in _MGET_IDS], "doc_id bigint")
    docs = _docs(spark, sf_dir).filter(
        F.col("doc_id").isin([int(i) for i in _MGET_IDS])
    )
    return ids.join(F.broadcast(docs), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("lang").isNull(), F.lit(0)).otherwise(F.lit(1)).cast("int").alias("found"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.coalesce(F.col("n_chars"), F.lit(-1)).cast("long").alias("n_chars"),
    )


SQL_MGET = f"""
SELECT m.doc_id,
       CAST(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS found,
       coalesce(d.lang, '') AS lang,
       CAST(coalesce(d.n_chars, -1) AS BIGINT) AS n_chars
FROM (VALUES {', '.join(f'({i})' for i in _MGET_IDS)}) AS m(doc_id)
LEFT JOIN documents d ON m.doc_id = d.doc_id
"""


#: _reindex: new ids offset into a fresh namespace, ES-style
#: dest-index rewrite with a painless-script field transform.
_REINDEX_OFFSET = 1_000_000_000
_REINDEX_LANG = "en"


def q_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_reindex`` API parity: source-index scan filtered by a
    query (lang = 'en'), each hit rewritten by a script (uppercased
    source tag, new id namespace) into a dest index. Returned here as
    the dest-index rows; the write path is index_store's idempotent
    partition overwrite (S10), so a reindex is exactly one
    scan->transform->bulk-sink lineage — the reference's whole loader
    loop (core/ElasticsearchSink) expressed as one DataFrame plan.
    Filter and projection both push to the parquet scan."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == _REINDEX_LANG)
    return docs.select(
        (F.col("doc_id") + F.lit(_REINDEX_OFFSET)).cast("long").alias("new_doc_id"),
        "doc_id",
        F.upper(F.col("source")).alias("source_upper"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


SQL_REINDEX = f"""
SELECT CAST(doc_id + {_REINDEX_OFFSET} AS BIGINT) AS new_doc_id,
       doc_id,
       upper(source) AS source_upper,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE lang = '{_REINDEX_LANG}'
"""


_SCROLL_SIZE = 10
_SCROLL_PAGES = 5
_SCROLL_TEXT = REFERENCE_QUERIES[0][1]


def q_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES scroll API parity: a consistent deep-export cursor over one
    query's full hit list, materialized as its first ``_SCROLL_PAGES``
    fetches of ``_SCROLL_SIZE`` hits each, tagged by scroll page. The
    contract scroll guarantees — stable order across fetches, no hit
    repeated or skipped — fall out of the total (score DESC, doc_id
    ASC) order the quantized-score determinism contract fixes; the
    page id is arithmetic on the global rank. At corpus scale this is
    one top-(pages*size) plan, not pages separate queries — the
    sort-limit pushes down, unlike a naive offset loop."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    hits = bm25.bm25_topk_naive(
        posts, ds, ts, [("s-0", _SCROLL_TEXT)], k=_SCROLL_SIZE * _SCROLL_PAGES, cfg=CFG
    )
    return hits.select(
        F.expr(f"CAST((rank - 1) DIV {_SCROLL_SIZE} AS INT)").alias("scroll_page"),
        "rank",
        "doc_id",
        "score",
    )


def _sql_scroll() -> str:
    qcte = f"""qraw AS (SELECT * FROM {queries_sql_values([("s-0", _SCROLL_TEXT)])}),
qtoks AS (
  SELECT query_id, unnest({duckdb_tokens_expr('query_text')}) AS term FROM qraw
),
qterms AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf FROM qtoks GROUP BY query_id, term)"""
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qcte)},
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT CAST((rank - 1) // {_SCROLL_SIZE} AS INT) AS scroll_page, rank, doc_id, score
FROM ranked WHERE rank <= {_SCROLL_SIZE * _SCROLL_PAGES}
"""


SQL_SCROLL = _sql_scroll()


def q_scripted_metric_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``scripted_metric`` aggregation parity (map/combine/reduce):
    per-lang variance of doclen via the canonical sum-of-squares
    script — map emits (len, len^2, 1) per doc, combine folds per
    shard, reduce merges shard states and derives the variance. That
    is EXACTLY Spark's partial aggregation: the groupBy below
    map-side-combines the three sums per partition and reduces once,
    so the "script" is the agg expression and the derived value
    computes from exact integer sums (bit-identical across engines;
    the only float op is the final division, rounded 6)."""
    docs = _docs(spark, sf_dir)
    ds = P.doc_stats(docs)
    j = docs.select("doc_id", "lang").join(ds, "doc_id")
    g = j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doclen").cast("long").alias("sum_len"),
        F.sum(F.col("doclen").cast("long") * F.col("doclen")).cast("long").alias("sum_sq"),
    )
    n = F.col("n_docs").cast("double")
    mean = F.col("sum_len") / n
    return g.select(
        "lang",
        "n_docs",
        "sum_len",
        F.round(F.col("sum_sq") / n - mean * mean, 6).alias("variance"),
    )


SQL_SCRIPTED_METRIC_AGG = f"""
WITH {_DUCK_DSTATS}
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.doclen) AS BIGINT) AS sum_len,
       round(CAST(sum(CAST(s.doclen AS BIGINT) * s.doclen) AS DOUBLE) / count(*)
             - (CAST(sum(s.doclen) AS DOUBLE) / count(*))
             * (CAST(sum(s.doclen) AS DOUBLE) / count(*)), 6) AS variance
FROM documents d JOIN dstats s USING (doc_id)
GROUP BY 1
"""


#: runtime field: a query-time computed class on n_chars (ES
#: runtime_mappings — never materialized in the index).
_RUNTIME_FIELD_SQL = "CASE WHEN n_chars < 200 THEN 'short' WHEN n_chars < 400 THEN 'medium' ELSE 'long' END"


def q_runtime_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES runtime-fields parity: a ``runtime_mappings`` field defined
    in the search body (len_class, computed from n_chars at query
    time), used BOTH as a query filter (len_class != 'short') and as a
    returned field. ES evaluates runtime fields per hit at fetch/filter
    time instead of reading doc values; here the computed column stays
    a JVM expression over the doc store and the filter restricts
    candidates only — df/avgdl remain index-wide, matching ES (a
    runtime-field filter never changes index statistics)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    rt = docs.select("doc_id", F.expr(_RUNTIME_FIELD_SQL).alias("len_class")).filter(
        F.col("len_class") != "short"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(rt, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "doc_id", "len_class", "score")
    )


SQL_RUNTIME_FIELD_TOPK = f"""
{_sql_bm25_scored_cte()},
rt AS (
  SELECT doc_id, {_RUNTIME_FIELD_SQL} AS len_class FROM documents
),
ranked AS (
  SELECT s.query_id, s.doc_id, r.len_class, s.score,
         CAST(row_number() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS INT) AS rank
  FROM scored s JOIN rt r USING (doc_id)
  WHERE r.len_class <> 'short'
)
SELECT query_id, rank, doc_id, len_class, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_rank_eval`` API parity: score the engine's own top-k
    against a rated-document set, one row per query with precision@k,
    recall@k, reciprocal rank, and binary-gain NDCG@k (ES's four
    built-in metrics). Ratings are deterministic — a doc is relevant
    iff it AND-matches every distinct query token — so both engines
    derive the same judgment list from the same postings. Everything
    after the (already index-pruned) top-k is arithmetic over
    |queries| * k rows; the ideal-DCG series joins a k-row literal.
    Queries with no hits (q-0006) report zeros, ES behavior."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    k = DEFAULT_K
    topk_df = bm25.bm25_topk_naive(posts, ds, ts, REFERENCE_QUERIES, k=k, cfg=CFG)

    qt = sorted({(qid, t) for qid, t, _ in bm25.analyze_queries(REFERENCE_QUERIES)})
    qterms = literal_df(spark, qt, "query_id string, term string")
    qm = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("m"))
    rel = (
        posts.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .join(F.broadcast(qm), "query_id")
        .filter(F.col("nt") == F.col("m"))
        .select("query_id", "doc_id")
    )
    totrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("total_rel"))
    ret = topk_df.groupBy("query_id").agg(F.count(F.lit(1)).alias("retrieved"))
    hit = topk_df.join(rel, ["query_id", "doc_id"], "left_semi")
    hstat = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("rel_ret"),
        F.min("rank").alias("frank"),
        F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1)).alias("dcg"),
    )
    pos = literal_df(spark, [(i,) for i in range(1, k + 1)], "i int")
    idcg = (
        totrel.join(F.broadcast(pos), F.col("i") <= F.least(F.col("total_rel"), F.lit(k)))
        .groupBy("query_id")
        .agg(F.sum(F.lit(1.0) / F.log2(F.col("i") + 1)).alias("idcg"))
    )
    qlist = literal_df(spark, [(qid,) for qid, _ in REFERENCE_QUERIES], "query_id string")
    out = (
        qlist.join(ret, "query_id", "left")
        .join(totrel, "query_id", "left")
        .join(hstat, "query_id", "left")
        .join(idcg, "query_id", "left")
    )
    rel_ret = F.coalesce(F.col("rel_ret"), F.lit(0)).cast("double")
    return out.select(
        "query_id",
        F.round(
            F.when(F.coalesce(F.col("retrieved"), F.lit(0)) > 0, rel_ret / F.col("retrieved")).otherwise(F.lit(0.0)),
            6,
        ).alias("precision_at_k"),
        F.round(
            F.when(F.coalesce(F.col("total_rel"), F.lit(0)) > 0, rel_ret / F.col("total_rel")).otherwise(F.lit(0.0)),
            6,
        ).alias("recall_at_k"),
        F.round(
            F.when(F.col("frank").isNotNull(), F.lit(1.0) / F.col("frank")).otherwise(F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
        F.round(
            F.when(F.col("idcg").isNotNull() & F.col("dcg").isNotNull(), F.col("dcg") / F.col("idcg")).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_k"),
    )


SQL_RANK_EVAL = f"""
{_sql_bm25_scored_cte()},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
),
topk AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {DEFAULT_K}),
qdistinct AS (SELECT DISTINCT query_id, term FROM qterms),
qm AS (SELECT query_id, count(*) AS m FROM qdistinct GROUP BY 1),
relc AS (
  SELECT t.query_id, p.doc_id, count(DISTINCT t.term) AS nt
  FROM qdistinct t JOIN postings p USING (term) GROUP BY 1, 2
),
rel AS (
  SELECT r.query_id, r.doc_id FROM relc r JOIN qm USING (query_id) WHERE r.nt = qm.m
),
totrel AS (SELECT query_id, count(*) AS total_rel FROM rel GROUP BY 1),
ret AS (SELECT query_id, count(*) AS retrieved FROM topk GROUP BY 1),
hit AS (SELECT t.query_id, t.rank FROM topk t JOIN rel USING (query_id, doc_id)),
hstat AS (
  SELECT query_id, count(*) AS rel_ret, min(rank) AS frank,
         sum(1.0 / log2(rank + 1)) AS dcg
  FROM hit GROUP BY 1
),
pos AS (SELECT unnest(generate_series(1, {DEFAULT_K})) AS i),
idcg AS (
  SELECT t.query_id, sum(1.0 / log2(p.i + 1)) AS idcg
  FROM totrel t JOIN pos p ON p.i <= least(t.total_rel, {DEFAULT_K})
  GROUP BY 1
),
qlist AS (SELECT DISTINCT query_id FROM qraw)
SELECT ql.query_id,
       round(CASE WHEN coalesce(r.retrieved, 0) > 0
                  THEN CAST(coalesce(h.rel_ret, 0) AS DOUBLE) / r.retrieved ELSE 0.0 END, 6) AS precision_at_k,
       round(CASE WHEN coalesce(t.total_rel, 0) > 0
                  THEN CAST(coalesce(h.rel_ret, 0) AS DOUBLE) / t.total_rel ELSE 0.0 END, 6) AS recall_at_k,
       round(CASE WHEN h.frank IS NOT NULL THEN 1.0 / h.frank ELSE 0.0 END, 6) AS reciprocal_rank,
       round(CASE WHEN h.dcg IS NOT NULL AND i.idcg IS NOT NULL
                  THEN h.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg_at_k
FROM qlist ql
LEFT JOIN ret r USING (query_id)
LEFT JOIN totrel t USING (query_id)
LEFT JOIN hstat h USING (query_id)
LEFT JOIN idcg i USING (query_id)
"""


# ---------------------------------------------------------------------------
# ES API parity, batch 13 (r5 close): phrase suggester, collapse
# inner_hits, terms lookup, distance_feature

#: phrase-suggester input: both words misspelled by one edit; the
#: 31-term synthetic vocabulary gives slot 0 one candidate (key) and
#: slot 1 two (row, slow), so the bigram LM actually has to choose.
_SUGGEST_INPUT = ("kew", "sow")
_SUGGEST_K = 5


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES phrase-suggester parity: correct a whole phrase, not single
    terms — per-slot candidates within edit distance 1 of each input
    word (same SymSpell deletion-neighborhood EQUI-join as the fuzzy
    query, never a nested-loop scan of the dictionary), every candidate
    combination scored by a Laplace-smoothed bigram language model
    built from the corpus (ES's real_word_error_likelihood /
    smoothing.laplace mode): score = ln P(w1) + ln P(w2 | w1) with
    add-one smoothing over V. Unigram counts fall out of the postings
    the index already owns; the bigram table is one adjacent-pair
    explode + partial agg (same cost family as the postings build) that
    a deployment would persist next to the termdict. The candidate
    cross join is broadcast-tiny (per-slot expansions, bounded like
    max_expansions); all float ops are double ln on exact integer
    counts, rounded 6 on both engines."""
    from .functions.analyze import tokens_col

    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ts = P.term_stats(posts)
    cnt = posts.groupBy("term").agg(F.sum("tf").cast("long").alias("c"))
    row = cnt.agg(
        F.sum("c").alias("n_tok"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_tok, vocab = int(row["n_tok"]), int(row["v"])

    toks = docs.select(tokens_col("text").alias("tk"))
    bigrams = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, greatest(size(tk)-1, 0)),"
                    " (x, i) -> struct(x AS w1, tk[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )

    probes = literal_df(
        spark, list(enumerate(_SUGGEST_INPUT)), "slot int, w string"
    )
    probe_vars = probes.select(
        "slot", "w", F.explode(_deletion_variants("w")).alias("v")
    ).distinct()
    cand = (
        ts.select("term", F.explode(_deletion_variants("term")).alias("v"))
        .join(F.broadcast(probe_vars), "v")
        .select("slot", "term")
        .distinct()
        .join(F.broadcast(probes), "slot")
        .filter(F.levenshtein(F.col("term"), F.col("w")) <= 1)
        .select("slot", "term")
    )
    c1 = cand.filter(F.col("slot") == 0).select(F.col("term").alias("w1"))
    c2 = cand.filter(F.col("slot") == 1).select(F.col("term").alias("w2"))
    pairs = F.broadcast(c1).crossJoin(F.broadcast(c2))
    scored = (
        pairs.join(F.broadcast(cnt.withColumnRenamed("term", "w1")), "w1")
        .join(bigrams, ["w1", "w2"], "left")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("suggestion"),
            F.round(
                F.log((F.col("c") + F.lit(1.0)) / F.lit(float(n_tok + vocab)))
                + F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                    / (F.col("c") + F.lit(float(vocab)))
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("suggestion"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _SUGGEST_K)
        .select("rank", "suggestion", "score")
    )


def _sql_phrase_suggest() -> str:
    w1, w2 = _SUGGEST_INPUT
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM postings GROUP BY 1),
corpus AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS v FROM cnt),
ptoks AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
bigrams AS (
  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
c1 AS (SELECT term AS w1 FROM cnt WHERE levenshtein(term, '{w1}') <= 1),
c2 AS (SELECT term AS w2 FROM cnt WHERE levenshtein(term, '{w2}') <= 1),
scored AS (
  SELECT c1.w1 || ' ' || c2.w2 AS suggestion,
         round(ln((u.c + 1.0) / (co.n_tok + co.v))
             + ln((coalesce(b.c12, 0) + 1.0) / (u.c + CAST(co.v AS DOUBLE))), 6) AS score
  FROM c1 CROSS JOIN c2
  JOIN cnt u ON u.term = c1.w1
  LEFT JOIN bigrams b ON b.w1 = c1.w1 AND b.w2 = c2.w2
  CROSS JOIN corpus co
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, suggestion ASC) AS INT) AS rank,
       suggestion, score
FROM scored
ORDER BY rank
LIMIT {_SUGGEST_K}
"""


SQL_PHRASE_SUGGEST = _sql_phrase_suggest()


_INNER_HITS_GROUPS = 3
_INNER_HITS_SIZE = 2


def q_collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing with ``inner_hits`` parity: the top
    ``_INNER_HITS_GROUPS`` source groups per query (ranked by each
    group's best hit, exactly q_bm25_collapse_topk's contract) PLUS the
    top ``_INNER_HITS_SIZE`` hits INSIDE each returned group — ES
    answers inner_hits with a secondary per-group mini-search; here
    both levels fall out of the same scored candidate set with two
    window functions (group rank over group-best, inner rank within
    group), so the corpus is scanned once, not once per group.
    Quantized scores before both windows keep tie-breaks identical."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    scored = scored.join(docs.select("doc_id", "source"), "doc_id")
    wg = Window.partitionBy("query_id", "source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    inner = scored.withColumn("inner_rank", F.row_number().over(wg).cast("int"))
    best = inner.filter(F.col("inner_rank") == 1).select(
        "query_id", "source", F.col("score").alias("best_score"),
        F.col("doc_id").alias("best_doc"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("best_score"), F.asc("best_doc")
    )
    groups = (
        best.withColumn("group_rank", F.row_number().over(wq).cast("int"))
        .filter(F.col("group_rank") <= _INNER_HITS_GROUPS)
        .select("query_id", "source", "group_rank")
    )
    return (
        inner.filter(F.col("inner_rank") <= _INNER_HITS_SIZE)
        .join(groups, ["query_id", "source"])
        .select("query_id", "group_rank", "source", "inner_rank", "doc_id", "score")
    )


SQL_COLLAPSE_INNER_HITS = f"""
{_sql_bm25_scored_cte()},
with_src AS (
  SELECT s.query_id, d.source, s.doc_id, s.score,
         CAST(row_number() OVER (PARTITION BY s.query_id, d.source
                                 ORDER BY s.score DESC, s.doc_id ASC) AS INT) AS inner_rank
  FROM scored s JOIN documents d USING (doc_id)
),
groups AS (
  SELECT query_id, source,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS INT) AS group_rank
  FROM with_src WHERE inner_rank = 1
)
SELECT w.query_id, g.group_rank, w.source, w.inner_rank, w.doc_id, w.score
FROM with_src w
JOIN groups g ON g.query_id = w.query_id AND g.source = w.source
WHERE g.group_rank <= {_INNER_HITS_GROUPS} AND w.inner_rank <= {_INNER_HITS_SIZE}
"""


_TERMS_LOOKUP_DOC = 3


def q_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-lookup parity (``terms: {field, index, id, path}``):
    the term set comes from ANOTHER INDEXED DOCUMENT's field, fetched
    like a GET (here: doc 3's distinct tokens — a pruned point read of
    the postings, the same doc-axis lookup as _termvectors), then used
    as a terms query. ES scores terms queries constant per match; we
    additionally expose the per-doc matched-term count (the
    coordination factor) and return the top-k by it — deterministic
    and more informative than a constant column. The lookup set
    broadcasts; the postings join stays term-pushed. The matched set
    is corpus-sized for hot lookup terms, so the global top-k goes
    through sort-limit (TakeOrderedAndProject: per-partition top-k
    merged on the driver), never a single-partition window — ranks are
    assigned after the limit, over <=k rows."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    lookup = (
        posts.filter(F.col("doc_id") == _TERMS_LOOKUP_DOC).select("term").distinct()
    )
    matched = (
        posts.join(F.broadcast(lookup), "term")
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("n_matched"))
    )
    top = matched.orderBy(F.desc("n_matched"), F.asc("doc_id")).limit(DEFAULT_K)
    w = Window.orderBy(F.desc("n_matched"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "n_matched")
    )


SQL_TERMS_LOOKUP = f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
lookup AS (SELECT DISTINCT term FROM postings WHERE doc_id = {_TERMS_LOOKUP_DOC}),
matched AS (
  SELECT p.doc_id, CAST(count(DISTINCT p.term) AS BIGINT) AS n_matched
  FROM postings p JOIN lookup l USING (term)
  GROUP BY 1
),
ranked AS (
  SELECT doc_id, n_matched,
         CAST(row_number() OVER (ORDER BY n_matched DESC, doc_id ASC) AS INT) AS rank
  FROM matched
)
SELECT rank, doc_id, n_matched FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: distance_feature on n_chars: boost * pivot / (pivot + distance)
_DISTF_ORIGIN = 300
_DISTF_PIVOT = 100
_DISTF_BOOST = 2.0


def q_distance_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``distance_feature`` query parity: BM25 relevance PLUS a
    rational proximity boost ``boost * pivot / (pivot + |field -
    origin|)`` on a numeric field (the recency-boost query that, unlike
    function_score, can participate in WAND early termination because
    its contribution is bounded by ``boost``). One JVM projection over
    the scored candidates joined to the doc store; exact integer
    distance, a single double division per hit, rounded 6 on both
    engines."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    feat = docs.select(
        "doc_id",
        (
            F.lit(_DISTF_BOOST)
            * F.lit(float(_DISTF_PIVOT))
            / (F.lit(_DISTF_PIVOT) + F.abs(F.col("n_chars") - F.lit(_DISTF_ORIGIN)))
        ).alias("_boost"),
    )
    total = scored.join(feat, "doc_id").select(
        "query_id", "doc_id", F.round(F.col("score") + F.col("_boost"), 6).alias("score")
    )
    return bm25.rank(total, DEFAULT_K)


SQL_DISTANCE_FEATURE_TOPK = f"""
{_sql_bm25_scored_cte()},
boosted AS (
  SELECT s.query_id, s.doc_id,
         round(s.score + {_DISTF_BOOST!r} * {float(_DISTF_PIVOT)!r}
               / ({_DISTF_PIVOT} + abs(d.n_chars - {_DISTF_ORIGIN})), 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM boosted
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


# ---------------------------------------------------------------------------
# ES API parity, batch 14 (r5): match_bool_prefix, _terms_enum,
# indices_boost, variable_width_histogram

#: match_bool_prefix fixtures: (query_id, full terms, trailing prefix).
#: mbp-0003 has no full terms — the prefix-only edge case (ES still
#: matches, score is the constant prefix contribution alone).
MBP_BOOL_QUERIES: list[tuple[str, list[str], str]] = [
    ("mbp-0001", ["merge", "sort"], "win"),
    ("mbp-0002", ["hash"], "jo"),
    ("mbp-0003", [], "cust"),
]


def q_match_bool_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_bool_prefix`` parity: the analyzed query becomes a
    bool SHOULD of term queries for every token but the last plus a
    ``prefix`` query on the last — so unlike match_phrase_prefix the
    tokens need not be adjacent or ordered. Scoring follows ES's
    rewrite: full terms contribute BM25, the prefix clause is a
    constant_score multi-term rewrite contributing 1.0 to every doc
    containing ANY dictionary term with that prefix. Full-term scoring
    is term-pushed (candidates only, never the corpus); the prefix
    expansion is a pushed StartsWith FILTER on the term stats
    (dictionary-seek analog), broadcast into the postings join; the
    two hit sets meet in one full outer join on (query, doc)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    full_queries = [(qid, " ".join(toks)) for qid, toks, _ in MBP_BOOL_QUERIES if toks]
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, full_queries, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    exp = None
    for qid, _, pre in MBP_BOOL_QUERIES:
        e = ts.filter(F.col("term").startswith(pre)).select(
            F.lit(qid).alias("query_id"), "term"
        )
        exp = e if exp is None else exp.union(e)
    phits = (
        posts.select("term", "doc_id")
        .join(F.broadcast(exp), "term")
        .select("query_id", "doc_id")
        .distinct()
        .withColumn("prefix_boost", F.lit(1.0))
    )
    combined = scored.join(phits, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.col("score"), F.lit(0.0))
            + F.coalesce(F.col("prefix_boost"), F.lit(0.0)),
            6,
        ).alias("score"),
    )
    return bm25.rank(combined, DEFAULT_K)


def _sql_match_bool_prefix(k: int = DEFAULT_K) -> str:
    vals = []
    for qid, toks, _ in MBP_BOOL_QUERIES:
        seen: dict[str, int] = {}
        for t in toks:
            seen[t] = seen.get(t, 0) + 1
        for t, n in sorted(seen.items()):
            vals.append(f"('{qid}', '{t}', CAST({n} AS DOUBLE))")
    qterms_cte = (
        "qterms AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(query_id, term, qtf))"
    )
    pfx_vals = ", ".join(f"('{qid}', '{pre}')" for qid, _, pre in MBP_BOOL_QUERIES)
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qterms_cte)},
pfx(query_id, prefix) AS (VALUES {pfx_vals}),
pterms AS (
  SELECT p.query_id, t.term
  FROM (SELECT DISTINCT term FROM postings) t
  JOIN pfx p ON starts_with(t.term, p.prefix)
),
phits AS (
  SELECT DISTINCT q.query_id, po.doc_id FROM pterms q JOIN postings po USING (term)
),
combined AS (
  SELECT coalesce(s.query_id, h.query_id) AS query_id,
         coalesce(s.doc_id, h.doc_id) AS doc_id,
         round(coalesce(s.score, 0.0)
               + CASE WHEN h.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END, 6) AS score
  FROM scored s
  FULL OUTER JOIN phits h ON s.query_id = h.query_id AND s.doc_id = h.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM combined
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""


SQL_MATCH_BOOL_PREFIX_TOPK = _sql_match_bool_prefix()


def q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_terms_enum`` API parity (the index-backed autocomplete
    endpoint): for each probe prefix, the first ``size`` dictionary
    terms in binary order that match. Answered from the persisted term
    dictionary alone — a pushed-down StartsWith range predicate (the
    FST dictionary seek ES does), no postings touched, no corpus scan;
    the per-prefix order-by runs over the matched dictionary slice
    only (term-dictionary-sized, never doc-sized)."""
    idx = _physical_index(spark, sf_dir)
    td = idx.termdict
    exp = None
    for p in _PREFIXES:
        e = td.filter(F.col("term").startswith(p)).select(
            F.lit(p).alias("prefix"), "term"
        )
        exp = e if exp is None else exp.union(e)
    w = Window.partitionBy("prefix").orderBy(F.asc("term"))
    return (
        exp.withColumn("pos", F.row_number().over(w).cast("int"))
        .filter(F.col("pos") <= DEFAULT_K)
        .select("prefix", "pos", "term")
    )


SQL_TERMS_ENUM = f"""
WITH {_DUCK_TOKS},
dterms AS (SELECT DISTINCT term FROM toks),
pfx(prefix) AS (VALUES {", ".join(f"('{p}')" for p in _PREFIXES)}),
ranked AS (
  SELECT p.prefix, t.term,
         CAST(row_number() OVER (PARTITION BY p.prefix ORDER BY t.term ASC) AS INT) AS pos
  FROM dterms t JOIN pfx p ON starts_with(t.term, p.prefix)
)
SELECT prefix, pos, term FROM ranked WHERE pos <= {DEFAULT_K}
"""


#: indices_boost fixture: per-source (per-index in the date/source-
#: sharded layout) multiplicative score boost as exact rationals
#: (numerator, denominator); unlisted sources 1/1. Rationals, not
#: floats: the boosted score is computed HALF-UP IN INTEGER
#: MICRO-UNITS (``(si*2p + q) // 2q`` over the 1e-6-quantized score),
#: so engine and oracle round the exact same integers — a float
#: ``round(score * 0.6, 6)`` lands on 7th-digit-5 boundaries where
#: Spark's and DuckDB's double rounding legitimately disagree.
_INDICES_BOOST = [("src0", 3, 2), ("src1", 3, 5)]  # 1.5x, 0.6x


def q_indices_boost_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``indices_boost`` parity: when one search spans several
    indices (here: the source-sharded layout standing in for ES's
    per-index boost list), hits from a boosted index have their
    relevance score multiplied by that index's factor before the
    global top-k. The boost table is a literal CASE; scoring stays
    term-pushed; the boost apply is one JVM projection over the
    scored candidates joined to the doc store's shard column. See
    _INDICES_BOOST for the exact-integer rounding contract."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=1_000_000_000, cfg=CFG
    ).drop("rank")
    si = F.round(F.col("score") * F.lit(1e6)).cast("long")
    micro = F.floor((si * F.lit(2) + F.lit(1)) / F.lit(2)).cast("long")  # 1/1 default
    for src, p, q in _INDICES_BOOST:
        micro = (
            F.when(
                F.col("source") == src,
                F.floor((si * F.lit(2 * p) + F.lit(q)) / F.lit(2 * q)).cast("long"),
            )
            .otherwise(micro)
        )
    shard = docs.select("doc_id", "source")
    total = scored.join(shard, "doc_id").select(
        "query_id",
        "doc_id",
        (micro.cast("double") / F.lit(1e6)).alias("score"),
    )
    return bm25.rank(total, DEFAULT_K)


SQL_INDICES_BOOST_TOPK = f"""
{_sql_bm25_scored_cte()},
boosted AS (
  SELECT s.query_id, s.doc_id,
         (CASE
           {" ".join(f"WHEN d.source = '{src}' THEN (CAST(round(s.score * 1e6) AS BIGINT) * {2 * p} + {q}) // {2 * q}" for src, p, q in _INDICES_BOOST)}
           ELSE (CAST(round(s.score * 1e6) AS BIGINT) * 2 + 1) // 2
         END) / 1e6 AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM boosted
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


#: variable_width_histogram bucket target
_VWH_BUCKETS = 8


def q_variable_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``variable_width_histogram`` agg parity with a DETERMINISTIC
    bucketing contract (ES's own is a one-pass approximate clustering
    whose buckets depend on shard traversal order — unreproducible by
    design, so this fixes the deterministic variant a distributed
    engine can actually guarantee): target B buckets, each distinct
    value assigned whole to bucket ``min(B-1, floor(cum_before /
    ceil(N/B)))`` where ``cum_before`` counts rows with smaller
    values — equal-depth buckets that never split a value across
    buckets (ES also keeps equal values together). Returns per bucket
    the centroid ``key`` plus min/max/doc_count exactly as ES does.
    Scale shape: one partial-agg shuffle compresses the corpus to the
    DISTINCT-VALUE DOMAIN (bounded by max doc length, not corpus
    size); the cumulative window and all bucket stats then run over
    that domain-sized table — the single-partition window is
    domain-bounded, never doc-bounded, at any corpus size."""
    docs = _docs(spark, sf_dir)
    dom = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = dom.agg(F.sum("cnt").alias("n"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = dom.withColumn(
        "cumb", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).crossJoin(F.broadcast(tot))
    thresh = F.floor((F.col("n") + F.lit(_VWH_BUCKETS - 1)) / F.lit(_VWH_BUCKETS))
    bucket = F.least(
        F.lit(_VWH_BUCKETS - 1).cast("long"), F.floor(F.col("cumb") / thresh)
    )
    return c.select("v", "cnt", bucket.alias("bucket")).groupBy("bucket").agg(
        F.round(F.sum(F.col("v") * F.col("cnt")) / F.sum("cnt"), 6).alias("key"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.sum("cnt").alias("doc_count"),
    )


SQL_VARIABLE_WIDTH_HISTOGRAM = f"""
WITH dom AS (
  SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dom),
c AS (
  SELECT v, cnt,
         coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM dom
),
assigned AS (
  SELECT c.v, c.cnt,
         least({_VWH_BUCKETS - 1},
               CAST(floor(c.cumb * 1.0 / floor((t.n + {_VWH_BUCKETS - 1}) * 1.0 / {_VWH_BUCKETS})) AS BIGINT)) AS bucket
  FROM c CROSS JOIN tot t
)
SELECT bucket,
       round(CAST(sum(v * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS key,
       min(v) AS vmin,
       max(v) AS vmax,
       CAST(sum(cnt) AS BIGINT) AS doc_count
FROM assigned GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# batch 15: simple_query_string, span_or / span_within, significant_text,
# parent_id, search templates (reference delegates all of these to ES —
# `elasticsearch/ElasticsearchBulkSender.scala` ships documents and the query
# surface is ES's own; parity semantics from the public ES 8.x docs).

#: simple_query_string fixtures: `+term` = must, `-term` = must_not, bare
#: term = should (default_operator OR), a standalone `|` is the explicit OR
#: separator (a no-op under default_operator OR). Analyzer applied per clause.
_SQS_QUERIES = [
    ("sqs-1", "merge +sort -slow"),
    ("sqs-2", "+the vector"),
    ("sqs-3", "scan | stream -dup"),
    ("sqs-4", "+hash +join"),
]


def _parse_simple_query_string(text: str) -> list[tuple[str, str]]:
    """(term, kind) clauses of the simple_query_string mini-language.
    ES's lenient contract: flags we don't model (prefix ``*``, quoted
    phrases) don't appear in the fixture; unknown syntax would simply
    analyze as terms, never error — the defining property of this API
    vs query_string."""
    out: list[tuple[str, str]] = []
    for raw in text.split():
        if raw == "|":
            continue
        kind = "should"
        if raw.startswith("+"):
            kind, raw = "must", raw[1:]
        elif raw.startswith("-"):
            kind, raw = "not", raw[1:]
        out.extend((t, kind) for t in tokenize_text(raw))
    return out


_SQS_CLAUSES = [
    (qid, t, k) for qid, qtext in _SQS_QUERIES for t, k in _parse_simple_query_string(qtext)
]


def q_simple_query_string_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``simple_query_string`` parity: must clauses are all
    required, must_not docs are excluded (filter context — index-wide
    df/avgdl are untouched), should clauses score when present and,
    per ES's minimum_should_match rule, at least one must match ONLY
    when the query has no must clauses — which falls out for free
    here because candidates are generated from positive-term postings
    (a candidate with zero should matches and zero must clauses cannot
    exist). Candidate generation is the same term-pushed postings
    semi-join as every BM25 path; the must-coverage count rides the
    score aggregation (zero extra shuffles); exclusion is a broadcast-
    fanned anti-join bounded by the not-terms' hit sets."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    pos_terms = sorted({t for _, t, k in _SQS_CLAUSES if k != "not"})
    not_terms = sorted({t for _, t, k in _SQS_CLAUSES if k == "not"})
    pseudo = [
        (qid, " ".join(t for q2, t, k in _SQS_CLAUSES if q2 == qid and k != "not"))
        for qid, _ in _SQS_QUERIES
    ]
    tdf = bm25.collect_query_term_stats(ts, pseudo)
    qterms = bm25.query_term_weights(spark, pseudo, tdf, n_docs)
    kinds = literal_df(
        spark,
        [(q, t, k) for q, t, k in _SQS_CLAUSES if k != "not"],
        "query_id string, term string, kind string",
    )
    qterms = qterms.join(F.broadcast(kinds), ["query_id", "term"])
    nmust = literal_df(
        spark,
        [
            (qid, sum(1 for q2, _, k in _SQS_CLAUSES if q2 == qid and k == "must"))
            for qid, _ in _SQS_QUERIES
        ],
        "query_id string, n_must int",
    )
    cand = (
        posts.filter(F.col("term").isin(pos_terms))
        .join(F.broadcast(qterms), "term")
        .join(ds, "doc_id")
    )
    contrib = bm25.contrib_col(F.col("w"), F.col("tf"), F.col("doclen"), avgdl, CFG)
    scored = (
        cand.select("query_id", "doc_id", "term", "kind", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
            F.countDistinct(
                F.when(F.col("kind") == "must", F.col("term"))
            ).alias("must_hit"),
        )
        .join(F.broadcast(nmust), "query_id")
        .filter(F.col("must_hit") == F.col("n_must"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]).alias(
                "score"
            ),
        )
    )
    nots = literal_df(
        spark,
        [(q, t) for q, t, k in _SQS_CLAUSES if k == "not"],
        "query_id string, term string",
    )
    excl = (
        posts.filter(F.col("term").isin(not_terms))
        .join(F.broadcast(nots), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    return bm25.topk(scored.join(excl, ["query_id", "doc_id"], "left_anti"), DEFAULT_K)


def _sql_simple_query_string() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(f"('{q}', '{t}', '{k}')" for q, t, k in _SQS_CLAUSES)
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
clauses(query_id, term, kind) AS (VALUES {rows}),
qmeta AS (
  SELECT query_id, sum(CASE WHEN kind = 'must' THEN 1 ELSE 0 END) AS n_must
  FROM clauses GROUP BY 1
),
excl AS (
  SELECT DISTINCT c.query_id, p.doc_id
  FROM clauses c JOIN postings p USING (term) WHERE c.kind = 'not'
),
contribs AS (
  SELECT c.query_id, p.doc_id,
         CASE WHEN c.kind = 'must' THEN p.term END AS must_term,
         ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)) AS contrib
  FROM clauses c
  JOIN postings p USING (term)
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus co
  WHERE c.kind <> 'not'
),
scored AS (
  SELECT query_id, doc_id, round(sum(contrib), 6) AS score,
         count(DISTINCT must_term) AS must_hit
  FROM contribs GROUP BY 1, 2
),
kept AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scored s JOIN qmeta m USING (query_id)
  WHERE s.must_hit = m.n_must
    AND NOT EXISTS (
      SELECT 1 FROM excl e WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id
    )
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM kept
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SIMPLE_QUERY_STRING_TOPK = _sql_simple_query_string()


#: span_near([span_or(ta, tb), tc], slop, in_order=true) fixtures
_SPAN_OR_QUERIES = [
    ("sor-1", "hash", "merge", "join", 2),
    ("sor-2", "group", "sort", "key", 1),
]


def q_span_or_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_or`` inside ``span_near`` parity (in_order=true): a
    doc matches when EITHER or-term occurs before ``tc`` with at most
    ``slop`` tokens between. Scoring contract: BM25(tc) plus the BM25
    of each or-term that PARTICIPATES in at least one matching span
    (an or-term merely present elsewhere in the doc contributes
    nothing — span scoring is positional). All three posting lists
    come partition-pruned from the positional index (term_bucket
    pruning like span_not); the span tests are JVM higher-order
    ``exists`` over position arrays. Proximity uses position
    DIFFERENCES so the index's 0-based positions and the oracle's
    1-based subscripts agree without adjustment."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    terms = sorted({t for _, a, b2, c, _ in _SPAN_OR_QUERIES for t in (a, b2, c)})
    td = {
        r["term"]: (int(r["df"]), int(r["term_bucket"]))
        for r in idx.termdict.filter(F.col("term").isin(terms)).collect()
    }
    buckets = sorted({b for _, b in td.values()})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    )
    spans = literal_df(
        spark,
        _SPAN_OR_QUERIES,
        "query_id string, ta string, tb string, tc string, slop int",
    )
    pc = posts.select(
        F.col("term").alias("tc"),
        "doc_id",
        F.col("tf").alias("tfc"),
        "doclen",
        F.col("positions").alias("pc"),
    )
    pa = posts.select(
        F.col("term").alias("ta"),
        "doc_id",
        F.col("tf").alias("tfa"),
        F.col("positions").alias("pa"),
    )
    pb = posts.select(
        F.col("term").alias("tb"),
        "doc_id",
        F.col("tf").alias("tfb"),
        F.col("positions").alias("pb"),
    )
    cand = (
        F.broadcast(spans)
        .join(pc, "tc")
        .join(pa, ["ta", "doc_id"], "left")
        .join(pb, ["tb", "doc_id"], "left")
    )
    slop = F.col("slop").cast("long")

    def _near(parr: str) -> Column:
        return F.col(parr).isNotNull() & F.exists(
            parr,
            lambda a: F.exists("pc", lambda q: (q > a) & ((q - a - F.lit(1)) <= slop)),
        )

    cand = cand.withColumn("_ma", _near("pa")).withColumn("_mb", _near("pb"))
    matched = cand.filter(F.col("_ma") | F.col("_mb"))
    idfm = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, td.get(t, (0, -1))[0])))]
    )

    def _contrib(tf_col: str, w: Column) -> Column:
        return bm25.contrib_col(w, F.col(tf_col), F.col("doclen"), avgdl, CFG)

    score = (
        _contrib("tfc", idfm[F.col("tc")])
        + F.when(F.col("_ma"), _contrib("tfa", idfm[F.col("ta")])).otherwise(F.lit(0.0))
        + F.when(F.col("_mb"), _contrib("tfb", idfm[F.col("tb")])).otherwise(F.lit(0.0))
    )
    scored = matched.select("query_id", "doc_id", F.round(score, 6).alias("score"))
    return bm25.rank(scored, DEFAULT_K)


def _sql_span_or() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        f"('{q}', '{a}', '{b2}', '{c}', {s})" for q, a, b2, c, s in _SPAN_OR_QUERIES
    )
    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for _, a, b2, c, _ in _SPAN_OR_QUERIES for t in (a, b2, c)})
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
spans(query_id, ta, tb, tc, slop) AS (VALUES {rows}),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
pm AS (
  SELECT s.query_id, c.doc_id,
         bool_or(a.term = s.ta) AS ma, bool_or(a.term = s.tb) AS mb
  FROM spans s
  JOIN posns c ON c.term = s.tc
  JOIN posns a ON a.doc_id = c.doc_id AND a.term IN (s.ta, s.tb)
   AND c.pos > a.pos AND c.pos - a.pos - 1 <= s.slop
  GROUP BY 1, 2
),
tcontrib AS (
  SELECT p.doc_id, p.term,
         ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)) AS contrib
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus co
  WHERE p.term IN ({all_terms})
),
scored AS (
  SELECT m.query_id, m.doc_id,
         round(cc.contrib
               + CASE WHEN m.ma THEN coalesce(ca.contrib, 0) ELSE 0 END
               + CASE WHEN m.mb THEN coalesce(cb.contrib, 0) ELSE 0 END, 6) AS score
  FROM pm m
  JOIN spans s USING (query_id)
  JOIN tcontrib cc ON cc.doc_id = m.doc_id AND cc.term = s.tc
  LEFT JOIN tcontrib ca ON ca.doc_id = m.doc_id AND ca.term = s.ta
  LEFT JOIN tcontrib cb ON cb.doc_id = m.doc_id AND cb.term = s.tb
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_OR_TOPK = _sql_span_or()


#: span_within fixtures: (query_id, little, t1, t2, slop) — little must sit
#: inside a matching big span_near(t1, t2, slop, in_order) interval
_SPAN_WITHIN_QUERIES = [
    ("sw-1", "key", "group", "join", 6),
    ("sw-2", "sort", "merge", "window", 5),
]


def q_span_within_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_within`` parity: the little span (a single term) must
    be fully enclosed by a matching big span — positions p1 <= pl <= p2
    with p1 from t1, p2 from t2, p2 after p1 within slop. Scored by the
    little clause's BM25 only (ES: span_within takes its score from
    ``little``). Partition-pruned positional reads like span_not; the
    enclosure test is a triple-nested JVM ``exists`` over three
    position arrays, O(tf_l * tf_1 * tf_2) per candidate doc. All
    position comparisons are shift-invariant, so 0-based index
    positions and 1-based oracle subscripts agree."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    terms = sorted({t for _, l, t1, t2, _ in _SPAN_WITHIN_QUERIES for t in (l, t1, t2)})
    td = {
        r["term"]: (int(r["df"]), int(r["term_bucket"]))
        for r in idx.termdict.filter(F.col("term").isin(terms)).collect()
    }
    buckets = sorted({b for _, b in td.values()})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    )
    spans = literal_df(
        spark,
        _SPAN_WITHIN_QUERIES,
        "query_id string, tl string, t1 string, t2 string, slop int",
    )
    pl = posts.select(
        F.col("term").alias("tl"),
        "doc_id",
        F.col("tf").alias("tfl"),
        "doclen",
        F.col("positions").alias("ppl"),
    )
    p1 = posts.select(
        F.col("term").alias("t1"), "doc_id", F.col("positions").alias("pp1")
    )
    p2 = posts.select(
        F.col("term").alias("t2"), "doc_id", F.col("positions").alias("pp2")
    )
    cand = (
        F.broadcast(spans)
        .join(pl, "tl")
        .join(p1, ["t1", "doc_id"])
        .join(p2, ["t2", "doc_id"])
    )
    slop = F.col("slop").cast("long")
    enclosed = F.exists(
        "ppl",
        lambda pl_: F.exists(
            "pp1",
            lambda a: (a <= pl_)
            & F.exists(
                "pp2",
                lambda q: (q >= pl_) & (q > a) & ((q - a - F.lit(1)) <= slop),
            ),
        ),
    )
    matched = cand.filter(enclosed)
    idfm = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, td.get(t, (0, -1))[0])))]
    )
    score = bm25.contrib_col(idfm[F.col("tl")], F.col("tfl"), F.col("doclen"), avgdl, CFG)
    scored = matched.select("query_id", "doc_id", F.round(score, 6).alias("score"))
    return bm25.rank(scored, DEFAULT_K)


def _sql_span_within() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        f"('{q}', '{l}', '{t1}', '{t2}', {s})" for q, l, t1, t2, s in _SPAN_WITHIN_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
spans(query_id, tl, t1, t2, slop) AS (VALUES {rows}),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
m AS (
  SELECT DISTINCT s.query_id, l.doc_id
  FROM spans s
  JOIN posns l ON l.term = s.tl
  JOIN posns a ON a.doc_id = l.doc_id AND a.term = s.t1 AND a.pos <= l.pos
  JOIN posns b2 ON b2.doc_id = l.doc_id AND b2.term = s.t2
   AND b2.pos >= l.pos AND b2.pos > a.pos AND b2.pos - a.pos - 1 <= s.slop
),
scored AS (
  SELECT m.query_id, m.doc_id,
         round(ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)), 6) AS score
  FROM m
  JOIN spans s USING (query_id)
  JOIN postings p ON p.doc_id = m.doc_id AND p.term = s.tl
  JOIN tstats t ON t.term = s.tl
  JOIN dstats d ON d.doc_id = m.doc_id
  CROSS JOIN corpus co
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_WITHIN_TOPK = _sql_span_within()


#: significant_text sample size (ES sampler shard_size analog — the
#: deterministic variant: top-N hits by BM25, ties doc_id asc) + min fg df
_SIGTEXT_SAMPLE = 50
_SIGTEXT_MIN_FG = 2


def q_significant_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``significant_text`` aggregation parity: unlike
    significant_terms (q_sig_terms, which lifts over the FULL hit
    set), significant_text samples the top hits and scores candidate
    terms with JLH — (fg% - bg%) * (fg% / bg%), ES's default heuristic
    for this agg. The sample here is the deterministic analog of ES's
    ``sampler`` wrapper: top-``_SIGTEXT_SAMPLE`` hits by BM25 (ties
    doc_id asc) per query, so engine and oracle agree exactly. Term
    frequencies come from the postings the engine already owns (one
    tokenize pass, per-doc dedup via distinct doc counts — the
    filter_duplicate_text analog); the foreground join fans by the
    SAMPLE, bounded at corpus scale by sample_size * avg_doclen, not
    the corpus."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs = ds.count()
    sample = bm25.bm25_topk_naive(
        posts, ds, ts, REFERENCE_QUERIES, k=_SIGTEXT_SAMPLE, cfg=CFG
    ).select("query_id", "doc_id")
    fgn = sample.groupBy("query_id").agg(F.count(F.lit(1)).alias("fg_n"))
    fg = (
        posts.join(sample, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.countDistinct("doc_id").alias("fg_df"))
        .filter(F.col("fg_df") >= _SIGTEXT_MIN_FG)
    )
    fgp = F.col("fg_df") / F.col("fg_n")
    bgp = F.col("df") / F.lit(float(n_docs))
    scored = (
        fg.join(F.broadcast(fgn), "query_id")
        .join(ts, "term")
        .select(
            "query_id",
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.round((fgp - bgp) * (fgp / bgp), 6).alias("jlh"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jlh"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("query_id", "rank", "term", "fg_df", "jlh")
    )


SQL_SIGNIFICANT_TEXT_AGG = f"""
{_sql_bm25_scored_cte()},
ranked0 AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored
),
sample AS (SELECT query_id, doc_id FROM ranked0 WHERE rk <= {_SIGTEXT_SAMPLE}),
fgn AS (SELECT query_id, count(*) AS fg_n FROM sample GROUP BY 1),
fg AS (
  SELECT s.query_id, p.term, count(DISTINCT p.doc_id) AS fg_df
  FROM sample s JOIN postings p USING (doc_id)
  GROUP BY 1, 2
  HAVING count(DISTINCT p.doc_id) >= {_SIGTEXT_MIN_FG}
),
jlh AS (
  SELECT f.query_id, f.term, CAST(f.fg_df AS BIGINT) AS fg_df,
         round(((f.fg_df * 1.0 / n.fg_n) - (t.df * 1.0 / c.n_docs))
               * ((f.fg_df * 1.0 / n.fg_n) / (t.df * 1.0 / c.n_docs)), 6) AS jlh
  FROM fg f
  JOIN fgn n USING (query_id)
  JOIN tstats t USING (term)
  CROSS JOIN corpus c
),
rankedj AS (
  SELECT query_id, term, fg_df, jlh,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY jlh DESC, term ASC) AS INT) AS rank
  FROM jlh
)
SELECT query_id, rank, term, fg_df, jlh FROM rankedj WHERE rank <= {DEFAULT_K}
"""


#: parent_id query fixture: the parent conversations whose children we fetch
_PARENT_IDS = [1, 7, 23]


def q_parent_id_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``parent_id`` query parity: fetch the child turns of given
    parent conversations; every match scores the constant 1.0 (ES
    scores parent_id as a filter-context constant times boost). The
    conv->doc mapping is the join-field layout has_child fixes
    (conv_id = doc_id DIV k), so each parent is a CONTIGUOUS doc_id
    range — the filter is emitted as an OR of doc_id BETWEEN ranges,
    which pushes into the parquet scan as min/max predicates (ES
    routes a parent_id query to one shard the same way; here the
    row-group zone maps do the seek)."""
    docs = _docs(spark, sf_dir)
    pred = None
    for c in _PARENT_IDS:
        clause = F.col("doc_id").between(c * _PC_CONV, c * _PC_CONV + _PC_CONV - 1)
        pred = clause if pred is None else (pred | clause)
    return (
        docs.filter(pred)
        .select(_conv_col(), "doc_id", F.lit(1.0).alias("score"))
    )


SQL_PARENT_ID_CHILDREN = f"""
SELECT CAST(doc_id // {_PC_CONV} AS BIGINT) AS conv_id, doc_id, 1.0 AS score
FROM documents
WHERE doc_id // {_PC_CONV} IN ({", ".join(str(c) for c in _PARENT_IDS)})
"""


#: search-template fixture: one stored mustache template + per-search params
#: (ES ``_search/template`` with ``{{var}}`` substitution — the subset ES
#: users overwhelmingly use; sections/partials are out of scope, documented)
_SEARCH_TEMPLATE_SRC = '{"query": {"match": {"text": "{{qtext}}"}}, "size": {{k}}}'
_SEARCH_TEMPLATE_PARAMS: list[tuple[str, dict]] = [
    ("st-1", {"qtext": "merge sort", "k": 5}),
    ("st-2", {"qtext": "vector stream batch", "k": 3}),
    ("st-3", {"qtext": "dup", "k": 10}),
]

_MUSTACHE_RE = re.compile(r"\{\{\s*([A-Za-z0-9_]+)\s*\}\}")


def _render_search_template(src: str, params: dict) -> str:
    """Mustache-subset renderer ({{var}} only). Missing params render
    empty, like mustache's falsy rule — a template bug then surfaces
    as a JSON parse error at render time, not silently at query time."""
    return _MUSTACHE_RE.sub(lambda m: str(params.get(m.group(1), "")), src)


def _rendered_templates() -> tuple[list[tuple[str, str]], dict[str, int]]:
    queries: list[tuple[str, str]] = []
    ks: dict[str, int] = {}
    for qid, params in _SEARCH_TEMPLATE_PARAMS:
        body = json.loads(_render_search_template(_SEARCH_TEMPLATE_SRC, params))
        queries.append((qid, str(body["query"]["match"]["text"])))
        ks[qid] = int(body["size"])
    return queries, ks


_ST_QUERIES, _ST_KS = _rendered_templates()


def q_search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_search/template`` parity: render the stored template with
    each search's params (mustache {{var}} subset), parse the rendered
    JSON search body, and execute it — a match query at a per-search
    ``size``. Rendering happens once on the driver (templates are
    metadata); execution is exactly the naive BM25 plan at
    k = max(size), with the per-search size applied as a rank filter
    against a broadcast literal — one plan for the whole template
    batch, as ES's multi-search template endpoint does."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    topk = bm25.bm25_topk_naive(
        posts, ds, ts, _ST_QUERIES, k=max(_ST_KS.values()), cfg=CFG
    )
    ks = literal_df(
        spark, sorted(_ST_KS.items()), "query_id string, k int"
    )
    return (
        topk.join(F.broadcast(ks), "query_id")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )


def _sql_search_template() -> str:
    qrows = []
    for qid, text in _ST_QUERIES:
        toks = tokenize_text(text)
        for t in sorted(set(toks)):
            qrows.append((qid, t, float(toks.count(t))))
    qterms_cte = "qterms(query_id, term, qtf) AS (VALUES {})".format(
        ", ".join(f"('{q}', '{t}', {w!r})" for q, t, w in qrows)
    )
    krows = ", ".join(f"('{q}', {k})" for q, k in sorted(_ST_KS.items()))
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qterms_cte)},
ks(query_id, k) AS (VALUES {krows}),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT r.query_id, r.rank, r.doc_id, r.score
FROM ranked r JOIN ks USING (query_id)
WHERE r.rank <= ks.k
"""


SQL_SEARCH_TEMPLATE = _sql_search_template()


# ---------------------------------------------------------------------------
# batch 16: wrapper query, span_containing, _field_caps

#: wrapper-query fixture: base64-encoded match-query bodies, the ES escape
#: hatch for embedding a raw JSON query where only a string fits
_WRAPPER_QUERIES_B64: list[tuple[str, str]] = [
    # base64 of {"match": {"text": "..."}} bodies, decoded at module load
    ("wr-1", "eyJtYXRjaCI6IHsidGV4dCI6ICJtZXJnZSBzb3J0IHdpbmRvdyJ9fQ=="),
    ("wr-2", "eyJtYXRjaCI6IHsidGV4dCI6ICJoYXNoIGpvaW4ifX0="),
]


def _decode_wrapper_queries() -> list[tuple[str, str]]:
    import base64

    out = []
    for qid, b64 in _WRAPPER_QUERIES_B64:
        body = json.loads(base64.b64decode(b64).decode("utf-8"))
        out.append((qid, str(body["match"]["text"])))
    return out


_WRAPPER_QUERIES = _decode_wrapper_queries()


def q_wrapper_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``wrapper`` query parity: the query body arrives
    base64-encoded (the escape hatch clients use to smuggle raw query
    JSON through APIs that only accept a string), is decoded and
    parsed ON THE DRIVER (queries are metadata), and executes as the
    exact naive-BM25 plan — the wrapper adds zero execution cost by
    construction. A malformed payload fails at decode time with a
    parse error, never inside a task."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    return bm25.bm25_topk_naive(posts, ds, ts, _WRAPPER_QUERIES, k=DEFAULT_K, cfg=CFG)


def _sql_wrapper_query() -> str:
    qrows = []
    for qid, text in _WRAPPER_QUERIES:
        toks = tokenize_text(text)
        for t in sorted(set(toks)):
            qrows.append((qid, t, float(toks.count(t))))
    qterms_cte = "qterms(query_id, term, qtf) AS (VALUES {})".format(
        ", ".join(f"('{q}', '{t}', {w!r})" for q, t, w in qrows)
    )
    return f"""
{_sql_bm25_scored_cte(qterms_cte=qterms_cte)},
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_WRAPPER_QUERY_TOPK = _sql_wrapper_query()


#: span_containing fixtures: (query_id, little, t1, t2, slop) — the BIG span
#: (span_near(t1, t2, slop, in_order)) must contain an occurrence of little
_SPAN_CONTAINING_QUERIES = [
    ("sc-1", "key", "group", "join", 6),
    ("sc-2", "sort", "merge", "window", 5),
]


def q_span_containing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_containing`` parity — the mirror of span_within: the
    same enclosure test (p1 <= pl <= p2 within a slop-bounded in-order
    big span), but the MATCH IS THE BIG SPAN, so the score comes from
    the big clauses: BM25(t1) + BM25(t2) (fixed t1-then-t2 addition
    order; exactly two terms, so IEEE commutativity needs no fold).
    Same partition-pruned positional reads and JVM nested ``exists``
    as span_within; the two queries share fixtures deliberately so the
    within/containing score-source difference is directly auditable in
    the paired results."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    terms = sorted({t for _, l, t1, t2, _ in _SPAN_CONTAINING_QUERIES for t in (l, t1, t2)})
    td = {
        r["term"]: (int(r["df"]), int(r["term_bucket"]))
        for r in idx.termdict.filter(F.col("term").isin(terms)).collect()
    }
    buckets = sorted({b for _, b in td.values()})
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    )
    spans = literal_df(
        spark,
        _SPAN_CONTAINING_QUERIES,
        "query_id string, tl string, t1 string, t2 string, slop int",
    )
    pl = posts.select(
        F.col("term").alias("tl"), "doc_id", F.col("positions").alias("ppl")
    )
    p1 = posts.select(
        F.col("term").alias("t1"),
        "doc_id",
        F.col("tf").alias("tf1"),
        "doclen",
        F.col("positions").alias("pp1"),
    )
    p2 = posts.select(
        F.col("term").alias("t2"),
        "doc_id",
        F.col("tf").alias("tf2"),
        F.col("positions").alias("pp2"),
    )
    cand = (
        F.broadcast(spans)
        .join(p1, "t1")
        .join(p2, ["t2", "doc_id"])
        .join(pl, ["tl", "doc_id"])
    )
    slop = F.col("slop").cast("long")
    contains = F.exists(
        "ppl",
        lambda pl_: F.exists(
            "pp1",
            lambda a: (a <= pl_)
            & F.exists(
                "pp2",
                lambda q: (q >= pl_) & (q > a) & ((q - a - F.lit(1)) <= slop),
            ),
        ),
    )
    matched = cand.filter(contains)
    idfm = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, td.get(t, (0, -1))[0])))]
    )

    def _contrib(tf_col: str, w: Column) -> Column:
        return bm25.contrib_col(w, F.col(tf_col), F.col("doclen"), avgdl, CFG)

    score = _contrib("tf1", idfm[F.col("t1")]) + _contrib("tf2", idfm[F.col("t2")])
    scored = matched.select("query_id", "doc_id", F.round(score, 6).alias("score"))
    return bm25.rank(scored, DEFAULT_K)


def _sql_span_containing() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        f"('{q}', '{l}', '{t1}', '{t2}', {s})"
        for q, l, t1, t2, s in _SPAN_CONTAINING_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
spans(query_id, tl, t1, t2, slop) AS (VALUES {rows}),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
m AS (
  SELECT DISTINCT s.query_id, l.doc_id
  FROM spans s
  JOIN posns l ON l.term = s.tl
  JOIN posns a ON a.doc_id = l.doc_id AND a.term = s.t1 AND a.pos <= l.pos
  JOIN posns b2 ON b2.doc_id = l.doc_id AND b2.term = s.t2
   AND b2.pos >= l.pos AND b2.pos > a.pos AND b2.pos - a.pos - 1 <= s.slop
),
tcontrib AS (
  SELECT p.doc_id, p.term,
         ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)) AS contrib
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus co
),
scored AS (
  SELECT m.query_id, m.doc_id, round(c1.contrib + c2.contrib, 6) AS score
  FROM m
  JOIN spans s USING (query_id)
  JOIN tcontrib c1 ON c1.doc_id = m.doc_id AND c1.term = s.t1
  JOIN tcontrib c2 ON c2.doc_id = m.doc_id AND c2.term = s.t2
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_CONTAINING_TOPK = _sql_span_containing()


#: Spark-type -> ES-field-caps-type mapping; the analyzed column is `text`
#: (the engine's mapping contract: one analyzed field, everything else exact)
_FIELD_CAPS_ANALYZED = "text"


def q_field_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_field_caps`` API parity over the documents table: per
    field its ES type, searchable and aggregatable flags, DERIVED FROM
    THE LIVE TABLE SCHEMA (a new column shows up here without a code
    change, exactly like ES's mapping introspection). The engine's
    mapping contract: the analyzed field is ``text`` (type text,
    aggregatable false — no doc_values on analyzed fields); other
    strings are keyword; bigint -> long, double -> double,
    timestamp -> date. Pure driver metadata: one schema read, a
    literal plan, no scan at all."""
    schema = _docs(spark, sf_dir).schema
    mapping = {"bigint": "long", "double": "double", "timestamp": "date"}
    rows = []
    for f in schema.fields:
        st = f.dataType.simpleString()
        if st == "string":
            es = "text" if f.name == _FIELD_CAPS_ANALYZED else "keyword"
        else:
            es = mapping.get(st, st)
        rows.append((f.name, es, True, es != "text"))
    return literal_df(
        spark,
        sorted(rows),
        "field string, es_type string, searchable boolean, aggregatable boolean",
    )


SQL_FIELD_CAPS = f"""
SELECT column_name AS field,
       CASE WHEN column_name = '{_FIELD_CAPS_ANALYZED}' THEN 'text'
            WHEN column_type = 'VARCHAR' THEN 'keyword'
            WHEN column_type = 'BIGINT' THEN 'long'
            WHEN column_type = 'DOUBLE' THEN 'double'
            WHEN column_type LIKE 'TIMESTAMP%' THEN 'date'
            ELSE lower(column_type) END AS es_type,
       TRUE AS searchable,
       (column_name <> '{_FIELD_CAPS_ANALYZED}') AS aggregatable
FROM (DESCRIBE SELECT * FROM documents)
"""


# ---------------------------------------------------------------------------
# batch 17: nested query / reverse_nested, span_multi, rank_feature log

#: nested-query fixture: SAME-turn conjunction — the defining nested
#: semantic (an object mapping would wrongly match conversations where one
#: turn has the term and a DIFFERENT turn has the lang)
_NESTED_TERM = "merge"
_NESTED_LANG = "en"


def q_nested_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query parity (score_mode: max) over the
    conversation/turn model: match conversations where SOME SINGLE
    turn satisfies BOTH conditions (contains the term AND has the
    lang) — the per-object conjunction that distinguishes ``nested``
    from a flattened object mapping, where turn A's term and turn B's
    lang would wrongly combine. Turn-level BM25 is the engine's
    standard single-term contribution; the parent takes the MAX over
    its matching turns (one partial-aggregable max on the
    co-partitioned conv key, same layout as has_child). Unlike
    has_child (q_has_child_topk: term-only child match), the turn
    filter here is a conjunction evaluated per turn BEFORE the
    rollup."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    n_docs, avgdl = bm25.corpus_stats(ds)
    dfv = {r["term"]: int(r["df"]) for r in ts.filter(F.col("term") == _NESTED_TERM).collect()}
    w = F.lit(bm25.idf(n_docs, dfv.get(_NESTED_TERM, 0)))
    contrib = bm25.contrib_col(w, F.col("tf"), F.col("doclen"), avgdl, CFG)
    hits = (
        posts.filter(F.col("term") == _NESTED_TERM)
        .join(ds, "doc_id")
        .select("doc_id", F.round(contrib, 6).alias("score"))
    )
    matched = hits.join(docs.select("doc_id", "lang"), "doc_id").filter(
        F.col("lang") == _NESTED_LANG
    )
    conv = matched.select(_conv_col(), "score").groupBy("conv_id").agg(
        F.max("score").alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("conv_id"))
    return (
        conv.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= DEFAULT_K)
        .select("rank", "conv_id", "score")
    )


def _sql_nested_query() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
hits AS (
  SELECT p.doc_id,
         round(ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)), 6) AS score
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus co
  WHERE p.term = '{_NESTED_TERM}'
),
m AS (
  SELECT h.doc_id, h.score
  FROM hits h JOIN documents x ON x.doc_id = h.doc_id AND x.lang = '{_NESTED_LANG}'
),
conv AS (
  SELECT CAST(doc_id // {_PC_CONV} AS BIGINT) AS conv_id, max(score) AS score
  FROM m GROUP BY 1
),
ranked AS (
  SELECT conv_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, conv_id ASC) AS INT) AS rank
  FROM conv
)
SELECT rank, conv_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_NESTED_QUERY = _sql_nested_query()


def q_reverse_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` agg + ``reverse_nested`` parity: bucket by a
    TURN-level field (lang), count turns per bucket (the nested doc
    count), then step back to the ROOT level and count the distinct
    parent conversations owning those turns — the reverse_nested doc
    count ES reports alongside. One partial agg over the co-partitioned
    family layout; the distinct-conv count is the one term that grows
    a second exchange, and at 100 TB it swaps to
    approx_count_distinct exactly like q_date_histogram's
    unique_users (same bound asserted in tests)."""
    docs = _docs(spark, sf_dir).withColumn("conv_id", _conv_col())
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )


SQL_REVERSE_NESTED_AGG = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT doc_id // {_PC_CONV}) AS BIGINT) AS n_convs
FROM documents GROUP BY 1
"""


#: span_multi fixtures: (query_id, prefix, literal_term, slop) —
#: span_near([span_multi(prefix(pfx)), literal], slop, in_order=true)
_SPAN_MULTI_QUERIES = [
    ("sm-1", "s", "merge", 3),
    ("sm-2", "w", "join", 4),
]


def q_span_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_multi`` parity: a multi-term query (here ``prefix``)
    wrapped as a span clause inside ``span_near(in_order=true)`` with
    a literal second term. The expansion is DYNAMIC — derived from the
    term dictionary at query time (pushed StringStartsWith seek, like
    q_prefix_topk), never a hard-coded list; matched dictionary rows
    are driver-collected (expansion-sized metadata, the same contract
    as every probed-term collect) so the block scan partition-prunes
    to the expansion's buckets. Scoring contract: BM25(literal) plus
    the BM25 of every expansion term PARTICIPATING in >=1 matching
    span, accumulated in term-sorted fold order (Lucene's blended
    rewrite differs; documented deviation — we keep the engine's exact
    per-term statistics instead of blending)."""
    from .operators import index_build as IB

    idx = _physical_index(spark, sf_dir)
    n_docs, avgdl = idx.corpus()
    lits = sorted({t for _, _, t, _ in _SPAN_MULTI_QUERIES})
    pfx_rows = idx.termdict
    cond = F.col("term").isin(lits)
    for _, p, _, _ in _SPAN_MULTI_QUERIES:
        cond = cond | F.col("term").startswith(p)
    dict_rows = pfx_rows.filter(cond).select("term", "df", "term_bucket").collect()
    td = {r["term"]: (int(r["df"]), int(r["term_bucket"])) for r in dict_rows}
    # expansion tagging: longest matching prefix wins (fixtures are
    # non-overlapping single-char prefixes, so this is unambiguous)
    exp_rows = []
    for qid, p, tlit, slop in _SPAN_MULTI_QUERIES:
        for t in td:
            if t.startswith(p):
                exp_rows.append((qid, t))
    exp = literal_df(spark, sorted(exp_rows), "query_id string, eterm string")
    buckets = sorted({b for _, b in td.values()})
    terms = sorted(td)
    posts = IB.decode_blocks(
        idx.blocks.filter(F.col("term_bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    )
    spans = literal_df(
        spark, _SPAN_MULTI_QUERIES, "query_id string, pfx string, tlit string, slop int"
    )
    pe = posts.select(
        F.col("term").alias("eterm"),
        "doc_id",
        F.col("tf").alias("tfe"),
        F.col("positions").alias("pe"),
    )
    pl = posts.select(
        F.col("term").alias("tlit"),
        "doc_id",
        F.col("tf").alias("tfl"),
        "doclen",
        F.col("positions").alias("plit"),
    )
    cand = (
        F.broadcast(exp.join(spans, "query_id"))
        .join(pe, "eterm")
        .join(pl, ["tlit", "doc_id"])
    )
    slop = F.col("slop").cast("long")
    spanned = cand.filter(
        F.exists(
            "pe",
            lambda a: F.exists("plit", lambda q: (q > a) & ((q - a - F.lit(1)) <= slop)),
        )
    )
    idfm = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(bm25.idf(n_docs, td.get(t, (0, -1))[0])))]
    )

    def _contrib(tf_col: str, w: Column) -> Column:
        return bm25.contrib_col(w, F.col(tf_col), F.col("doclen"), avgdl, CFG)

    per_term = spanned.select(
        "query_id",
        "doc_id",
        F.col("eterm").alias("term"),
        _contrib("tfe", idfm[F.col("eterm")]).alias("econtrib"),
        _contrib("tfl", idfm[F.col("tlit")]).alias("lcontrib"),
    )
    scored = (
        per_term.groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "econtrib"))).alias("cs"),
            F.first("lcontrib").alias("lcontrib"),
        )
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("lcontrib")
                + F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["econtrib"]),
                6,
            ).alias("score"),
        )
    )
    return bm25.rank(scored, DEFAULT_K)


def _sql_span_multi() -> str:
    k1, b = CFG.bm25.k1, CFG.bm25.b
    rows = ", ".join(
        f"('{q}', '{p}', '{t}', {s})" for q, p, t, s in _SPAN_MULTI_QUERIES
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS}, {_DUCK_DSTATS},
corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(doclen) AS DOUBLE)/count(*) AS avgdl FROM dstats
),
tstats AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
spans(query_id, pfx, tlit, slop) AS (VALUES {rows}),
exp AS (
  SELECT s.query_id, v.term AS eterm
  FROM spans s JOIN (SELECT DISTINCT term FROM postings) v
    ON v.term LIKE s.pfx || '%'
),
posns AS (
  SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term,
         generate_subscripts({duckdb_tokens_expr('text')}, 1) AS pos
  FROM documents
),
em AS (
  SELECT DISTINCT s.query_id, a.doc_id, a.term
  FROM spans s
  JOIN exp e USING (query_id)
  JOIN posns a ON a.term = e.eterm
  JOIN posns c ON c.doc_id = a.doc_id AND c.term = s.tlit
   AND c.pos > a.pos AND c.pos - a.pos - 1 <= s.slop
),
tcontrib AS (
  SELECT p.doc_id, p.term,
         ln(1 + (co.n_docs - t.df + 0.5)/(t.df + 0.5))
           * (p.tf * {k1 + 1.0!r}) / (p.tf + {k1!r}*({1.0 - b!r} + {b!r}*d.doclen/co.avgdl)) AS contrib
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d ON p.doc_id = d.doc_id
  CROSS JOIN corpus co
),
scored AS (
  SELECT m.query_id, m.doc_id, round(lc.contrib + sum(tc.contrib), 6) AS score
  FROM em m
  JOIN spans s USING (query_id)
  JOIN tcontrib lc ON lc.doc_id = m.doc_id AND lc.term = s.tlit
  JOIN tcontrib tc ON tc.doc_id = m.doc_id AND tc.term = m.term
  GROUP BY m.query_id, m.doc_id, lc.contrib
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPAN_MULTI_TOPK = _sql_span_multi()


#: rank_feature log-function constants (ES: score = boost * ln(scaling + f))
_RANK_FEATURE_LOG_SCALING = 1.0
_RANK_FEATURE_LOG_BOOST = 0.5


def q_rank_feature_log_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_feature`` with the ``log`` function (the variant for
    unbounded features): blended score = BM25 + boost *
    ln(scaling_factor + f), f = n_chars. Same plan as the saturation
    variant (q_rank_feature_topk) — the function swap is one JVM
    projection; candidates, statistics, and the feature join are
    identical, which is exactly ES's contract (the function only
    reshapes the feature's contribution)."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)
    scored = bm25.score_queries(posts, ds, ts, REFERENCE_QUERIES, CFG)
    feat = docs.select(
        "doc_id",
        (
            F.lit(_RANK_FEATURE_LOG_BOOST)
            * F.log(F.lit(_RANK_FEATURE_LOG_SCALING) + F.col("n_chars"))
        ).alias("_logf"),
    )
    total = scored.join(feat, "doc_id").select(
        "query_id",
        "doc_id",
        F.round(F.round(F.col("score"), 6) + F.col("_logf"), 6).alias("score"),
    )
    return bm25.rank(total, DEFAULT_K)


SQL_RANK_FEATURE_LOG_TOPK = f"""
{_sql_bm25_scored_cte()},
with_feat AS (
  SELECT s.query_id, s.doc_id,
         round(s.score + {_RANK_FEATURE_LOG_BOOST!r}
               * ln({_RANK_FEATURE_LOG_SCALING!r} + d.n_chars), 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM with_feat
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


# ---------------------------------------------------------------------------
# batch 18: sparse_vector (learned-sparse retrieval), bucket_correlation,
# _validate_query

#: sparse_vector fixture: per-query token->weight maps, the shape a learned
#: sparse encoder (ELSER-style text_expansion / weighted_tokens) emits
_SPARSE_QUERIES: list[tuple[str, tuple[tuple[str, float], ...]]] = [
    ("sv-1", (("merge", 1.8), ("sort", 1.2), ("window", 0.4))),
    ("sv-2", (("vector", 2.0), ("stream", 0.7))),
]


def q_sparse_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``sparse_vector`` / ``weighted_tokens`` query parity (the
    text_expansion execution shape): the query arrives as a
    token->weight map from a learned sparse encoder and scores
    dot-product style — sum over query tokens present in the doc of
    query_weight * doc_token_weight. The engine's doc-side token
    weight contract is tf (the stored impact in our index; a learned
    doc-side encoder would persist its weights in the same postings
    column). The plan IS the BM25 plan with the weight join swapped
    in: term-pushed postings scan, broadcast token-weight literal,
    one aggregation; the whole learned-sparse serving path reuses the
    inverted index unchanged — the point of the sparse-retrieval
    family. Accumulation uses the engine's term-sorted fold."""
    docs = _docs(spark, sf_dir)
    posts = P.build_postings(docs)
    wrows = [(qid, t, w) for qid, toks in _SPARSE_QUERIES for t, w in toks]
    qw = literal_df(spark, wrows, "query_id string, term string, qw double")
    terms = sorted({t for _, t, _ in wrows})
    per = (
        posts.filter(F.col("term").isin(terms))
        .join(F.broadcast(qw), "term")
        .select(
            "query_id",
            "doc_id",
            "term",
            (F.col("qw") * F.col("tf").cast("double")).alias("contrib"),
        )
    )
    scored = (
        per.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("cs"))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]), 6
            ).alias("score"),
        )
    )
    return bm25.rank(scored, DEFAULT_K)


def _sql_sparse_vector() -> str:
    rows = ", ".join(
        f"('{q}', '{t}', {w!r})" for q, toks in _SPARSE_QUERIES for t, w in toks
    )
    return f"""
WITH {_DUCK_TOKS}, {_DUCK_POSTINGS},
qw(query_id, term, qw) AS (VALUES {rows}),
scored AS (
  SELECT q.query_id, p.doc_id, round(sum(q.qw * p.tf), 6) AS score
  FROM qw q JOIN postings p USING (term)
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {DEFAULT_K}
"""


SQL_SPARSE_VECTOR_TOPK = _sql_sparse_vector()


def q_bucket_correlation_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_correlation`` pipeline agg parity: per event_type,
    the Pearson correlation between two sibling metric series over the
    daily buckets (bucket doc_count vs bucket sum_value). Correlation
    is computed by the CLOSED FORM over integer-exact moments — the
    day-level sum_value is quantized to 3-decimal milli-units and both
    series are centered on their per-group integer minimum (Pearson is
    translation-invariant), so n, Sx, Sy, Sxy, Sxx, Syy are all small
    exact int64 and both engines reach bit-identical doubles in the
    final division (the same exactness trick as the indices_boost
    rounding contract; engines' own corr() implementations differ in
    accumulation and would hash-diverge, and uncentred micro-unit
    squares overflow int64). Scale: the moments are one
    partial-aggregable pass over day buckets — O(#days) rows per
    group; a 100 TB deployment promotes the moments to double and
    accepts last-ulp noise."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    day = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x0"),
        F.round(F.round(F.sum("value"), 3) * F.lit(1000.0), 0)
        .cast("long")
        .alias("y0"),
    )
    # Pearson is translation-invariant: center both series on the
    # per-group integer minimum so the int64 moments stay small and
    # exact (uncentred micro-unit squares overflow int64 by sf0.001)
    mins = day.groupBy("event_type").agg(
        F.min("x0").alias("mx"), F.min("y0").alias("my")
    )
    day = day.join(mins, "event_type").select(
        "event_type",
        (F.col("x0") - F.col("mx")).alias("x"),
        (F.col("y0") - F.col("my")).alias("y"),
    )
    m = day.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "event_type",
        F.col("n").alias("n_buckets"),
        F.round(num / (denx * deny), 6).alias("correlation"),
    )


SQL_BUCKET_CORRELATION_AGG = """
WITH day0 AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS x0,
         CAST(round(round(sum(value), 3) * 1000.0, 0) AS BIGINT) AS y0
  FROM events GROUP BY 1, 2
),
mins AS (
  SELECT event_type, min(x0) AS mx, min(y0) AS my FROM day0 GROUP BY 1
),
day AS (
  SELECT d.event_type, d.x0 - m.mx AS x, d.y0 - m.my AS y
  FROM day0 d JOIN mins m USING (event_type)
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM day GROUP BY 1
)
SELECT event_type, n AS n_buckets,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS correlation
FROM m
"""


#: _validate_query fixture: exercises every clause kind plus the lenient
#: degenerate cases (analyzer-empty phrase, negative-only query)
_VALIDATE_QUERIES = [
    ("vq-1", '+merge "hash join" -slow window'),
    ("vq-2", '""'),
    ("vq-3", "-only -negatives"),
]


def q_validate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_validate_query`` API parity over the engine's
    simple_query_string grammar (operators/querystring.py): per query,
    whether it parses (always true — the simple variant's lenient
    grammar never errors, which IS the behavior under test) and the
    parsed clause census (should/must/must_not/phrase counts) plus
    ``matchable`` — whether candidate generation would find >=1
    positive clause. Deviation from ES documented: a pure must_not
    bool query is matchable in ES (matches everything except);
    this engine's candidate generation is postings-driven, so it
    reports matchable=false for vq-3. Twin strategy (like the Damerau
    oracle): the DuckDB twin is a GOLDEN expectation table, not an
    independent parser — the parser itself is unit-tested in
    tests/test_querystring.py."""
    from .operators.querystring import parse_query_string

    rows = []
    for qid, qtext in _VALIDATE_QUERIES:
        p = parse_query_string(qtext)
        rows.append(
            (
                qid,
                True,
                bool(p.should or p.must or p.phrases),
                len(p.should),
                len(p.must),
                len(p.must_not),
                len(p.phrases),
            )
        )
    return literal_df(
        spark,
        rows,
        "query_id string, valid boolean, matchable boolean, "
        "n_should int, n_must int, n_must_not int, n_phrases int",
    )


#: HAND-DERIVED golden expectations — independent of the parser under
#: test (deriving them by calling the parser would make the twin a
#: tautology). vq-1: one must (merge), one 2-token phrase (hash join),
#: one must_not (slow), one should (window). vq-2: the empty phrase is
#: analyzer-dropped -> zero clauses, unmatchable. vq-3: two must_not
#: clauses only -> unmatchable under postings-driven candidates.
SQL_VALIDATE_QUERY = (
    "SELECT query_id, valid, matchable, CAST(n_should AS INT) AS n_should, "
    "CAST(n_must AS INT) AS n_must, CAST(n_must_not AS INT) AS n_must_not, "
    "CAST(n_phrases AS INT) AS n_phrases FROM (VALUES "
    "('vq-1', TRUE, TRUE, 1, 1, 1, 1), "
    "('vq-2', TRUE, FALSE, 0, 0, 0, 0), "
    "('vq-3', TRUE, FALSE, 0, 0, 2, 0)"
    ") AS v(query_id, valid, matchable, n_should, n_must, n_must_not, n_phrases)"
)


# ---------------------------------------------------------------------------
# batch 19: percentiles_bucket, bucket_count_ks_test

#: percentiles_bucket points (same points as q_percentiles_agg's fixture)
_PCTB_POINTS = [0.25, 0.5, 0.75]


def q_percentiles_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentiles_bucket`` sibling pipeline agg parity: exact
    linear-interpolation percentiles OVER THE BUCKET SERIES (daily
    sum(value)), completing the sibling family
    (q_sibling_pipeline_aggs: avg/min/max/sum_bucket). Spark
    ``percentile`` == DuckDB ``quantile_cont`` (the parity
    q_percentiles_agg already fixes); bucket sums are quantized to 6
    places before the sibling pass. The pipeline input is O(#days)
    rows — a driver-trivial series at any corpus size, like every
    parent/sibling pipeline in this registry."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("bsum"))
    return daily.agg(
        *[
            F.round(F.percentile("bsum", F.lit(p)), 6).alias(f"p{int(p * 100)}")
            for p in _PCTB_POINTS
        ]
    )


SQL_PERCENTILES_BUCKET_AGG = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(value), 6) AS bsum
  FROM events GROUP BY 1
)
SELECT {} FROM daily
""".format(
    ", ".join(
        f"round(quantile_cont(bsum, {p!r}), 6) AS p{int(p * 100)}"
        for p in _PCTB_POINTS
    )
)


def q_bucket_ks_test_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_count_ks_test`` pipeline agg parity (the ML module's
    drift detector): per event_type, the two-sample Kolmogorov-Smirnov
    statistic D between the type's daily doc-count distribution and
    the all-types daily distribution — D = max over days of
    |ECDF_type - ECDF_all| with the day axis shared (types absent on a
    day contribute an explicit zero bucket, so the ECDFs step
    together). All counts are exact integers; each ECDF value is one
    int/int double division, so both engines produce bit-identical
    doubles before the max. The (type x day) domain is the product of
    two aggregation cardinalities — metadata-sized at any corpus
    scale (the variable_width_histogram domain argument), so the
    window over it is driver-trivial."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    days = daily.groupBy("day").agg(F.sum("c").cast("long").alias("a"))
    types = daily.groupBy("event_type").agg(F.sum("c").cast("long").alias("te"))
    total = int(days.agg(F.sum("a")).collect()[0][0])
    # explicit zero buckets: the (type x day) domain — two aggregated,
    # metadata-sized sides; the cross is bucket-cardinality, not corpus
    dom = types.select("event_type", "te").crossJoin(days.select("day", "a"))
    grid = dom.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        "te",
        "a",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    wday = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = grid.select(
        "event_type",
        (F.sum("c").over(wday).cast("double") / F.col("te").cast("double")).alias("fe"),
        (F.sum("a").over(wday).cast("double") / F.lit(float(total))).alias("fa"),
    )
    return (
        ecdf.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.max(F.abs(F.col("fe") - F.col("fa"))), 6).alias("ks_d"),
        )
    )


SQL_BUCKET_KS_TEST_AGG = """
WITH daily AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT day, CAST(sum(c) AS BIGINT) AS a FROM daily GROUP BY 1),
types AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS te FROM daily GROUP BY 1),
total AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM days),
grid AS (
  SELECT ty.event_type, d.day, ty.te, d.a, coalesce(x.c, 0) AS c
  FROM types ty CROSS JOIN days d
  LEFT JOIN daily x ON x.event_type = ty.event_type AND x.day = d.day
),
ecdf AS (
  SELECT g.event_type,
         CAST(sum(g.c) OVER (PARTITION BY g.event_type ORDER BY g.day) AS DOUBLE)
           / CAST(g.te AS DOUBLE) AS fe,
         CAST(sum(g.a) OVER (PARTITION BY g.event_type ORDER BY g.day) AS DOUBLE)
           / CAST(t.t AS DOUBLE) AS fa
  FROM grid g CROSS JOIN total t
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       round(max(abs(fe - fa)), 6) AS ks_d
FROM ecdf GROUP BY 1
"""


# ---------------------------------------------------------------------------
# registry

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver oracle window: the driver hash-checks list(SPARK_QUERIES)[:50]
    # at sf0.01 each round. r5 rotation (VERDICT r4 task #1): 5 load-bearing
    # anchors + 45 entries that have never had a driver row (r4's ES-DSL
    # parity suite + this round's additions). Cumulative driver coverage per
    # entry is recorded in COVERAGE.md.
    # anchors (driver-green r1-r4, kept in-window):
    "q_postings_tf": q_postings_tf,
    "q_bm25_topk": q_bm25_topk,
    "q_bm25_topk_wand": q_bm25_topk_wand,
    "q_postings_blocks_decode": q_postings_blocks_decode,
    "q_streaming_postings": q_streaming_postings,
    # never-driver-rowed before r5 (45):
    "q_wildcard_topk": q_wildcard_topk,
    "q_min_should_match_topk": q_min_should_match_topk,
    "q_top_hits_agg": q_top_hits_agg,
    "q_term_suggest": q_term_suggest,
    "q_date_histogram": q_date_histogram,
    "q_pipeline_aggs": q_pipeline_aggs,
    "q_cardinality_agg": q_cardinality_agg,
    "q_range_agg": q_range_agg,
    "q_span_near_topk": q_span_near_topk,
    "q_percentiles_agg": q_percentiles_agg,
    "q_delete_by_query": q_delete_by_query,
    "q_update_by_query": q_update_by_query,
    "q_boosting_topk": q_boosting_topk,
    "q_multi_match_topk": q_multi_match_topk,
    "q_function_score_topk": q_function_score_topk,
    "q_rescore_topk": q_rescore_topk,
    "q_filters_agg": q_filters_agg,
    "q_histogram_agg": q_histogram_agg,
    "q_extended_stats_agg": q_extended_stats_agg,
    "q_composite_agg_page2": q_composite_agg_page2,
    "q_exists_agg": q_exists_agg,
    "q_query_string_topk": q_query_string_topk,
    "q_match_phrase_prefix_topk": q_match_phrase_prefix_topk,
    "q_regexp_topk": q_regexp_topk,
    "q_adjacency_matrix_agg": q_adjacency_matrix_agg,
    "q_weighted_avg_agg": q_weighted_avg_agg,
    "q_completion_suggest": q_completion_suggest,
    "q_terms_set_topk": q_terms_set_topk,
    "q_percentile_ranks_agg": q_percentile_ranks_agg,
    "q_matrix_stats_agg": q_matrix_stats_agg,
    "q_bucket_sort_page": q_bucket_sort_page,
    "q_rank_feature_topk": q_rank_feature_topk,
    "q_nested_buckets_agg": q_nested_buckets_agg,
    "q_rare_terms_agg": q_rare_terms_agg,
    "q_multi_terms_agg": q_multi_terms_agg,
    "q_string_stats_agg": q_string_stats_agg,
    "q_boxplot_agg": q_boxplot_agg,
    "q_mad_agg": q_mad_agg,
    "q_t_test_agg": q_t_test_agg,
    "q_sibling_pipeline_aggs": q_sibling_pipeline_aggs,
    "q_serial_diff_agg": q_serial_diff_agg,
    "q_auto_date_histogram": q_auto_date_histogram,
    "q_dis_max_topk": q_dis_max_topk,
    "q_random_sampler_agg": q_random_sampler_agg,
    "q_fuzzy_damerau_topk": q_fuzzy_damerau_topk,
    # --- below position 50: driver-green in r1-r4 (rotated out; pytest
    # oracle parametrization still covers every entry at sf0.001):
    "q_doc_stats": q_doc_stats,
    "q_term_stats": q_term_stats,
    "q_corpus_stats": q_corpus_stats,
    "q_bm25_topk_quantized": q_bm25_topk_quantized,
    "q_bm25_and_topk": q_bm25_and_topk,
    "q_match_all": q_match_all,
    "q_phrase_topk": q_phrase_topk,
    "q_shard_routing": q_shard_routing,
    "q_events_rollup": q_events_rollup,
    "q_badrow_split": q_badrow_split,
    "q_lineitem_pricing": q_lineitem_pricing,
    "q_top_customers": q_top_customers,
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_fingerprint": q_fingerprint,
    "q_dedup_exact": q_dedup_exact,
    "q_minhash_signatures": q_minhash_signatures,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_neardup_clusters": q_neardup_clusters,
    "q_simhash": q_simhash,
    "q_ann_cosine_topk": q_ann_cosine_topk,
    "q_ann_lsh_topk": q_ann_lsh_topk,
    "q_ann_ivf_topk": q_ann_ivf_topk,
    "q_ann_ivf_topk_materialized": q_ann_ivf_topk_materialized,
    "q_embed_neardup_pairs": q_embed_neardup_pairs,
    "q_badrow_normalize": q_badrow_normalize,
    "q_badrow_transform": q_badrow_transform,
    "q_limit_error_count": q_limit_error_count,
    "q_payload_decompress": q_payload_decompress,
    "q_bm25_filtered_topk": q_bm25_filtered_topk,
    "q_bm25_not_topk": q_bm25_not_topk,
    "q_search_fetch": q_search_fetch,
    "q_highlight_positions": q_highlight_positions,
    "q_bm25_topk_page2": q_bm25_topk_page2,
    "q_bm25_search_after": q_bm25_search_after,
    "q_terms_agg": q_terms_agg,
    "q_prefix_topk": q_prefix_topk,
    "q_bm25_collapse_topk": q_bm25_collapse_topk,
    "q_lang_facet": q_lang_facet,
    "q_sig_terms": q_sig_terms,
    "q_fuzzy_topk": q_fuzzy_topk,
    "q_explain_scores": q_explain_scores,
    "q_mlt_topk": q_mlt_topk,
    # never driver-checked (local pytest oracle only; see COVERAGE.md):
    "q_constant_score_topk": q_constant_score_topk,
    "q_ids_query": q_ids_query,
    "q_percolate": q_percolate,
    "q_script_score_topk": q_script_score_topk,
    "q_combined_fields_topk": q_combined_fields_topk,
    "q_intervals_topk": q_intervals_topk,
    "q_sampler_agg": q_sampler_agg,
    "q_top_metrics_agg": q_top_metrics_agg,
    "q_date_range_agg": q_date_range_agg,
    "q_bucket_selector_agg": q_bucket_selector_agg,
    "q_value_count_missing_agg": q_value_count_missing_agg,
    "q_frequent_item_sets": q_frequent_item_sets,
    "q_knn_filtered_topk": q_knn_filtered_topk,
    "q_rrf_hybrid_topk": q_rrf_hybrid_topk,
    "q_pinned_topk": q_pinned_topk,
    "q_change_point_agg": q_change_point_agg,
    "q_categorize_text_agg": q_categorize_text_agg,
    "q_span_first_topk": q_span_first_topk,
    "q_min_score": q_min_score,
    "q_termvectors": q_termvectors,
    "q_count_api": q_count_api,
    "q_analyze_api": q_analyze_api,
    "q_span_not_topk": q_span_not_topk,
    "q_cumulative_cardinality_agg": q_cumulative_cardinality_agg,
    "q_normalize_agg": q_normalize_agg,
    "q_moving_percentiles_agg": q_moving_percentiles_agg,
    "q_bucket_script_agg": q_bucket_script_agg,
    "q_msearch": q_msearch,
    "q_decay_function_topk": q_decay_function_topk,
    "q_has_child_topk": q_has_child_topk,
    "q_has_parent_topk": q_has_parent_topk,
    "q_children_agg": q_children_agg,
    "q_mget": q_mget,
    "q_reindex": q_reindex,
    "q_scroll": q_scroll,
    "q_scripted_metric_agg": q_scripted_metric_agg,
    "q_runtime_field_topk": q_runtime_field_topk,
    "q_rank_eval": q_rank_eval,
    "q_phrase_suggest": q_phrase_suggest,
    "q_collapse_inner_hits": q_collapse_inner_hits,
    "q_terms_lookup": q_terms_lookup,
    "q_distance_feature_topk": q_distance_feature_topk,
    # batch 14 (r5): match_bool_prefix, _terms_enum, indices_boost,
    # variable_width_histogram
    "q_match_bool_prefix_topk": q_match_bool_prefix_topk,
    "q_terms_enum": q_terms_enum,
    "q_indices_boost_topk": q_indices_boost_topk,
    "q_variable_width_histogram": q_variable_width_histogram,
    # rows-only (non-SQL-expressible; cross-validated in tests/)
    "q_multimodal_metadata": q_multimodal_metadata,
    "q_index_lineage": q_index_lineage,
    # batch 15 (appended after the driver's 50-entry oracle window on purpose:
    # the window's 50 slots stay pinned to the r5 rotation)
    "q_simple_query_string_topk": q_simple_query_string_topk,
    "q_span_or_topk": q_span_or_topk,
    "q_span_within_topk": q_span_within_topk,
    "q_significant_text_agg": q_significant_text_agg,
    "q_parent_id_children": q_parent_id_children,
    "q_search_template": q_search_template,
    "q_wrapper_query_topk": q_wrapper_query_topk,
    "q_span_containing_topk": q_span_containing_topk,
    "q_field_caps": q_field_caps,
    "q_nested_query": q_nested_query,
    "q_reverse_nested_agg": q_reverse_nested_agg,
    "q_span_multi_topk": q_span_multi_topk,
    "q_rank_feature_log_topk": q_rank_feature_log_topk,
    "q_sparse_vector_topk": q_sparse_vector_topk,
    "q_bucket_correlation_agg": q_bucket_correlation_agg,
    "q_validate_query": q_validate_query,
    "q_percentiles_bucket_agg": q_percentiles_bucket_agg,
    "q_bucket_ks_test_agg": q_bucket_ks_test_agg,
}

ORACLE_SQL: dict[str, str] = {
    "q_postings_tf": SQL_POSTINGS_TF,
    "q_doc_stats": SQL_DOC_STATS,
    "q_term_stats": SQL_TERM_STATS,
    "q_corpus_stats": SQL_CORPUS_STATS,
    "q_bm25_topk": SQL_BM25_TOPK,
    "q_bm25_topk_quantized": SQL_BM25_TOPK_QUANTIZED,
    "q_bm25_and_topk": SQL_BM25_AND_TOPK,
    "q_match_all": SQL_MATCH_ALL,
    "q_phrase_topk": SQL_PHRASE_TOPK,
    "q_postings_blocks_decode": SQL_POSTINGS_TF,
    "q_bm25_topk_wand": SQL_BM25_TOPK,
    "q_shard_routing": SQL_SHARD_ROUTING,
    "q_events_rollup": SQL_EVENTS_ROLLUP,
    "q_badrow_split": SQL_BADROW_SPLIT,
    "q_lineitem_pricing": SQL_LINEITEM_PRICING,
    "q_top_customers": SQL_TOP_CUSTOMERS,
    "q_token_count": SQL_TOKEN_COUNT,
    "q_text_quality": SQL_TEXT_QUALITY,
    "q_lang_id": SQL_LANG_ID,
    "q_fingerprint": SQL_FINGERPRINT,
    "q_dedup_exact": SQL_DEDUP_EXACT,
    "q_minhash_signatures": SQL_MINHASH_SIGNATURES,
    "q_minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "q_ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "q_neardup_clusters": SQL_NEARDUP_CLUSTERS,
    "q_simhash": SQL_SIMHASH,
    "q_ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "q_ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "q_ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "q_ann_ivf_topk_materialized": SQL_ANN_IVF_TOPK,
    "q_embed_neardup_pairs": SQL_EMBED_NEARDUP_PAIRS,
    "q_badrow_normalize": SQL_BADROW_NORMALIZE,
    "q_badrow_transform": SQL_BADROW_TRANSFORM,
    "q_limit_error_count": SQL_LIMIT_ERROR_COUNT,
    "q_payload_decompress": SQL_PAYLOAD_DECOMPRESS,
    # the streamed index must decode to exactly the corpus's relational
    # postings — same twin as q_postings_blocks_decode (M2 invariant
    # carried through the streaming path)
    "q_streaming_postings": SQL_POSTINGS_TF,
    "q_bm25_filtered_topk": SQL_BM25_FILTERED_TOPK,
    "q_bm25_not_topk": SQL_BM25_NOT_TOPK,
    "q_search_fetch": SQL_SEARCH_FETCH,
    "q_highlight_positions": SQL_HIGHLIGHT_POSITIONS.replace("{QV}", queries_sql_values()),
    "q_bm25_topk_page2": SQL_BM25_TOPK_PAGE2,
    "q_bm25_search_after": SQL_BM25_SEARCH_AFTER,
    "q_terms_agg": SQL_TERMS_AGG,
    "q_prefix_topk": SQL_PREFIX_TOPK,
    "q_bm25_collapse_topk": SQL_BM25_COLLAPSE_TOPK,
    "q_lang_facet": SQL_LANG_FACET,
    "q_sig_terms": SQL_SIG_TERMS,
    "q_fuzzy_topk": SQL_FUZZY_TOPK,
    "q_fuzzy_damerau_topk": SQL_FUZZY_DAMERAU_TOPK,
    "q_explain_scores": SQL_EXPLAIN_SCORES,
    "q_mlt_topk": SQL_MLT_TOPK,
    "q_wildcard_topk": SQL_WILDCARD_TOPK,
    "q_min_should_match_topk": SQL_MIN_SHOULD_MATCH_TOPK,
    "q_top_hits_agg": SQL_TOP_HITS_AGG,
    "q_term_suggest": SQL_TERM_SUGGEST,
    "q_date_histogram": SQL_DATE_HISTOGRAM,
    "q_pipeline_aggs": SQL_PIPELINE_AGGS,
    "q_cardinality_agg": SQL_CARDINALITY_AGG,
    "q_range_agg": SQL_RANGE_AGG,
    "q_span_near_topk": SQL_SPAN_NEAR_TOPK,
    "q_percentiles_agg": SQL_PERCENTILES_AGG,
    "q_delete_by_query": SQL_DELETE_BY_QUERY,
    "q_update_by_query": SQL_UPDATE_BY_QUERY,
    "q_boosting_topk": SQL_BOOSTING_TOPK,
    "q_multi_match_topk": SQL_MULTI_MATCH_TOPK,
    "q_function_score_topk": SQL_FUNCTION_SCORE_TOPK,
    "q_rescore_topk": SQL_RESCORE_TOPK,
    "q_filters_agg": SQL_FILTERS_AGG,
    "q_histogram_agg": SQL_HISTOGRAM_AGG,
    "q_extended_stats_agg": SQL_EXTENDED_STATS_AGG,
    "q_composite_agg_page2": SQL_COMPOSITE_AGG_PAGE2,
    "q_exists_agg": SQL_EXISTS_AGG,
    "q_query_string_topk": SQL_QUERY_STRING_TOPK,
    "q_match_phrase_prefix_topk": SQL_MATCH_PHRASE_PREFIX_TOPK,
    "q_regexp_topk": SQL_REGEXP_TOPK,
    "q_adjacency_matrix_agg": SQL_ADJACENCY_MATRIX_AGG,
    "q_weighted_avg_agg": SQL_WEIGHTED_AVG_AGG,
    "q_completion_suggest": SQL_COMPLETION_SUGGEST,
    "q_terms_set_topk": SQL_TERMS_SET_TOPK,
    "q_percentile_ranks_agg": SQL_PERCENTILE_RANKS_AGG,
    "q_matrix_stats_agg": SQL_MATRIX_STATS_AGG,
    "q_bucket_sort_page": SQL_BUCKET_SORT_PAGE,
    "q_rank_feature_topk": SQL_RANK_FEATURE_TOPK,
    "q_nested_buckets_agg": SQL_NESTED_BUCKETS_AGG,
    "q_rare_terms_agg": SQL_RARE_TERMS_AGG,
    "q_multi_terms_agg": SQL_MULTI_TERMS_AGG,
    "q_string_stats_agg": SQL_STRING_STATS_AGG,
    "q_boxplot_agg": SQL_BOXPLOT_AGG,
    "q_mad_agg": SQL_MAD_AGG,
    "q_t_test_agg": SQL_T_TEST_AGG,
    "q_sibling_pipeline_aggs": SQL_SIBLING_PIPELINE_AGGS,
    "q_serial_diff_agg": SQL_SERIAL_DIFF_AGG,
    "q_auto_date_histogram": SQL_AUTO_DATE_HISTOGRAM,
    "q_dis_max_topk": SQL_DIS_MAX_TOPK,
    "q_constant_score_topk": SQL_CONSTANT_SCORE_TOPK,
    "q_ids_query": SQL_IDS_QUERY,
    "q_percolate": SQL_PERCOLATE,
    "q_script_score_topk": SQL_SCRIPT_SCORE_TOPK,
    "q_combined_fields_topk": SQL_COMBINED_FIELDS_TOPK,
    "q_intervals_topk": SQL_INTERVALS_TOPK,
    "q_sampler_agg": SQL_SAMPLER_AGG,
    "q_top_metrics_agg": SQL_TOP_METRICS_AGG,
    "q_date_range_agg": SQL_DATE_RANGE_AGG,
    "q_bucket_selector_agg": SQL_BUCKET_SELECTOR_AGG,
    "q_value_count_missing_agg": SQL_VALUE_COUNT_MISSING_AGG,
    "q_frequent_item_sets": SQL_FREQUENT_ITEM_SETS,
    "q_knn_filtered_topk": SQL_KNN_FILTERED_TOPK,
    "q_rrf_hybrid_topk": SQL_RRF_HYBRID_TOPK,
    "q_pinned_topk": SQL_PINNED_TOPK,
    "q_random_sampler_agg": SQL_RANDOM_SAMPLER_AGG,
    "q_change_point_agg": SQL_CHANGE_POINT_AGG,
    "q_categorize_text_agg": SQL_CATEGORIZE_TEXT_AGG,
    "q_span_first_topk": SQL_SPAN_FIRST_TOPK,
    "q_min_score": SQL_MIN_SCORE,
    "q_termvectors": SQL_TERMVECTORS,
    "q_count_api": SQL_COUNT_API,
    "q_analyze_api": SQL_ANALYZE_API,
    "q_span_not_topk": SQL_SPAN_NOT_TOPK,
    "q_cumulative_cardinality_agg": SQL_CUMULATIVE_CARDINALITY_AGG,
    "q_normalize_agg": SQL_NORMALIZE_AGG,
    "q_moving_percentiles_agg": SQL_MOVING_PERCENTILES_AGG,
    "q_bucket_script_agg": SQL_BUCKET_SCRIPT_AGG,
    "q_msearch": SQL_MSEARCH,
    "q_decay_function_topk": SQL_DECAY_FUNCTION_TOPK,
    "q_has_child_topk": SQL_HAS_CHILD_TOPK,
    "q_has_parent_topk": SQL_HAS_PARENT_TOPK,
    "q_children_agg": SQL_CHILDREN_AGG,
    "q_mget": SQL_MGET,
    "q_reindex": SQL_REINDEX,
    "q_scroll": SQL_SCROLL,
    "q_scripted_metric_agg": SQL_SCRIPTED_METRIC_AGG,
    "q_runtime_field_topk": SQL_RUNTIME_FIELD_TOPK,
    "q_rank_eval": SQL_RANK_EVAL,
    "q_phrase_suggest": SQL_PHRASE_SUGGEST,
    "q_collapse_inner_hits": SQL_COLLAPSE_INNER_HITS,
    "q_terms_lookup": SQL_TERMS_LOOKUP,
    "q_distance_feature_topk": SQL_DISTANCE_FEATURE_TOPK,
    "q_match_bool_prefix_topk": SQL_MATCH_BOOL_PREFIX_TOPK,
    "q_terms_enum": SQL_TERMS_ENUM,
    "q_indices_boost_topk": SQL_INDICES_BOOST_TOPK,
    "q_variable_width_histogram": SQL_VARIABLE_WIDTH_HISTOGRAM,
    "q_simple_query_string_topk": SQL_SIMPLE_QUERY_STRING_TOPK,
    "q_span_or_topk": SQL_SPAN_OR_TOPK,
    "q_span_within_topk": SQL_SPAN_WITHIN_TOPK,
    "q_significant_text_agg": SQL_SIGNIFICANT_TEXT_AGG,
    "q_parent_id_children": SQL_PARENT_ID_CHILDREN,
    "q_search_template": SQL_SEARCH_TEMPLATE,
    "q_wrapper_query_topk": SQL_WRAPPER_QUERY_TOPK,
    "q_span_containing_topk": SQL_SPAN_CONTAINING_TOPK,
    "q_field_caps": SQL_FIELD_CAPS,
    "q_nested_query": SQL_NESTED_QUERY,
    "q_reverse_nested_agg": SQL_REVERSE_NESTED_AGG,
    "q_span_multi_topk": SQL_SPAN_MULTI_TOPK,
    "q_rank_feature_log_topk": SQL_RANK_FEATURE_LOG_TOPK,
    "q_sparse_vector_topk": SQL_SPARSE_VECTOR_TOPK,
    "q_bucket_correlation_agg": SQL_BUCKET_CORRELATION_AGG,
    "q_validate_query": SQL_VALIDATE_QUERY,
    "q_percentiles_bucket_agg": SQL_PERCENTILES_BUCKET_AGG,
    "q_bucket_ks_test_agg": SQL_BUCKET_KS_TEST_AGG,
}
