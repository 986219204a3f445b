"""simple_query_string parity: a tiny query-language parser plus its
relational execution plan.

Reference surface: the loader's indexed documents are consumed through
the ES search API, whose entry point for user-typed queries is
``simple_query_string`` (the lenient cousin of ``query_string``).
Grammar supported here — the subset that never errors, exactly the
point of the simple variant:

    term        ->  SHOULD clause (default_operator=OR)
    +term       ->  MUST clause (filters AND contributes to score)
    -term       ->  MUST_NOT clause (filter context only, never scored)
    "a b ..."   ->  PHRASE clause (must match adjacently after
                    analysis; its terms score like ordinary matches)

Semantics (ES simple_query_string, default_operator=OR):

- a doc is a candidate iff it matches ALL must terms, ALL phrases
  (analyzer-normalized adjacent token sequence), contains NO must_not
  term, and — when the query has no must/phrase clause at all — at
  least one should term;
- score = the engine's standard BM25 contract over the query's SCORED
  terms (should + must + phrase tokens, qtf = occurrence count),
  restricted to candidates. must_not runs in filter context: it never
  touches df/avgdl/N (same rule as ``q_bm25_not_topk``).

Scale shape: should/must/must_not clauses prune through the postings
relation with the term filter pushed below every join (metadata-sized
broadcast of the clause tables); the phrase clause here uses the
analyzer-normalized containment twin — composition queries run on the
relational layer, while the serving path answers phrases from the
positional index (``operators/phrase.py``).
"""

from __future__ import annotations

import re
from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.analyze import tokenize_text, tokens_col
from . import bm25
from . import postings as P


class ParsedQuery(NamedTuple):
    should: list[str]
    must: list[str]
    must_not: list[str]
    phrases: list[list[str]]  # analyzed token sequences
    scored_terms: list[str]  # with multiplicity (qtf = count)


#: one chunk: optional +/- operator, then a quoted phrase or bare word
_QS_CHUNK = re.compile(r'([+-]?)("([^"]*)"|\S+)')


def parse_query_string(q: str) -> ParsedQuery:
    """Parse the simple_query_string subset. Never raises: analyzer-
    empty chunks (punctuation-only, empty quotes) are dropped, the
    lenient contract of the simple variant."""
    should: list[str] = []
    must: list[str] = []
    must_not: list[str] = []
    phrases: list[list[str]] = []
    scored: list[str] = []
    for m in _QS_CHUNK.finditer(q or ""):
        op, quoted = m.group(1), m.group(3)
        if quoted is not None:
            toks = tokenize_text(quoted)
            if not toks:
                continue
            if len(toks) == 1:
                # one-term "phrase" degrades to a plain clause under op
                (must_not if op == "-" else must if op == "+" else should).append(toks[0])
                if op != "-":
                    scored.append(toks[0])
                continue
            phrases.append(toks)
            scored.extend(toks)
            continue
        # a bare chunk can analyze to >1 token ("re-index" -> re,
        # index); each analyzed token becomes its own clause — the
        # analyzer, not the whitespace, defines term boundaries
        for t in tokenize_text(m.group(2)):
            if op == "-":
                must_not.append(t)
            elif op == "+":
                must.append(t)
                scored.append(t)
            else:
                should.append(t)
                scored.append(t)
    return ParsedQuery(should, must, must_not, phrases, scored)


def _phrase_needle(toks: Sequence[str]) -> str:
    return " " + " ".join(toks) + " "


def query_string_topk(
    docs: DataFrame,
    queries: Sequence[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Top-k (query_id, rank, doc_id, score) for simple_query_string
    queries over the relational postings layer."""
    parsed = {qid: parse_query_string(qtext) for qid, qtext in queries}
    posts = P.build_postings(docs)
    ds = P.doc_stats(docs)
    ts = P.term_stats(posts)

    # ---- scoring: reuse the BM25 contract over synthetic flat queries
    # whose text is the scored-term bag (qtf = occurrence count) ----
    flat = [(qid, " ".join(p.scored_terms)) for qid, p in parsed.items() if p.scored_terms]
    scored = bm25.score_queries(posts, ds, ts, flat, cfg)

    # ---- per-query candidate sets (filter context) ----
    # each clause prunes through the postings with the term filter
    # pushed to the scan; sets intersect by inner joins, must_not by
    # anti-join — all on doc_id, broadcast-sized clause frames
    normed = None

    def _normed() -> DataFrame:
        nonlocal normed
        if normed is None:
            normed = docs.select(
                "doc_id",
                F.concat(F.lit(" "), F.array_join(tokens_col("text"), " "), F.lit(" ")).alias(
                    "_norm"
                ),
            )
        return normed

    cands = []
    for qid, p in parsed.items():
        cand = None
        if p.must:
            need = sorted(set(p.must))
            cm = (
                posts.filter(F.col("term").isin(need))
                .groupBy("doc_id")
                .agg(F.countDistinct("term").alias("_nm"))
                .filter(F.col("_nm") == len(need))
                .select("doc_id")
            )
            cand = cm
        for ph in p.phrases:
            cp = _normed().filter(
                F.col("_norm").contains(_phrase_needle(ph))
            ).select("doc_id")
            cand = cp if cand is None else cand.join(cp, "doc_id")
        if cand is None:
            # OR-only query: candidates = docs with >=1 should term
            cand = (
                posts.filter(F.col("term").isin(sorted(set(p.should))))
                .select("doc_id")
                .distinct()
            )
        if p.must_not:
            excl = (
                posts.filter(F.col("term").isin(sorted(set(p.must_not))))
                .select("doc_id")
                .distinct()
            )
            cand = cand.join(excl, "doc_id", "left_anti")
        cands.append(cand.select(F.lit(qid).alias("query_id"), "doc_id"))
    cand_all = cands[0]
    for c in cands[1:]:
        cand_all = cand_all.unionByName(c)

    return bm25.topk(scored.join(cand_all, ["query_id", "doc_id"]), k)


def match_phrase_prefix_counts(
    docs: DataFrame,
    queries: Sequence[tuple[str, list[str], str]],
    k: int = 10,
) -> DataFrame:
    """ES ``match_phrase_prefix`` parity: the analyzed phrase must
    appear adjacently with the FINAL position matching any term that
    starts with the given prefix (ES expands the trailing term against
    the term dictionary; equivalently, any token at that slot with the
    prefix). Score = the number of matching base positions (the
    phrase-frequency a positional scorer sees), ties doc_id asc.

    All evaluation is JVM-side higher-order functions over the analyzed
    token array (codegen, no Python workers): for phrase length m and
    1-based base position i in [1, len-m], slot j must equal phrase[j]
    and slot m must start with the prefix.

    ``queries`` rows are (query_id, exact_tokens, prefix).
    """
    # ONE corpus scan, tokens bound once (r6): the filter lambda used to
    # inline the tokenizer expression, re-running the regex per
    # candidate position per row, and each query was its own corpus
    # scan unioned at the end — now every query's count is an entry of
    # one per-row array, exploded and filtered.
    tokd = docs.select("doc_id", tokens_col("text").alias("_tk"))
    tk = F.col("_tk")

    def _make_pred(phrase_toks, prefix, m):
        def _pred(i):
            c = F.lit(True)
            for j, t in enumerate(phrase_toks):
                c = c & (F.element_at(tk, i + F.lit(j)) == F.lit(t))
            return c & F.element_at(tk, i + F.lit(m)).startswith(F.lit(prefix))

        return _pred

    entries = []
    for qid, phrase_toks, prefix in queries:
        m = len(phrase_toks)
        _pred = _make_pred(phrase_toks, prefix, m)
        cnt = (
            F.when(F.size(tk) <= m, F.lit(0))
            .otherwise(F.size(F.filter(F.sequence(F.lit(1), F.size(tk) - m), _pred)))
            .cast("long")
        )
        entries.append(F.struct(F.lit(qid).alias("query_id"), cnt.alias("score")))
    out = (
        tokd.select("doc_id", F.explode(F.array(*entries)).alias("_e"))
        .select(F.col("_e.query_id").alias("query_id"), "doc_id", F.col("_e.score").alias("score"))
        .filter(F.col("score") > 0)
    )
    return bm25.rank(out, k)
