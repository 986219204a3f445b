"""M2/M3 invariants (SURVEY §5.4 pipeline tier):

- decoded compressed blocks == relational M1 postings, exactly;
- block-max WAND top-k == naive SQL top-k == pure-numpy oracle;
- resume-after-failure produces an identical index (idempotency);
- doc-id assignment is parallelism-independent;
- bad rows routed, metrics/checkpoints rows present with north_star names.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle.bm25 import OracleIndex
from snowplow_elasticsearch_loader_spark.config import EngineConfig, IndexConfig, LimitsConfig
from snowplow_elasticsearch_loader_spark.index_store import build_index
from snowplow_elasticsearch_loader_spark.operators import bm25, wand
from snowplow_elasticsearch_loader_spark.operators.docs import assign_doc_ids
from snowplow_elasticsearch_loader_spark.operators.postings import (
    build_postings,
    doc_stats,
    term_stats,
)
from snowplow_elasticsearch_loader_spark.sources.transcripts import synth_transcripts

CFG = EngineConfig(
    index=IndexConfig(block_size=8, docs_per_range=256, term_buckets=8),
    limits=LimitsConfig(max_text_bytes=50_000, max_tokens_per_turn=5_000),
)

QUERIES = [
    ("t-01", "error retry timeout"),
    ("t-02", "the"),  # hot term
    ("t-03", "tool call"),  # hot pair
    ("t-04", "üöä 你好"),  # unicode
    ("t-05", "agent plan agent"),  # duplicate term
    ("t-06", "missingterm9999"),
    ("t-07", "Spark LOADER elastic"),  # casing
]


def _msearch_batch() -> list[tuple[str, str]]:
    words = (
        "error retry timeout agent plan search index query token stream batch merge "
        "sort join shuffle partition spark kinesis loader elastic the tool call"
    ).split() + [f"term{i:05d}" for i in range(40)]
    batch = [
        (f"b-{i:02d}", " ".join(words[(7 * i + 3 * j) % len(words)] for j in range(1 + i % 11)))
        for i in range(38)
    ]
    return batch + [("b-38", "agent agent plan zzzz"), ("b-39", "nothere9999")]


@pytest.fixture(scope="module")
def index_dir(spark):
    d = tempfile.mkdtemp(prefix="engine-idx-")
    tr = synth_transcripts(spark, n_convs=60, seed=42, partitions=6)
    build_index(spark, tr, d, CFG)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def idx(spark, index_dir):
    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex

    return InvertedIndex(spark, index_dir, CFG)


def test_decoded_blocks_equal_relational_postings(idx):
    decoded = idx.postings().select("term", "doc_id", "tf")
    relational = build_postings(idx.documents)
    assert decoded.exceptAll(relational).count() == 0
    assert relational.exceptAll(decoded).count() == 0
    assert decoded.count() == relational.count() > 0


def test_block_invariants(idx):
    bad = idx.blocks.filter(
        (F.col("doc_count") < 1)
        | (F.col("doc_count") > CFG.index.block_size)
        | (F.col("first_doc") > F.col("last_doc"))
        | (F.col("max_score_partial") <= 0)
    )
    assert bad.count() == 0
    # blocks of one term are doc-ordered by block_id
    w = (
        idx.blocks.groupBy("term", "range_id")
        .agg(F.min("first_doc").alias("lo"), F.max("last_doc").alias("hi"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ranges"))
    )
    assert w.count() > 0


def test_wand_equals_naive_and_oracle(spark, idx):
    naive = bm25.bm25_topk_naive(
        build_postings(idx.documents),
        doc_stats(idx.documents),
        term_stats(build_postings(idx.documents)),
        QUERIES,
        k=10,
        cfg=CFG,
    ).collect()
    fast = wand.wand_topk(
        idx.blocks, idx.termdict, idx.corpus(), QUERIES, k=10, cfg=CFG
    ).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
    assert key(naive) == key(fast), "fast path must be rank- and score-identical"

    # vs the independent numpy oracle (atol 1e-6 by construction: both round to 6dp)
    docs = [(r["doc_id"], r["text"]) for r in idx.documents.select("doc_id", "text").collect()]
    oracle = OracleIndex(docs, k1=CFG.bm25.k1, b=CFG.bm25.b)
    for qid, qtext in QUERIES:
        expected = oracle.search(qtext, k=10)
        got = sorted(
            ((r["rank"], r["doc_id"], r["score"]) for r in naive if r["query_id"] == qid)
        )
        assert got == expected, f"{qid}: spark={got[:3]} oracle={expected[:3]}"


def test_resume_after_failure_is_idempotent(spark, idx, index_dir):
    d2 = tempfile.mkdtemp(prefix="engine-idx-resume-")
    try:
        tr = synth_transcripts(spark, n_convs=60, seed=42, partitions=6)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, tr, d2, CFG, ranges_per_batch=1, fail_after_batches=1)
        # resume: must complete and match the uninterrupted build exactly
        idx2 = build_index(spark, tr, d2, CFG, ranges_per_batch=1)
        a = idx.postings().select("term", "doc_id", "tf")
        b = idx2.postings().select("term", "doc_id", "tf")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # checkpoint lineage rows exist with north_star metric names
        names = {r["name"] for r in idx2.metrics.collect()}
        assert {
            "postings_emitted", "bytes_merged", "terms_finalized",
            "build_ranges", "docs_per_range_effective",
        } <= names
        stages = {r["stage"] for r in idx2.checkpoints.collect()}
        assert {"documents", "range_batch", "finalize"} <= stages
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_badrows_routed(idx):
    errors = [r["error"] for r in idx.badrows.collect()]
    assert any("null_text" in e for e in errors)
    # anomalies: the 12k-token turn exceeds max_tokens_per_turn=5000
    assert any("limit_error" in e for e in errors)
    # per-turn text equality under stable (conv_id, turn_idx) order:
    # every good turn indexed exactly once
    n_docs = idx.documents.count()
    assert idx.documents.select("conv_id", "turn_idx").distinct().count() == n_docs


def test_query_engine_warm_matches_wand(spark, idx):
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

    engine = QueryEngine(idx, CFG, warm=True)
    cold = QueryEngine(idx, CFG, warm=False)
    fast = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), QUERIES, k=10, cfg=CFG)
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
    assert key(engine.search(QUERIES, k=10).collect()) == key(fast.collect())
    assert key(cold.search(QUERIES, k=10).collect()) == key(fast.collect())
    # absent-only query -> empty result, no job failure
    assert engine.search([("none", "zzzz qqqq")], k=5).count() == 0
    # serving mode (cache_blocks): the coordinator fast path gathers
    # candidate blocks driver-side and must stay rank-identical to the
    # distributed WAND, both cold-cache and from the per-term cache
    serving = QueryEngine(idx, CFG, warm=True, cache_blocks=True)
    assert key(serving.search(QUERIES, k=10).collect()) == key(fast.collect())
    assert key(serving.search(QUERIES, k=10).collect()) == key(fast.collect())
    assert serving.search([("none", "zzzz qqqq")], k=5).count() == 0
    # a 40-query msearch batch (1-11 terms: the >8-term fallback, hot
    # terms, duplicates, absent terms) matches wand_topk row for row and
    # comes back ordered by query_id, then rank
    batch = _msearch_batch()
    want = key(wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), batch, k=10, cfg=CFG).collect())
    rows = serving.search(batch, k=10).collect()
    assert key(rows) == want
    assert [(r["query_id"], r["rank"]) for r in rows] == sorted(
        (r["query_id"], r["rank"]) for r in rows
    )
    assert serving.search(batch, k=10).schema.simpleString() == (
        "struct<query_id:string,rank:int,doc_id:bigint,score:double>"
    )
    # cap=0 forces the distributed fallback inside serving mode
    serving.driver_eval_max_blocks = 0
    assert key(serving.search(QUERIES, k=10).collect()) == key(fast.collect())


def test_phrase_topk_single_term_matches_wand_quantized(idx):
    """A one-token phrase matches every doc holding the term, so its
    scores are the term's BM25 contributions: under quantize_doclen the
    phrase path must score the quantized doclen exactly as wand does."""
    from dataclasses import replace

    from snowplow_elasticsearch_loader_spark.operators.phrase import phrase_topk

    qcfg = replace(CFG, bm25=replace(CFG.bm25, quantize_doclen=True))
    singles = [("s-error", "error"), ("s-agent", "agent"), ("s-tool", "tool")]
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    args = (idx.blocks, idx.termdict, idx.corpus(), singles)
    got = key(phrase_topk(*args, k=10, cfg=qcfg).collect())
    want = key(wand.wand_topk(*args, k=10, cfg=qcfg).collect())
    assert got == want and len(got) == 30


def test_size_violation_routed(spark):
    from snowplow_elasticsearch_loader_spark.operators.docs import split_good_bad

    tiny = EngineConfig(limits=LimitsConfig(max_text_bytes=10, max_tokens_per_turn=100))
    df = spark.createDataFrame(
        [("c", 0, "user", "short", None, None), ("c", 1, "user", "x" * 50, None, None)],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    good, bad = split_good_bad(df, tiny)
    assert good.count() == 1
    errs = [r["error"] for r in bad.collect()]
    assert len(errs) == 1 and "size_violation" in errs[0]


def test_doc_id_assignment_parallelism_independent(spark):
    tr = synth_transcripts(spark, n_convs=30, seed=7, with_anomalies=False)
    a = assign_doc_ids(tr.repartition(2), num_ranges=4)
    b = assign_doc_ids(tr.repartition(11), num_ranges=9)
    cols = ["conv_id", "turn_idx", "doc_id"]
    assert a.select(*cols).exceptAll(b.select(*cols)).count() == 0
    # dense: ids are exactly 0..n-1
    n = tr.count()
    assert a.agg(F.min("doc_id"), F.max("doc_id")).collect()[0] == (0, n - 1)
    assert a.select("doc_id").distinct().count() == n


def test_steer_tokens_bijective_and_memoized(spark):
    """The rank-window exchange steers each value bucket to a DISTINCT
    shuffle partition via tokens whose JVM murmur3 hash is collision-
    free mod nb; a colliding map would stack buckets on one straggler
    task (placement) but never change ids — asserted in the
    parallelism-independence test above, which exercises the steered
    path end-to-end."""
    from snowplow_elasticsearch_loader_spark.operators.docs import _steer_tokens

    for nb in (4, 32):
        toks = _steer_tokens(spark, nb)
        assert toks is not None and len(toks) == nb
        parts = (
            spark.createDataFrame([(t,) for t in toks], "id long")
            .select(F.pmod(F.hash("id"), F.lit(nb)).alias("p"))
            .collect()
        )
        assert sorted(int(r["p"]) for r in parts) == list(range(nb))
    assert _steer_tokens(spark, 32) is toks  # memoized per (session, nb)


def test_resume_rejects_changed_input(spark):
    """Checkpoint rows record the input snapshot (file-listing
    fingerprint / Iceberg snapshot id); resuming or re-running against a
    mutated input must be refused instead of silently mixing corpora."""
    import os

    src = tempfile.mkdtemp(prefix="engine-src-")
    d = tempfile.mkdtemp(prefix="engine-idx-snap-")
    try:
        tr = synth_transcripts(spark, n_convs=12, seed=3, with_anomalies=False)
        tr.coalesce(2).write.mode("overwrite").parquet(src)
        tr_files = spark.read.parquet(src)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, tr_files, d, CFG, ranges_per_batch=1, fail_after_batches=1)
        # resume against the SAME files: allowed, completes
        idx = build_index(spark, spark.read.parquet(src), d, CFG, ranges_per_batch=1)
        snap_rows = idx.checkpoints.filter(F.col("stage") == "documents").collect()
        assert snap_rows and snap_rows[0]["snapshot_id"].startswith("files:")
        # mutate the input (extra file) and try again: rejected
        extra = synth_transcripts(spark, n_convs=2, seed=99, with_anomalies=False)
        extra.coalesce(1).write.mode("append").parquet(src)
        with pytest.raises(ValueError, match="resume rejected"):
            build_index(spark, spark.read.parquet(src), d, CFG)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


def test_positions_roundtrip(spark, idx):
    """Decoded position lists == relational posexplode over the same
    tokenizer (the positional M2 invariant)."""
    from pyspark.sql import functions as F

    from snowplow_elasticsearch_loader_spark.functions.analyze import tokens_col

    decoded = idx.postings().select("term", "doc_id", "positions")
    rel = (
        idx.documents.select(
            "doc_id", F.posexplode(tokens_col("text")).alias("pos", "term")
        )
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )
    a = decoded.select("term", "doc_id", F.col("positions").cast("array<int>").alias("p"))
    b = rel.select("term", "doc_id", F.col("positions").cast("array<int>").alias("p"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_decode_blocks_mixes_positional_and_plain_blocks(spark, idx):
    """One decode batch that mixes positional and non-positional blocks
    (segments built under different configs) keeps every posting and
    gives the plain blocks' postings no positions; the phrase evaluator
    refuses such blocks loudly."""
    from snowplow_elasticsearch_loader_spark.operators import index_build
    from snowplow_elasticsearch_loader_spark.operators.phrase import (
        PHRASE_INPUT_COLS,
        make_phrase_evaluator,
    )

    rows = idx.blocks.filter(F.col("term").isin("the", "tool", "error")).toPandas()
    rows = rows.sort_values(["term", "block_id"]).reset_index(drop=True)
    assert len(rows) > 3
    plain = rows.index % 2 == 1
    mixed = rows.copy()
    # a plain block stores either an empty or a null positions stream
    mixed["pos_varint"] = [
        (None if i % 4 == 1 else b"") if p else x
        for i, (p, x) in enumerate(zip(plain, rows["pos_varint"]))
    ]

    def decode(pdf):
        schema = index_build.BLOCKS_SCHEMA
        df = spark.createDataFrame(pdf[schema.fieldNames()], schema=schema).coalesce(1)
        got = index_build.decode_blocks(df).collect()
        return [(r["term"], r["doc_id"], r["tf"], r["doclen"], list(r["positions"])) for r in got]

    full, part = decode(rows), decode(mixed)
    assert [r[:4] for r in part] == [r[:4] for r in full]
    is_plain = np.repeat(plain, rows["doc_count"].to_numpy())
    assert all(p[4] == ([] if b else f[4]) for p, f, b in zip(part, full, is_plain))
    assert all(len(f[4]) == f[2] for f in full)

    ev = make_phrase_evaluator({"q": {"m": 1, "terms": {"the": (1.0, [0])}}}, 10, 1.2, 0.75, 10.0)
    with pytest.raises(ValueError, match="positional index"):
        ev((0,), mixed[PHRASE_INPUT_COLS])


def test_phrase_topk_index_matches_relational(spark, idx):
    """Index-backed match_phrase == relational normalized-containment
    reference, including repeated-term and absent-term phrases."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from snowplow_elasticsearch_loader_spark.functions.analyze import tokens_col, tokenize_text
    from snowplow_elasticsearch_loader_spark.operators.phrase import phrase_topk

    phrases = [
        ("ph-1", "tool the"),  # hot prefix pair in the synth corpus
        ("ph-2", "the the tool"),  # repeated term
        ("ph-3", "error"),  # single token
        ("ph-4", "error zzznotaterm"),  # absent term -> empty
        ("ph-5", "agent plan"),
    ]
    got = phrase_topk(idx.blocks, idx.termdict, idx.corpus(), phrases, k=10, cfg=CFG)

    # relational reference: BM25 over phrase terms, filtered to
    # normalized-containment matches
    posts = build_postings(idx.documents)
    scored = bm25.bm25_topk_naive(
        posts, doc_stats(idx.documents), term_stats(posts), phrases, k=1 << 30, cfg=CFG
    )
    norm = idx.documents.select(
        "doc_id",
        F.concat(F.lit(" "), F.array_join(tokens_col("text"), " "), F.lit(" ")).alias("norm"),
    )
    prows = [(qid, " " + " ".join(tokenize_text(t)) + " ") for qid, t in phrases]
    pdfq = spark.createDataFrame(prows, "query_id string, phrase string")
    matches = norm.join(F.broadcast(pdfq)).filter(F.expr("contains(norm, phrase)")).select(
        "query_id", "doc_id"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    exp = (
        scored.drop("rank")
        .join(matches, ["query_id", "doc_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
    )
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
    g, e = key(got.collect()), key(exp.collect())
    assert g == e, (g[:5], e[:5])
    assert not any(q == "ph-4" for q, *_ in g)
    assert any(q == "ph-1" for q, *_ in g)  # hot phrase matches exist


def test_driver_block_cache_lru_and_no_current_query_eviction(spark, idx):
    """ADVICE r3 (high): cache pressure must never evict a term the
    CURRENT query needs (results were silently scored without it), and
    eviction order must be true LRU (hits refresh recency), not FIFO."""
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

    fast = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), QUERIES, k=10, cfg=CFG)
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    expect = key(fast.collect())
    serving = QueryEngine(idx, CFG, warm=True, cache_blocks=True)
    # budget so small every multi-term query overflows it: correctness
    # must hold via cache bypass, not by dropping current-query terms
    serving.block_cache_max_bytes = 1
    assert key(serving.search(QUERIES, k=10).collect()) == expect
    assert key(serving.search(QUERIES, k=10).collect()) == expect
    # LRU order: fill with a,b; hit a; insert c under pressure -> b
    # (least recently used) is evicted, a survives
    serving2 = QueryEngine(idx, CFG, warm=True, cache_blocks=True)
    serving2.search([("q1", "error")], k=5).collect()
    serving2.search([("q2", "retry")], k=5).collect()
    serving2.search([("q3", "error")], k=5).collect()  # refresh 'error'
    assert list(serving2._block_cache) == ["retry", "error"]
    sizes = {t: e[1] for t, e in serving2._block_cache.items()}
    serving2.block_cache_max_bytes = serving2._block_cache_bytes + 1
    serving2.search([("q4", "timeout")], k=5).collect()
    assert "retry" not in serving2._block_cache  # LRU victim
    assert "error" in serving2._block_cache and "timeout" in serving2._block_cache
    assert serving2._block_cache_bytes == sum(
        e[1] for e in serving2._block_cache.values()
    ) and sizes["error"] == serving2._block_cache["error"][1]


def test_driver_gather_pyarrow_matches_spark_scan(spark, idx):
    """VERDICT r3 #7: the serving coordinator's local pyarrow gather
    (no Spark job on the point-query path) must return exactly the rows
    the partition-pruned Spark scan returns, and serving results must
    stay rank-identical either way."""
    from snowplow_elasticsearch_loader_spark.operators import query_engine as QE

    engine = QE.QueryEngine(idx, CFG, warm=True, cache_blocks=True)
    terms = ["error", "retry", "the"]
    tmap = engine._lookup(terms)
    buckets = sorted({tmap[t][1] for t in terms if t in tmap})
    via_arrow = engine._gather_blocks(buckets, terms)
    via_spark = (
        engine.blocks.filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select(*QE.QueryEngine._GATHER_COLS)
        .toPandas()
    )
    key = lambda df: sorted(  # noqa: E731
        (r["term"], int(r["doc_count"]), bytes(r["docs_varint"]))
        for _, r in df.iterrows()
    )
    assert key(via_arrow) == key(via_spark) and len(via_arrow) > 0
    # and the non-local fallback (forced) produces identical results
    fast = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), QUERIES, k=10, cfg=CFG)
    rkey = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert rkey(engine.search(QUERIES, k=10).collect()) == rkey(fast.collect())


def test_query_engine_warm_cap_never_collects_full_dictionary(
    spark, idx, monkeypatch
):
    """r6 optimization guard (VERDICT r5 wrong #3): above the warm-init
    term cap, QueryEngine must stay in filtered-lookup mode — no
    full-dictionary collect — and answer identically."""
    from snowplow_elasticsearch_loader_spark.operators import query_engine as QE

    ref = QE.QueryEngine(idx, CFG, warm=True)
    assert ref._term_cache is not None  # under the cap: warm collect ran
    monkeypatch.setattr(QE, "WARM_MAX_TERMS", 1)

    def _boom(*a, **kw):  # any full-dictionary collect would call this
        raise AssertionError("full termdict collect ran despite cap")

    monkeypatch.setattr(idx.termdict.__class__, "collect", _boom, raising=True)
    capped = QE.QueryEngine(idx, CFG, warm=True)
    assert capped._term_cache is None
    monkeypatch.undo()
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows
    )
    assert key(capped.search(QUERIES, k=10).collect()) == key(
        ref.search(QUERIES, k=10).collect()
    )


def test_bm25_fused_equals_naive(spark, idx):
    """The r6 single-pass fused plan is rank- and score-identical to the
    relational naive path on the same documents."""
    naive = bm25.bm25_topk_naive(
        build_postings(idx.documents),
        doc_stats(idx.documents),
        term_stats(build_postings(idx.documents)),
        QUERIES,
        k=10,
        cfg=CFG,
    )
    fused = bm25.bm25_topk_fused(idx.documents, QUERIES, k=10, cfg=CFG)
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(fused.collect()) == key(naive.collect())


def test_bm25_over_empty_corpus_returns_no_hits(idx):
    """An index with no documents answers every query with zero hits,
    as Elasticsearch does, on the naive and the fused path alike (SUM
    over no rows is NULL: avgdl and df must not be read from it)."""
    empty = idx.documents.limit(0)
    posts = build_postings(empty)
    naive = bm25.bm25_topk_naive(
        posts, doc_stats(empty), term_stats(posts), QUERIES, k=10, cfg=CFG
    )
    fused = bm25.bm25_topk_fused(empty, QUERIES, k=10, cfg=CFG)
    for df in (naive, fused):
        assert df.columns == ["query_id", "rank", "doc_id", "score"]
        assert df.collect() == []


def test_lookup_terms_matches_spark_filter(idx):
    """Local pyarrow termdict probe returns the same rows as the Spark
    filtered collect (r6 wand/query-path optimization)."""
    import random

    all_terms = [r["term"] for r in idx.termdict.select("term").collect()]
    random.seed(7)
    probe = sorted(random.sample(all_terms, min(5, len(all_terms)))) + ["zz-absent"]
    got = sorted(
        (r["term"], int(r["df"]), int(r["term_bucket"]))
        for r in idx.lookup_terms(probe)
    )
    want = sorted(
        (r["term"], int(r["df"]), int(r["term_bucket"]))
        for r in idx.termdict.filter(F.col("term").isin(probe))
        .select("term", "df", "term_bucket")
        .collect()
    )
    assert got == want and len(got) > 0


def test_doc_id_adaptive_ranges_identical_ids(spark, monkeypatch):
    """r6 optimization internals: when num_ranges is left to its
    default, the sampled (non-footer) path caps the bucket fan-out by
    input size (_RANK_ROWS_PER_BUCKET). Ranks are bucket-invariant, so
    the adaptive default must assign ids identical to any explicit
    bucket count — single-bucket (tiny input) and multi-bucket
    (monkeypatched threshold) alike."""
    from snowplow_elasticsearch_loader_spark.operators import docs as docs_mod

    tr = synth_transcripts(spark, n_convs=30, seed=7, with_anomalies=False)
    cols = ["conv_id", "turn_idx", "doc_id"]
    explicit = assign_doc_ids(tr, num_ranges=8).select(*cols)
    # tiny input + defaulted num_ranges -> the cap collapses to 1 bucket
    adaptive1 = assign_doc_ids(tr).select(*cols)
    assert explicit.exceptAll(adaptive1).count() == 0
    assert adaptive1.exceptAll(explicit).count() == 0
    # force the default path to keep a multi-bucket fan-out
    monkeypatch.setattr(docs_mod, "_RANK_ROWS_PER_BUCKET", 2)
    adaptive_many = assign_doc_ids(tr).select(*cols)
    assert explicit.exceptAll(adaptive_many).count() == 0
    assert adaptive_many.exceptAll(explicit).count() == 0


def test_assign_doc_ids_zero_row_bound_still_assigns_ids(spark):
    """``n_rows`` is an upper bound from the caller; 0 proves nothing
    about the rows, so it falls back to a count and every existing row
    still gets a dense, non-null doc_id."""
    tr = (
        synth_transcripts(spark, n_convs=5, seed=7, with_anomalies=False)
        .orderBy("conv_id", "turn_idx")
        .limit(3)
    )
    ids = [r["doc_id"] for r in assign_doc_ids(tr, n_rows=0).select("doc_id").collect()]
    assert sorted(ids) == [0, 1, 2]


def test_one_block_builder():
    """Every blocks table is written by one builder: the package has
    exactly one ``applyInPandas(..., schema=BLOCKS_SCHEMA)``, so a
    second SPIMI builder (e.g. one fed by decoded postings) cannot come
    back beside ``index_build.make_range_builder``."""
    import ast
    import pathlib

    import snowplow_elasticsearch_loader_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    builders = []
    for p in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "applyInPandas"
                and any(
                    getattr(a, "id", None) == "BLOCKS_SCHEMA"
                    or getattr(a, "attr", None) == "BLOCKS_SCHEMA"
                    for a in [*node.args, *(k.value for k in node.keywords)]
                )
            ):
                builders.append(f"{p.relative_to(root)}:{node.lineno}")
    assert len(builders) == 1, builders


def test_range_of_tokenless_docs_builds_no_blocks():
    """A doc range whose docs all lack a token (empty or punctuation-
    only text) yields no block rows instead of failing the build."""
    import pandas as pd

    from snowplow_elasticsearch_loader_spark.operators.index_build import make_range_builder

    build = make_range_builder(CFG, avgdl=3.0)
    out = build((0,), pd.DataFrame({"doc_id": [4, 5], "text": ["", " !? "]}))
    assert len(out) == 0
    out = build((0,), pd.DataFrame({"doc_id": [4, 5, 6], "text": ["", "b a b", "a"]}))
    assert out[["term", "doc_count", "max_tf"]].values.tolist() == [["a", 2, 1], ["b", 1, 2]]
