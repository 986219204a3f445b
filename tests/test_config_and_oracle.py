"""Pure-function unit tier (SURVEY §5.4): config parsing/validation
(reference AwsConfigSpec analog), analyzer contract across all three
implementations, BM25 formula vs hand-computed values."""

from __future__ import annotations

import json
import math

import pytest

from oracle.bm25 import OracleIndex, tokenize as oracle_tokenize
from snowplow_elasticsearch_loader_spark.config import DEFAULT_CONFIG, EngineConfig
from snowplow_elasticsearch_loader_spark.functions.analyze import (
    tokenize_text,
    tokens_col,
)


def test_config_defaults_and_layering(tmp_path):
    cfg = EngineConfig.from_dict({"bm25": {"k1": 0.9}, "index": {"block_size": 64}})
    assert cfg.bm25.k1 == 0.9 and cfg.bm25.b == 0.75  # layered defaults
    assert cfg.index.block_size == 64
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"limits": {"max_text_bytes": 123456}}))
    cfg2 = EngineConfig.from_json(str(p))
    assert cfg2.limits.max_text_bytes == 123456
    assert cfg2.bm25.k1 == 1.2


def test_config_rejects_unknown_and_invalid():
    with pytest.raises(ValueError, match="unknown config keys"):
        EngineConfig.from_dict({"bm25": {"k9": 1.0}})
    with pytest.raises(ValueError, match="k1>0"):
        EngineConfig.from_dict({"bm25": {"k1": -1.0}}).validate()
    with pytest.raises(ValueError, match="block_size"):
        EngineConfig.from_dict({"index": {"block_size": 1}}).validate()


@pytest.mark.parametrize(
    "d",
    [
        {"index": {"hot_df_threshold": 1}},
        {"table_format": "iceberg"},
        {"token_pattern": "x"},
        {"index": {"max_run_postings": 1}},
    ],
)
def test_config_rejects_removed_fields(d):
    # removed fields: a config that sets one is refused, not ignored
    with pytest.raises(ValueError, match="unknown config keys"):
        EngineConfig.from_dict(d)


TRICKY = [
    "Hello Wörld ÜÖÄ",
    "my-app-üöä e-mail v2.0",
    "你好 世界 🙂 mixed ASCII",
    "",
    "   ",
    "UPPER lower MiXeD",
    "under_score snake_case",  # _ excluded from tokens
    "numbers 42 and 3rd things",
]


@pytest.mark.parametrize("text", TRICKY)
def test_tokenizer_python_matches_oracle(text):
    assert tokenize_text(text) == oracle_tokenize(text)


def test_tokenizer_spark_matches_python(spark):
    df = spark.createDataFrame([(t,) for t in TRICKY], "text string")
    got = [r[0] for r in df.select(tokens_col("text")).collect()]
    assert got == [tokenize_text(t) for t in TRICKY]


def test_bm25_formula_hand_computed():
    # corpus: d0="a b a", d1="b c", d2="c c c c"
    idx = OracleIndex([(0, "a b a"), (1, "b c"), (2, "c c c c")])
    assert idx.n_docs == 3 and idx.avgdl == 3.0
    # query "a": df=1, idf=ln(1+(3-1+0.5)/1.5)=ln(8/3)
    idf_a = math.log(1 + (3 - 1 + 0.5) / 1.5)
    tf, dl = 2.0, 3.0
    expected = idf_a * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    res = idx.search("a", k=3)
    assert res == [(1, 0, round(expected, 6))]
    # duplicate query term doubles the weight
    res2 = idx.search("a a", k=3)
    assert res2[0][2] == round(2 * expected, 6)
    # absent term -> empty
    assert idx.search("zzz") == []


def test_default_config_is_lucene_defaults():
    assert DEFAULT_CONFIG.bm25.k1 == 1.2 and DEFAULT_CONFIG.bm25.b == 0.75


def test_quantize_doclen_hand_cases(spark):
    """SmallFloat-style 4-bit-mantissa truncation: hand-computed cases
    for the JVM expression and the numpy twin."""
    import numpy as np

    from snowplow_elasticsearch_loader_spark.operators.bm25 import (
        quantize_doclen_col,
        quantize_doclen_np,
    )

    cases = {1: 1, 7: 7, 15: 15, 16: 16, 17: 16, 31: 30, 100: 96, 1000: 960, 65535: 61440}
    vals = list(cases)
    df = spark.createDataFrame([(v,) for v in vals], "doclen int")
    got = {
        r["doclen"]: r["q"]
        for r in df.select("doclen", quantize_doclen_col("doclen").alias("q")).collect()
    }
    assert got == cases
    np_got = quantize_doclen_np(np.array(vals))
    assert [int(x) for x in np_got] == [cases[v] for v in vals]


def test_degenerate_corpus_bounded_candidates(spark):
    """5k identical docs: without the LSH bucket cap the band self-join
    would emit ~12.5M pairs; with the cap the query finishes with a
    bounded result (identical docs pair via exact dedup instead)."""
    from snowplow_elasticsearch_loader_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    n = 5000
    df = spark.createDataFrame(
        [(i, "the same exact boilerplate text repeated every time") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(df, n_hashes=8, bands=4, threshold=0.9, max_group=64)
    assert pairs.count() == 0  # every band bucket is over-full -> dropped
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5, max_df=100)
    assert jac.count() == 0  # every shingle is hotter than max_df


def test_embed_neardup_banded_subset_of_exact(spark, sf_tiny):
    """Banded LSH pairs are a subset of the exact all-pairs result, and
    high-similarity pairs are recalled."""
    from snowplow_elasticsearch_loader_spark import contract as C
    from snowplow_elasticsearch_loader_spark.operators.similarity import (
        neardup_pairs,
        neardup_pairs_exact,
    )
    from snowplow_elasticsearch_loader_spark.sources import load_table

    emb = load_table(spark, sf_tiny, "embeddings")
    approx = neardup_pairs(
        emb, threshold=0.3, planes=C.NEARDUP_PLANES, bands=C.NEARDUP_BANDS, max_vec_id=150
    )
    exact = neardup_pairs_exact(emb, threshold=0.3, max_vec_id=150)
    a = {(r["vec_a"], r["vec_b"]) for r in approx.collect()}
    e = {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in exact.collect()}
    e_pairs = {(x, y) for x, y, _ in e}
    assert a <= e_pairs  # no false positives (exact cosine verifies)
    hi = {(x, y) for x, y, c in e if c >= 0.8}
    if hi:
        assert len(a & hi) / len(hi) >= 0.9  # strong near-dups recalled


def test_badrow_transformer_12_fix_parity():
    """Pure-python mirror of the reference's BadRowTransformerSpec
    (core/BadRowTransformerSpec.scala): every fix path, the vendor
    gate, pass-through, and the parse-failure route."""
    import json

    from snowplow_elasticsearch_loader_spark.operators.badjson import handle_iglu_json

    BR = "iglu:com.snowplowanalytics.snowplow.badrows/x/jsonschema/1-0-0"

    def run(data):
        out, err = handle_iglu_json(json.dumps({"schema": BR, "data": data}))
        assert err is None
        return json.loads(out)["data"]

    # pass through non-self-describing JSON unchanged
    out, err = handle_iglu_json('{"foo": "bar"}')
    assert err is None and json.loads(out) == {"foo": "bar"}
    # rename string/array failure; object failure unchanged
    assert run({"failure": "some error"}) == {"failure_str": "some error"}
    assert run({"failure": ["e1", "e2"]})["failure_list"] == ["e1", "e2"]
    assert run({"failure": {"k": 1}})["failure"] == {"k": 1}
    # payload renames + nested parameters serialization
    assert run({"payload": "raw"}) == {"payload_str": "raw"}
    assert run({"payload": ["a"]})["payload_list"] == ["a"]
    assert run({"payload": {"raw": {"parameters": {"key": "value"}}}})["payload"]["raw"][
        "parameters"
    ] == '{"key":"value"}'
    # failure-object field renames
    f = run({"failure": {"error": "E", "errors": ["a"], "message": "M"}})["failure"]
    assert f == {"error_str": "E", "errors_list": ["a"], "message_str": "M"}
    # failure.messages[*] fixes incl. nested message.error
    d = run(
        {"failure": {"messages": [
            {"error": "m1", "expectedMapping": {"k": 1}, "json": [1, 2],
             "message": {"error": "inner"}}
        ]}}
    )
    m = d["failure"]["messages"][0]
    assert m["error_str"] == "m1"
    assert m["expectedMapping"] == '{"k":1}'
    assert m["json"] == "[1,2]"
    assert m["message"] == {"error_str": "inner"}
    # failure_list item fixes (run AFTER the root rename creates it)
    d = run({"failure": [{"error": "le", "value": {"v": 2}}]})
    assert d["failure_list"][0] == {"value": '{"v":2}', "error_str": "le"}
    # non-badrows vendor: untouched
    out, _ = handle_iglu_json(
        '{"schema":"iglu:com.example/event/jsonschema/1-0-0","data":{"failure":"oops"}}'
    )
    assert json.loads(out)["data"] == {"failure": "oops"}
    # parse failure -> routed error
    out, err = handle_iglu_json("not json {")
    assert out is None and err.startswith("BadRowTransformer cannot parse")
    # already-string values are NOT double-serialized
    d = run({"failure": {"messages": [{"json": "already"}]}})
    assert d["failure"]["messages"][0]["json"] == "already"


def test_payload_size_caps_and_null(spark):
    """S2 guards: compressed-size cap, decompressed-size cap (zip bomb),
    null payload — all routed as row errors, never thrown."""
    import gzip

    from snowplow_elasticsearch_loader_spark.operators.payload import decompress_payloads

    bomb = gzip.compress(b"x" * 500_000, mtime=0)  # tiny -> big
    rows = [
        (0, b"plain ok"),
        (1, b"y" * 2_000),          # over max_bytes
        (2, bomb),                   # over max_decompressed
        (3, None),                   # null payload
        (4, b"\xff\xfe bad utf8 \xff"),
    ]
    df = spark.createDataFrame(rows, "pid int, payload binary")
    out = {
        r["pid"]: (r["codec"], r["text"], r["_error"])
        for r in decompress_payloads(df, max_bytes=1_000, max_decompressed=100_000).collect()
    }
    assert out[0] == ("plain", "plain ok", None)
    assert out[1][2].startswith("size_violation: payload bytes")
    assert out[2][0] == "gzip" and out[2][2].startswith("size_violation: decompressed")
    assert out[3][2] == "null_payload"
    assert out[4][0] == "plain" and out[4][2].startswith("encoding_error")


def test_connected_components_shapes(spark):
    """CC over pair lists: chains collapse to min-id, disjoint clusters
    stay disjoint, convergence beats the iteration cap."""
    from snowplow_elasticsearch_loader_spark.operators.dedup import connected_components

    # chain 0-1-...-9 (needs log rounds), triangle 100-101-102, pair 200-201
    pairs = [(i, i + 1) for i in range(9)] + [(100, 101), (101, 102), (100, 102), (200, 201)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}
    assert all(got[i] == 0 for i in range(10))
    assert all(got[i] == 100 for i in (100, 101, 102))
    assert got[200] == got[201] == 200
    assert len(got) == 15  # only nodes that appear in pairs


def test_connected_components_long_path_converges_olog(spark):
    """A 200-node duplicate CHAIN (serially near-identical crawl
    snapshots) must converge well within the round budget — the
    large-star/small-star contraction needs ~log2(L) rounds, where
    plain one-hop min propagation would need ~L (and used to return
    silently-unconverged labels past the cap)."""
    from snowplow_elasticsearch_loader_spark.operators.dedup import connected_components

    pairs = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(df, max_iterations=20).collect()}
    assert len(got) == 200
    assert all(got[i] == 0 for i in range(200))
    # shuffled ids: min-label is value-based, not order-based
    import random

    rng = random.Random(7)
    ids = list(range(1000, 1100))
    rng.shuffle(ids)
    chain = [(min(a, b), max(a, b)) for a, b in zip(ids, ids[1:])]
    df2 = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got2 = {r["doc_id"]: r["component"] for r in connected_components(df2, max_iterations=20).collect()}
    assert all(v == 1000 for v in got2.values())


def test_connected_components_raises_on_nonconvergence(spark):
    """Never silently-unconverged: an impossible round budget raises."""
    import pytest as _pytest

    from snowplow_elasticsearch_loader_spark.operators.dedup import connected_components

    pairs = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1)


def test_iceberg_branch_builds_correct_reader(monkeypatch):
    """VERDICT r3 #8: the fmt='iceberg' branch is the one-line cluster
    switch (no runtime jar in this sandbox) — assert the reader options
    it constructs so the branch can't rot: format('iceberg'), optional
    snapshot pinning via 'snapshot-id', load(<dir>/<table>)."""
    from snowplow_elasticsearch_loader_spark.sources import tables as TBL

    calls = {}

    class FakeReader:
        def format(self, f):
            calls["format"] = f
            return self

        def option(self, k, v):
            calls.setdefault("options", {})[k] = v
            return self

        def load(self, path):
            calls["load"] = path
            return "DF"

    class FakeSpark:
        @property
        def read(self):
            return FakeReader()

    monkeypatch.setattr(TBL, "ensure_shipped", lambda s: None, raising=False)
    import snowplow_elasticsearch_loader_spark.shipping as SHIP

    monkeypatch.setattr(SHIP, "ensure_shipped", lambda s: None)
    out = TBL.load_table(FakeSpark(), "/data/sf1", "lineitem", fmt="iceberg", snapshot_id=77)
    assert out == "DF"
    assert calls["format"] == "iceberg"
    assert calls["options"] == {"snapshot-id": "77"}
    assert calls["load"] == "/data/sf1/lineitem"
    calls.clear()
    TBL.load_table(FakeSpark(), "/data/sf1", "events", fmt="iceberg")
    assert calls["format"] == "iceberg" and "options" not in calls
    assert calls["load"] == "/data/sf1/events"


def test_must_not_excludes_every_matching_doc(spark, sf_tiny):
    """bool.must_not semantics: no returned hit may contain ANY
    exclusion term, and scores must match the unfiltered ranking for
    the surviving docs (filter context never changes weights)."""
    from pyspark.sql import functions as F

    from snowplow_elasticsearch_loader_spark import contract
    from snowplow_elasticsearch_loader_spark.operators import postings as P

    hits = contract.q_bm25_not_topk(spark, sf_tiny)
    docs = spark.read.parquet(f"{sf_tiny}/documents.parquet")
    posts = P.build_postings(docs)
    excluded = (
        posts.filter(F.col("term").isin(contract._MUSTNOT_TERMS))
        .select("doc_id")
        .distinct()
    )
    assert hits.join(excluded, "doc_id").count() == 0
    # surviving (query, doc) scores equal the unfiltered full ranking's
    full = contract.q_bm25_topk(spark, sf_tiny).withColumnRenamed("score", "s_full")
    joined = hits.join(full.select("query_id", "doc_id", "s_full"), ["query_id", "doc_id"])
    bad = joined.filter(F.abs(F.col("score") - F.col("s_full")) > 1e-9).count()
    assert bad == 0
