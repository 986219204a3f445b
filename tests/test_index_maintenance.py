"""delete_by_query + compaction-expunge semantics (ES _delete_by_query
/ force-merge parity): tombstones hide docs from search immediately,
stored rows and stats persist until the merge, the merge physically
expunges everything behind one manifest flip, and late deletes after an
expunge land in the fresh versioned tombstone dir."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from snowplow_elasticsearch_loader_spark.config import EngineConfig, IndexConfig
from snowplow_elasticsearch_loader_spark.index_store import (
    InvertedIndex,
    build_blocks_only,
    compact_index,
    delete_by_query,
    resolve_table_dir,
)
from snowplow_elasticsearch_loader_spark.operators import index_build
from snowplow_elasticsearch_loader_spark.sources import load_table

CFG = EngineConfig(index=IndexConfig(block_size=32, docs_per_range=200, term_buckets=8))


@pytest.fixture(scope="module")
def built(spark, sf_tiny, tmp_path_factory):
    docs = load_table(spark, sf_tiny, "documents")
    path = str(tmp_path_factory.mktemp("delq-idx"))
    idx = build_blocks_only(spark, docs, path, CFG)
    return idx, docs


def _matching_ids(docs, term):
    from snowplow_elasticsearch_loader_spark.functions.analyze import tokens_col

    return {
        r["doc_id"]
        for r in docs.filter(F.array_contains(tokens_col("text"), term)).collect()
    }


def test_delete_tombstones_then_expunge(spark, built):
    idx, docs = built
    victims = _matching_ids(docs, "dup")
    assert victims, "probe term must match at least one doc"
    n_before, avgdl_before = idx.corpus()

    n = delete_by_query(idx, ["dup"])
    assert n == len(victims)

    # searches stop matching immediately
    live_ids = {r["doc_id"] for r in idx.postings().select("doc_id").distinct().collect()}
    assert live_ids.isdisjoint(victims)
    fetched = {r["doc_id"] for r in idx.live_documents().select("doc_id").collect()}
    assert fetched.isdisjoint(victims)

    # ...but stored rows, raw postings, and stats persist until merge
    stored = {r["doc_id"] for r in idx.documents.select("doc_id").collect()}
    assert victims <= stored
    raw = {
        r["doc_id"]
        for r in index_build.decode_blocks(idx.blocks).select("doc_id").distinct().collect()
    }
    assert victims <= raw
    assert idx.corpus() == (n_before, avgdl_before)

    # idempotent: re-issuing the same delete adds nothing
    assert delete_by_query(idx, ["dup"]) == 0

    # the merge expunges physically and restates stats
    idx2 = compact_index(idx)
    assert not idx2.has_tombstones()
    raw2 = {
        r["doc_id"]
        for r in index_build.decode_blocks(idx2.blocks).select("doc_id").distinct().collect()
    }
    assert raw2.isdisjoint(victims)
    stored2 = {r["doc_id"] for r in idx2.documents.select("doc_id").collect()}
    assert stored2 == stored - victims
    n_after, avgdl_after = idx2.corpus()
    assert n_after == n_before - len(victims)
    exp = idx2.documents.agg(F.sum("doclen").alias("s")).collect()[0]["s"]
    assert abs(avgdl_after - float(exp) / n_after) < 1e-9
    # termdict df restated: no term may still count a deleted doc
    td_df = {r["term"]: int(r["df"]) for r in idx2.termdict.collect()}
    posts_df = {
        r["term"]: int(r["n"])
        for r in idx2.postings().groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert td_df == posts_df

    # late deletes go to the fresh versioned tombstone dir, not the
    # retired one (which grace-GC will remove)
    deld = resolve_table_dir(idx2.path, "_deletes")
    assert deld.endswith("_deletes_v1")
    n3 = delete_by_query(idx2, ["slow"])
    assert n3 > 0 and os.path.isdir(deld)
    live3 = {r["doc_id"] for r in idx2.postings().select("doc_id").distinct().collect()}
    assert live3.isdisjoint(_matching_ids(docs, "slow"))


def test_serving_engine_refuses_tombstones(spark, sf_tiny, tmp_path_factory):
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

    docs = load_table(spark, sf_tiny, "documents")
    path = str(tmp_path_factory.mktemp("delq-serve"))
    idx = build_blocks_only(spark, docs, path, CFG)
    QueryEngine(idx, cfg=CFG, warm=False)  # clean index serves fine
    delete_by_query(idx, ["dup"])
    with pytest.raises(ValueError, match="tombstones"):
        QueryEngine(idx, cfg=CFG, warm=False)
    idx2 = compact_index(idx)
    QueryEngine(idx2, cfg=CFG, warm=False)  # expunged index serves again


def test_update_by_query_versions_and_upsert(spark, sf_tiny, tmp_path_factory):
    """update_by_query = tombstone old version + replacement segment
    under the SAME natural key; a later re-delivery of the original row
    must still dedupe against the LIVE (new) version, never reinsert."""
    import glob

    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        incremental_index_build,
        process_stream_batch,
        update_by_query,
    )

    cfg = EngineConfig(index=IndexConfig(block_size=32, docs_per_range=100, term_buckets=8))
    docs = load_table(spark, sf_tiny, "documents").filter(F.col("doc_id") < 300)
    tr = docs.select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    in_dir = str(tmp_path_factory.mktemp("upd-in"))
    idx_dir = str(tmp_path_factory.mktemp("upd-idx"))
    cp_dir = str(tmp_path_factory.mktemp("upd-cp"))
    tr.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "_b0"))
    src = sorted(glob.glob(os.path.join(in_dir, "_b0", "part-*.parquet")))[0]
    os.rename(src, os.path.join(in_dir, "0000.parquet"))
    incremental_index_build(spark, in_dir, idx_dir, cp_dir, cfg, available_now=True)
    idx = InvertedIndex(spark, idx_dir, cfg)

    n_before = idx.live_documents().count()
    n_upd = update_by_query(
        spark, idx_dir, ["dup"], lambda c: F.concat(c, F.lit(" freshtoken")), cfg
    )
    assert n_upd > 0
    # same natural-key count; every updated doc searchable under the new token
    live = idx.live_documents()
    assert live.count() == n_before
    assert live.select("conv_id", "turn_idx").distinct().count() == n_before
    hits = {
        r["doc_id"]
        for r in idx.postings().filter(F.col("term") == "freshtoken").select("doc_id").collect()
    }
    assert len(hits) == n_upd
    # old versions no longer match the deleted term's postings... but the
    # REPLACEMENTS do (they still contain 'dup' in their rewritten text)
    dup_docs = {
        r["doc_id"]
        for r in idx.postings().filter(F.col("term") == "dup").select("doc_id").collect()
    }
    assert dup_docs == hits

    # re-delivery of the ORIGINAL rows dedupes against the live version
    process_stream_batch(spark, tr, 99, idx_dir, cfg)
    assert idx.live_documents().count() == n_before
    assert idx.live_documents().select("conv_id", "turn_idx").distinct().count() == n_before


def test_delete_and_update_decode_only_the_queried_terms(spark, tmp_path, monkeypatch):
    """delete_by_query and update_by_query match through
    ``postings(terms)``: the term predicate sits on the blocks scan that
    feeds the decode UDF, so only the queried terms' blocks are read and
    decoded. The match reads blocks, not the termdict, so a term that
    occurs only in an unfinalized stream batch is still found."""
    from snowplow_elasticsearch_loader_spark.sources.transcripts import synth_transcripts
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
        process_stream_batch,
        update_by_query,
    )

    decoded_inputs = []
    real_decode = index_build.decode_blocks

    def recording_decode(blocks):
        decoded_inputs.append(blocks)
        return real_decode(blocks)

    def scan_filters(df):
        """The plan's blocks scans (not the tombstone scan)."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "FileScan parquet" in ln and "docs_varint" in ln]

    cfg = EngineConfig(index=IndexConfig(block_size=16, docs_per_range=256, term_buckets=8))
    d = str(tmp_path / "idx")
    tr = synth_transcripts(spark, n_convs=8, seed=3, with_anomalies=False)
    process_stream_batch(spark, tr.filter(F.col("conv_id") < "conv-00000004"), 0, d, cfg)
    finalize_streamed_index(spark, d, cfg)
    late = tr.filter(F.col("conv_id") >= "conv-00000004").withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.concat("text", F.lit(" latezz"))).otherwise(
            F.col("text")
        ),
    )
    process_stream_batch(spark, late, 1, d, cfg)  # not finalized
    idx = InvertedIndex(spark, d, cfg)
    assert not idx.lookup_terms(["latezz"])  # the termdict lags the blocks
    victims = _matching_ids(idx.documents, "latezz")
    assert victims

    monkeypatch.setattr(index_build, "decode_blocks", recording_decode)
    assert delete_by_query(idx, ["latezz"]) == len(victims)
    fetched = {r["doc_id"] for r in idx.live_documents().select("doc_id").collect()}
    assert fetched.isdisjoint(victims)
    n_upd = update_by_query(spark, d, ["tool"], lambda c: F.concat(c, F.lit(" upd")), cfg)
    assert n_upd > 0

    assert len(decoded_inputs) == 2
    for df, term in zip(decoded_inputs, ["latezz", "tool"]):
        scans = scan_filters(df)
        assert len(scans) == 1, scans
        assert "PushedFilters: []" not in scans[0]
        assert f"EqualTo(term,{term})" in scans[0], scans[0]
    # the unfiltered view still scans every block
    assert "PushedFilters: []" in scan_filters(idx.blocks)[0]
