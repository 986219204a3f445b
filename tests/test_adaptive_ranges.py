"""Adaptive doc-range width (IndexConfig.min_build_ranges).

At 10^12 turns the configured ``docs_per_range`` yields ~10^6 one-task
ranges and the knob is inert; on a small corpus the fixed width leaves
fewer ranges than a cluster has slots and the block stage quantizes to
whole waves (the r4 bench corpus: 6 tasks = a structural ~0.75 scaling
ceiling from 2 to 8 cores). These tests pin the contract:

- the effective width is a pure function of (cfg, n_docs) — never of
  the session's parallelism — so builds stay deterministic and resume
  re-derives the same ranges;
- an adaptive-width index decodes to exactly the relational postings;
- a streamed append onto an adaptive-width base never collides with a
  base range id (collision = silent partition overwrite);
- the split never goes below ``block_size * term_buckets`` docs per
  range: one range is one task writing up to ``term_buckets`` files, so
  a small build stays a few ranges instead of many tiny-file tasks;
- a checkpointed build refuses to resume under a different layout.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from snowplow_elasticsearch_loader_spark.config import (
    EngineConfig,
    IndexConfig,
)
from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex, build_index
from snowplow_elasticsearch_loader_spark.operators.postings import build_postings
from snowplow_elasticsearch_loader_spark.sources.transcripts import synth_transcripts


def test_effective_width_pure_function():
    ic = IndexConfig(block_size=128, docs_per_range=1 << 20, min_build_ranges=32)
    # inert at scale: 10^12 docs wants width 3.1e10, config wins
    assert ic.effective_docs_per_range(10**12) == 1 << 20
    # the r4 bench shape: 5.76M docs -> 32 ranges, not 6
    w = ic.effective_docs_per_range(5_762_400)
    assert w == -(-5_762_400 // 32)
    assert (5_762_400 - 1) // w + 1 == 32
    # tiny corpus: floored at block_size * term_buckets (128 * 32)
    assert ic.effective_docs_per_range(500) == 4096
    # the search bench corpus: ~7.8k docs -> 2 ranges, not 32
    w = ic.effective_docs_per_range(7_773)
    assert (7_773 - 1) // w + 1 == 2
    # never wider than the configured width (the contract.py config:
    # its 64 * 16 floor exceeds docs_per_range)
    narrow = IndexConfig(block_size=64, docs_per_range=1000, term_buckets=16)
    for n in (1, 500, 20_000, 10**9):
        assert narrow.effective_docs_per_range(n) <= 1000
    assert narrow.effective_docs_per_range(20_000) == 1000
    # knob off -> config width verbatim
    off = IndexConfig(block_size=128, docs_per_range=1 << 20, min_build_ranges=1)
    assert off.effective_docs_per_range(5_762_400) == 1 << 20
    # degenerate corpus sizes
    assert ic.effective_docs_per_range(0) == 1 << 20
    assert ic.effective_docs_per_range(1) == 4096


def test_default_build_of_small_corpus_is_one_range(spark):
    """~2k docs sit below the default 4,096-doc floor: one range, so one
    block task writing one file per term bucket."""
    d = tempfile.mkdtemp(prefix="engine-one-range-")
    try:
        tr = synth_transcripts(spark, n_convs=60, seed=42, partitions=6)
        idx = build_index(spark, tr, d, EngineConfig())
        assert idx.blocks.select("range_id").distinct().count() == 1
        assert idx.build_ranges == 1
        assert idx.docs_per_range_effective == 4096
        metrics = {r["name"]: r["value"] for r in idx.metrics.collect()}
        assert metrics["build_ranges"] == 1
        assert metrics["docs_per_range_effective"] == 4096
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_refuses_layout_change(spark):
    """A build checkpointed under one range width must not resume under
    another: range 0 of the wider layout covers docs the checkpointed
    range 0 never built, and a resume would skip them."""
    def cfg(min_ranges):
        return EngineConfig(
            index=IndexConfig(
                block_size=8, docs_per_range=1 << 20, term_buckets=8,
                min_build_ranges=min_ranges,
            )
        )

    d = tempfile.mkdtemp(prefix="engine-adaptive-layout-")
    try:
        tr = synth_transcripts(spark, n_convs=40, seed=11, partitions=4)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, tr, d, cfg(16), ranges_per_batch=1, fail_after_batches=1)
        with pytest.raises(ValueError, match="block layout changed"):
            build_index(spark, tr, d, cfg(4))
        # the original layout still resumes, to the exact postings
        idx = build_index(spark, tr, d, cfg(16))
        decoded = idx.postings().select("term", "doc_id", "tf")
        relational = build_postings(idx.documents)
        assert decoded.exceptAll(relational).count() == 0
        assert relational.exceptAll(decoded).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_adaptive_build_splits_ranges_and_decodes_exactly(spark):
    # width large enough that a fixed split would yield ONE range
    cfg = EngineConfig(
        index=IndexConfig(
            block_size=8, docs_per_range=1 << 20, term_buckets=8, min_build_ranges=16
        )
    )
    d = tempfile.mkdtemp(prefix="engine-adaptive-")
    try:
        tr = synth_transcripts(spark, n_convs=40, seed=11, partitions=4)
        idx = build_index(spark, tr, d, cfg)
        n_ranges = idx.blocks.select("range_id").distinct().count()
        assert n_ranges >= 8, f"expected >=8 adaptive ranges, got {n_ranges}"
        decoded = idx.postings().select("term", "doc_id", "tf")
        relational = build_postings(idx.documents)
        assert decoded.exceptAll(relational).count() == 0
        assert relational.exceptAll(decoded).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_after_adaptive_compaction_clears_range_ids(spark):
    """The supported path where adaptive width meets streaming: a
    streamed index is compacted (compaction re-splits under the
    adaptive width, which is NARROWER than cfg.docs_per_range on a
    small corpus), then another micro-batch arrives. Its range ids
    must start strictly above every compacted range id — the streamed
    write is a dynamic partition overwrite, so a collision silently
    REPLACES live compacted blocks. Without the max-range-id guard the
    next batch here lands on range_id 1, inside the compacted set."""
    from snowplow_elasticsearch_loader_spark.index_store import compact_index
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
        process_stream_batch,
    )

    cfg = EngineConfig(
        index=IndexConfig(
            block_size=8, docs_per_range=1 << 20, term_buckets=8, min_build_ranges=16
        )
    )
    d = tempfile.mkdtemp(prefix="engine-adaptive-compact-stream-")
    try:
        tr = synth_transcripts(spark, n_convs=24, seed=13, partitions=4)
        process_stream_batch(spark, tr, 0, d, cfg)
        finalize_streamed_index(spark, d, cfg)
        idx = compact_index(InvertedIndex(spark, d, cfg), cfg)
        compacted_max_rid = int(idx.blocks.agg(F.max("range_id")).collect()[0][0])
        assert compacted_max_rid >= 7  # adaptive re-split actually happened
        before = sorted(
            map(tuple, idx.postings().select("term", "doc_id", "tf").collect())
        )
        extra = synth_transcripts(spark, n_convs=4, seed=77, partitions=1).withColumn(
            "conv_id", F.concat(F.lit("zz-"), F.col("conv_id"))
        )
        process_stream_batch(spark, extra, 1, d, cfg)
        idx2 = InvertedIndex(spark, d, cfg)
        streamed_min = int(
            idx2.blocks.filter(F.col("range_id") > compacted_max_rid)
            .agg(F.min("range_id"))
            .collect()[0][0]
        )
        assert streamed_min > compacted_max_rid
        # every pre-compaction posting survived the append (no partition
        # of the compacted blocks was overwritten by the new segment)
        after = sorted(
            map(tuple, idx2.postings().select("term", "doc_id", "tf").collect())
        )
        assert set(before) <= set(after)
        assert len(after) > len(before)
    finally:
        shutil.rmtree(d, ignore_errors=True)
