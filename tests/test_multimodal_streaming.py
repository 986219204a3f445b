"""Multimodal binary-column plumbing + Structured Streaming tier."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from snowplow_elasticsearch_loader_spark.config import EngineConfig, IndexConfig
from snowplow_elasticsearch_loader_spark.operators import multimodal as MM
from snowplow_elasticsearch_loader_spark.operators.postings import build_postings
from snowplow_elasticsearch_loader_spark.sources.transcripts import synth_transcripts
from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
    incremental_index_build,
    process_stream_batch,
)

SCFG = EngineConfig(index=IndexConfig(block_size=16, docs_per_range=512, term_buckets=8))


def test_multimodal_metadata_extraction(spark):
    assets = MM.synth_assets(spark, n=48)
    meta = MM.extract_metadata(assets).collect()
    assert len(meta) == 48
    for r in meta:
        assert 16 <= r["width"] < 80 and 16 <= r["height"] < 80
        assert r["payload_bytes"] == r["width"] * r["height"] + 19
        assert 0.0 <= r["byte_mean"] <= 255.0
    kinds = {r["kind"] for r in meta}
    assert kinds == {"image", "audio", "video"}
    # deterministic across runs
    meta2 = MM.extract_metadata(MM.synth_assets(spark, n=48)).collect()
    assert sorted(map(tuple, meta)) == sorted(map(tuple, meta2))


def test_multimodal_frame_sampling(spark):
    assets = MM.synth_assets(spark, n=30)
    frames = MM.sample_frames(assets, every=4).collect()
    vids = MM.extract_metadata(assets.filter(F.col("kind") == "video")).collect()
    expected = sum((r["n_frames"] + 3) // 4 for r in vids)
    assert len(frames) == expected
    assert all(len(r["frame_bytes"]) > 0 for r in frames)


def test_multimodal_decode_is_stubbed(spark):
    assets = MM.synth_assets(spark, n=3)
    if not MM.HAVE_REAL_CODECS:
        with pytest.raises(NotImplementedError, match="decode requires"):
            MM.decode_image(assets)


def test_streaming_incremental_build_matches_batch(spark):
    """Two micro-batches (convs pre-split in key order) -> decoded
    postings equal the one-shot batch postings over the union."""
    in_dir = tempfile.mkdtemp(prefix="stream-in-")
    idx_dir = tempfile.mkdtemp(prefix="stream-idx-")
    cp_dir = tempfile.mkdtemp(prefix="stream-cp-")
    try:
        tr = synth_transcripts(spark, n_convs=24, seed=11, with_anomalies=False)
        half = tr.filter(F.col("conv_id") < "conv-00000012")
        rest = tr.filter(F.col("conv_id") >= "conv-00000012")
        half.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b0")
        rest.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b1")
        # flat dir of files for the stream source
        import glob
        import os

        files = sorted(glob.glob(in_dir + "/b*/part-*.parquet"))
        for i, f in enumerate(files):
            os.rename(f, os.path.join(in_dir, f"{i:04d}.parquet"))
        shutil.rmtree(in_dir + "/b0"), shutil.rmtree(in_dir + "/b1")

        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex

        idx = InvertedIndex(spark, idx_dir, SCFG)
        streamed = idx.postings().select("term", "doc_id", "tf")
        # batch twin over the streamed doc store (same doc ids)
        batch = build_postings(idx.documents)
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        # every input turn indexed exactly once
        assert idx.documents.count() == tr.count()
        # stream batches checkpointed
        stages = [r["stage"] for r in idx.checkpoints.collect()]
        assert stages.count("stream_batch") >= 2
        # wand over streamed index == naive relational over the doc store
        from snowplow_elasticsearch_loader_spark.operators import bm25, wand
        from snowplow_elasticsearch_loader_spark.operators.postings import (
            doc_stats,
            term_stats,
        )

        qs = [("s-1", "error retry"), ("s-2", "the tool")]
        naive = bm25.bm25_topk_naive(
            batch, doc_stats(idx.documents), term_stats(batch), qs, k=5, cfg=SCFG
        ).collect()
        fast = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), qs, k=5, cfg=SCFG).collect()
        key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
        assert key(naive) == key(fast)
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_compaction_preserves_postings_and_ranking(spark):
    """Streamed index (one small doc range per micro-batch) -> compact
    under a larger docs_per_range -> identical postings (positions
    included), identical WAND and phrase results, fewer ranges."""
    import glob
    import os

    from snowplow_elasticsearch_loader_spark.config import EngineConfig, IndexConfig
    from snowplow_elasticsearch_loader_spark.index_store import compact_index, InvertedIndex
    from snowplow_elasticsearch_loader_spark.operators import wand
    from snowplow_elasticsearch_loader_spark.operators.phrase import phrase_topk

    def postings(ix):
        rows = ix.postings().select("term", "doc_id", "tf", "positions").collect()
        return sorted((r[0], r[1], r[2], tuple(r[3])) for r in rows)

    in_dir = tempfile.mkdtemp(prefix="compact-in-")
    idx_dir = tempfile.mkdtemp(prefix="compact-idx-")
    cp_dir = tempfile.mkdtemp(prefix="compact-cp-")
    small = EngineConfig(index=IndexConfig(block_size=8, docs_per_range=128, term_buckets=8))
    try:
        tr = synth_transcripts(spark, n_convs=16, seed=21, with_anomalies=False)
        a = tr.filter(F.col("conv_id") < "conv-00000008")
        b = tr.filter(F.col("conv_id") >= "conv-00000008")
        a.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b0")
        b.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b1")
        files = sorted(glob.glob(in_dir + "/b*/part-*.parquet"))
        for i, f in enumerate(files):
            os.rename(f, os.path.join(in_dir, f"{i:04d}.parquet"))
        shutil.rmtree(in_dir + "/b0"), shutil.rmtree(in_dir + "/b1")
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, small, available_now=True)
        idx = InvertedIndex(spark, idx_dir, small)
        before_rows = postings(idx)
        assert any(len(r[3]) > 1 for r in before_rows)  # positions are compared
        qs = [("c-1", "error the tool"), ("c-2", "agent plan")]
        res_before = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), qs, k=5, cfg=small).collect()
        phrases = [("p-1", "tool the"), ("p-2", "the the tool"), ("p-3", "agent plan")]
        ph_before = phrase_topk(idx.blocks, idx.termdict, idx.corpus(), phrases, k=10, cfg=small).collect()
        assert ph_before
        n_ranges_before = idx.blocks.select("range_id").distinct().count()

        # min_build_ranges=1: this test asserts the EXPLICIT width is
        # honored (fewer ranges after the merge); the adaptive floor
        # would re-split a corpus this small for task packing
        big = EngineConfig(
            index=IndexConfig(
                block_size=64, docs_per_range=4096, term_buckets=8, min_build_ranges=1
            )
        )
        idx2 = compact_index(idx, big)
        assert postings(idx2) == before_rows
        n_ranges_after = idx2.blocks.select("range_id").distinct().count()
        assert n_ranges_after < n_ranges_before
        res_after = wand.wand_topk(idx2.blocks, idx2.termdict, idx2.corpus(), qs, k=5, cfg=big).collect()
        key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
        assert key(res_after) == key(res_before)
        ph_after = phrase_topk(idx2.blocks, idx2.termdict, idx2.corpus(), phrases, k=10, cfg=big)
        assert key(ph_after.collect()) == key(ph_before)
        # compaction checkpointed
        assert "compact" in {r["stage"] for r in idx2.checkpoints.collect()}
        # rename-free commit: versioned dirs + manifest pointer, no
        # directory swap artifacts anywhere
        assert os.path.exists(os.path.join(idx_dir, "_manifest.json"))
        assert os.path.isdir(os.path.join(idx_dir, "blocks_v1"))
        assert not os.path.exists(os.path.join(idx_dir, "_blocks_old"))
        assert not os.path.exists(os.path.join(idx_dir, "_blocks_compact"))
        # a second compaction advances the version and stays consistent;
        # zero grace -> superseded dirs expire immediately
        idx3 = compact_index(idx2, big, gc_grace_sec=0.0)
        assert os.path.isdir(os.path.join(idx_dir, "blocks_v2"))
        assert not os.path.exists(os.path.join(idx_dir, "blocks_v1"))
        assert postings(idx3) == before_rows
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_streamed_block_bounds_safe_under_doclen_skew(spark):
    """Adversarial avgdl drift: batch 0 is short docs, batch 1 is long
    docs, so the running avgdl at each append differs wildly from the
    final corpus avgdl. The stored per-block stats (max_tf, min_dl) must
    yield a VALID upper bound under the FINAL avgdl — and WAND must stay
    rank-identical to the naive path (the bug class where stale block
    metadata prunes genuine top-k docs)."""
    import glob
    import os
    from datetime import datetime

    import numpy as np

    from snowplow_elasticsearch_loader_spark.functions import codec
    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex
    from snowplow_elasticsearch_loader_spark.operators import bm25, wand
    from snowplow_elasticsearch_loader_spark.operators.postings import (
        doc_stats,
        term_stats,
    )
    from snowplow_elasticsearch_loader_spark.operators.postings import build_postings

    in_dir = tempfile.mkdtemp(prefix="skew-in-")
    idx_dir = tempfile.mkdtemp(prefix="skew-idx-")
    cp_dir = tempfile.mkdtemp(prefix="skew-cp-")
    cfg = EngineConfig(index=IndexConfig(block_size=8, docs_per_range=512, term_buckets=8))
    ts = datetime(2026, 1, 1)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    try:
        # batch 0: 80 short docs (avgdl ~ 4); batch 1: 80 long docs
        # (final avgdl ~ 52) — stale-avgdl bounds would undercount.
        short = [
            (f"a-{i:04d}", 0, "user", f"alpha beta w{i % 7} w{i % 11}", None, ts)
            for i in range(80)
        ]
        long_ = [
            (
                f"b-{i:04d}",
                0,
                "user",
                "alpha " * (2 + i % 5) + " ".join(f"pad{j}" for j in range(90)),
                None,
                ts,
            )
            for i in range(80)
        ]
        spark.createDataFrame(short, schema).coalesce(1).write.mode("overwrite").parquet(in_dir + "/b0")
        spark.createDataFrame(long_, schema).coalesce(1).write.mode("overwrite").parquet(in_dir + "/b1")
        files = sorted(glob.glob(in_dir + "/b*/part-*.parquet"))
        for i, f in enumerate(files):
            os.rename(f, os.path.join(in_dir, f"{i:04d}.parquet"))
        shutil.rmtree(in_dir + "/b0"), shutil.rmtree(in_dir + "/b1")
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, cfg, available_now=True)
        idx = InvertedIndex(spark, idx_dir, cfg)
        _, avgdl = idx.corpus()
        k1, b = cfg.bm25.k1, cfg.bm25.b

        # 1) every block's stored (max_tf, min_dl) bounds its true max
        #    partial contribution under the FINAL avgdl
        for r in idx.blocks.collect():
            _, tfs, dls = codec.unpack_blocks(
                [r["doc_count"]], [r["docs_varint"]], [r["tfs_varint"]], [r["dls_varint"]]
            )
            tfs, dls = tfs.astype(np.float64), dls.astype(np.float64)
            true_max = ((tfs * (k1 + 1.0)) / (tfs + k1 * ((1 - b) + b * dls / avgdl))).max()
            mtf, mdl = float(r["max_tf"]), float(r["min_dl"])
            bound = (mtf * (k1 + 1.0)) / (mtf + k1 * ((1 - b) + b * mdl / avgdl))
            assert bound >= true_max - 1e-12, (r["term"], r["block_id"], bound, true_max)

        # 2) WAND over streamed blocks == naive relational (rank+score)
        qs = [("sk-1", "alpha"), ("sk-2", "alpha beta")]
        posts = build_postings(idx.documents)
        naive = bm25.bm25_topk_naive(
            posts, doc_stats(idx.documents), term_stats(posts), qs, k=10, cfg=cfg
        ).collect()
        fast = wand.wand_topk(idx.blocks, idx.termdict, idx.corpus(), qs, k=10, cfg=cfg).collect()
        key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
        assert key(naive) == key(fast)
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_batch_replay_is_idempotent(spark):
    """foreachBatch is at-least-once: simulate a full replay (wipe the
    streaming checkpoint, keep the index dir) — committed batch_ids must
    be skipped via _checkpoints, leaving documents/postings unchanged."""
    import glob
    import os

    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex

    in_dir = tempfile.mkdtemp(prefix="replay-in-")
    idx_dir = tempfile.mkdtemp(prefix="replay-idx-")
    cp_dir = tempfile.mkdtemp(prefix="replay-cp-")
    try:
        tr = synth_transcripts(spark, n_convs=10, seed=33, with_anomalies=False)
        a = tr.filter(F.col("conv_id") < "conv-00000005")
        b = tr.filter(F.col("conv_id") >= "conv-00000005")
        a.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b0")
        b.coalesce(1).write.mode("overwrite").parquet(in_dir + "/b1")
        files = sorted(glob.glob(in_dir + "/b*/part-*.parquet"))
        for i, f in enumerate(files):
            os.rename(f, os.path.join(in_dir, f"{i:04d}.parquet"))
        shutil.rmtree(in_dir + "/b0"), shutil.rmtree(in_dir + "/b1")

        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        idx = InvertedIndex(spark, idx_dir, SCFG)
        n_docs = idx.documents.count()
        posts_before = sorted(map(tuple, idx.postings().select("term", "doc_id", "tf").collect()))
        # replay from scratch: new streaming checkpoint, same index dir
        shutil.rmtree(cp_dir, ignore_errors=True)
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        idx2 = InvertedIndex(spark, idx_dir, SCFG)
        assert idx2.documents.count() == n_docs
        posts_after = sorted(map(tuple, idx2.postings().select("term", "doc_id", "tf").collect()))
        assert posts_after == posts_before
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def _flat_stream_files(in_dir, dfs):
    """Write each df as one parquet file named in delivery order."""
    import glob
    import os

    for i, df in enumerate(dfs):
        sub = f"{in_dir}/b{i}"
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        f = sorted(glob.glob(sub + "/part-*.parquet"))[0]
        os.rename(f, os.path.join(in_dir, f"{i:04d}.parquet"))
        shutil.rmtree(sub)


def test_stream_cross_batch_redelivery_upserts(spark):
    """ES upsert-by-doc-id semantics across micro-batches
    (core/ElasticsearchSink.scala:92): the SAME records delivered again
    in a LATER micro-batch (the normal Kinesis replay case) converge to
    one document each — index identical to single-delivery."""
    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex

    in1 = tempfile.mkdtemp(prefix="redeliv-in1-")
    in2 = tempfile.mkdtemp(prefix="redeliv-in2-")
    idx1 = tempfile.mkdtemp(prefix="redeliv-idx1-")
    idx2 = tempfile.mkdtemp(prefix="redeliv-idx2-")
    cp1 = tempfile.mkdtemp(prefix="redeliv-cp1-")
    cp2 = tempfile.mkdtemp(prefix="redeliv-cp2-")
    try:
        tr = synth_transcripts(spark, n_convs=10, seed=7, with_anomalies=False)
        # delivered once vs delivered twice (second copy in a later batch)
        _flat_stream_files(in1, [tr])
        _flat_stream_files(in2, [tr, tr])
        incremental_index_build(spark, in1, idx1, cp1, SCFG, available_now=True)
        incremental_index_build(spark, in2, idx2, cp2, SCFG, available_now=True)
        a = InvertedIndex(spark, idx1, SCFG)
        b = InvertedIndex(spark, idx2, SCFG)
        assert b.documents.count() == tr.count()  # not 2x
        da = sorted(map(tuple, a.documents.select("doc_id", "conv_id", "turn_idx").collect()))
        db = sorted(map(tuple, b.documents.select("doc_id", "conv_id", "turn_idx").collect()))
        assert da == db
        pa = sorted(map(tuple, a.postings().select("term", "doc_id", "tf").collect()))
        pb = sorted(map(tuple, b.postings().select("term", "doc_id", "tf").collect()))
        assert pa == pb
    finally:
        for d in (in1, in2, idx1, idx2, cp1, cp2):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_crash_mid_batch_replay_is_identical(spark, monkeypatch):
    """A batch that crashes AFTER its data writes but BEFORE the
    _checkpoints ack must replay to a byte-identical index: the replay's
    doc-id offset comes from the control state's before-side (or from
    docstats EXCLUDING the crashed attempt's own segment), never from
    the crashed attempt's partial writes."""
    import pytest as _pytest

    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex
    from snowplow_elasticsearch_loader_spark.streaming import stream_build as SB

    idx_c = tempfile.mkdtemp(prefix="crash-idx-")
    idx_t = tempfile.mkdtemp(prefix="crash-twin-")
    try:
        tr = synth_transcripts(spark, n_convs=10, seed=19, with_anomalies=False)
        a = tr.filter(F.col("conv_id") < "conv-00000005")
        b = tr.filter(F.col("conv_id") >= "conv-00000005")

        # twin: no crashes
        SB.process_stream_batch(spark, a, 0, idx_t, SCFG)
        SB.process_stream_batch(spark, b, 1, idx_t, SCFG)

        # scenario 1: FIRST batch crashes before state write (no control
        # file yet) -> replay must fall back to a scan that excludes its
        # own batch_seg
        def no_state(*args, **kwargs):
            raise RuntimeError("injected crash before state write")

        monkeypatch.setattr(SB, "_write_state", no_state)
        with _pytest.raises(RuntimeError, match="before state write"):
            SB.process_stream_batch(spark, a, 0, idx_c, SCFG)
        monkeypatch.undo()
        SB.process_stream_batch(spark, a, 0, idx_c, SCFG)  # replay

        # scenario 2: second batch crashes after state write but before
        # the _checkpoints ack -> replay reuses the state's before-side
        real_append = SB._append

        def crash_ack(spark_, path, rows, schema):
            if path.endswith("_checkpoints") and rows and rows[0][0] == "stream_batch":
                raise RuntimeError("injected crash before ack")
            return real_append(spark_, path, rows, schema)

        monkeypatch.setattr(SB, "_append", crash_ack)
        with _pytest.raises(RuntimeError, match="before ack"):
            SB.process_stream_batch(spark, b, 1, idx_c, SCFG)
        monkeypatch.undo()
        SB.process_stream_batch(spark, b, 1, idx_c, SCFG)  # replay

        crashed = InvertedIndex(spark, idx_c, SCFG)
        twin = InvertedIndex(spark, idx_t, SCFG)
        dc = sorted(map(tuple, crashed.documents.select("doc_id", "conv_id", "turn_idx").collect()))
        dt = sorted(map(tuple, twin.documents.select("doc_id", "conv_id", "turn_idx").collect()))
        assert dc == dt
        pc = sorted(map(tuple, crashed.postings().select("term", "doc_id", "tf").collect()))
        pt = sorted(map(tuple, twin.postings().select("term", "doc_id", "tf").collect()))
        assert pc == pt
        # no ghost postings: every indexed doc_id exists in the doc store
        doc_ids = {r[0] for r in dc}
        assert {r[1] for r in pc} <= doc_ids
    finally:
        for d in (idx_c, idx_t):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_batch_stats_are_o1_not_o_corpus(spark, monkeypatch):
    """Once the control state exists, per-batch corpus bookkeeping must
    come from it — never from a full docstats re-aggregation (whose cost
    grows with total index size). _scan_state is the only fallback scan;
    poisoning it after batch 0 proves later batches never call it."""
    from snowplow_elasticsearch_loader_spark.streaming import stream_build as SB

    idx_dir = tempfile.mkdtemp(prefix="o1-idx-")
    try:
        tr = synth_transcripts(spark, n_convs=12, seed=23, with_anomalies=False)
        parts = [
            tr.filter(F.col("conv_id") < "conv-00000004"),
            tr.filter((F.col("conv_id") >= "conv-00000004") & (F.col("conv_id") < "conv-00000008")),
            tr.filter(F.col("conv_id") >= "conv-00000008"),
        ]
        SB.process_stream_batch(spark, parts[0], 0, idx_dir, SCFG)

        def poisoned(*args, **kwargs):
            raise AssertionError("O(corpus) stats scan in steady state")

        monkeypatch.setattr(SB, "_scan_state", poisoned)
        SB.process_stream_batch(spark, parts[1], 1, idx_dir, SCFG)
        SB.process_stream_batch(spark, parts[2], 2, idx_dir, SCFG)
        st = SB._read_state(idx_dir)
        docs = spark.read.parquet(idx_dir + "/documents")
        assert st["after"]["n_docs"] == docs.count() == tr.count()
        ds = spark.read.parquet(idx_dir + "/docstats")
        assert st["after"]["sum_dl"] == ds.agg(F.sum("doclen")).collect()[0][0]
        assert st["after"]["next_doc_id"] > st["before"]["next_doc_id"]
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def test_compaction_reader_grace_window(spark):
    """A reader holding the OLD manifest must survive a concurrent
    compaction: superseded block/termdict dirs are parked on the
    manifest's retired list for gc_grace_sec (Iceberg snapshot-expiry
    analog), not rmtree'd at flip time."""
    import json
    import os

    from snowplow_elasticsearch_loader_spark.index_store import (
        InvertedIndex,
        build_index,
        compact_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="grace-idx-")
    try:
        tr = synth_transcripts(spark, n_convs=12, seed=41, with_anomalies=False)
        idx = build_index(spark, tr, idx_dir, SCFG)
        # reader bound to the CURRENT (pre-compaction) physical dirs
        old_blocks = idx.blocks
        old_n = old_blocks.count()
        idx2 = compact_index(idx, SCFG)  # default grace: old dirs parked
        # old reader still scans successfully mid-"concurrency"
        assert old_blocks.count() == old_n
        man = json.load(open(os.path.join(idx_dir, "_manifest.json")))
        assert man["retired"] and man["retired"][0]["dirs"][0] == "blocks"
        assert os.path.exists(os.path.join(idx_dir, "blocks"))
        # a later compaction past the grace window expires them
        compact_index(idx2, SCFG, gc_grace_sec=0.0)
        man2 = json.load(open(os.path.join(idx_dir, "_manifest.json")))
        retired_now = {d for e in man2["retired"] for d in e["dirs"]}
        assert "blocks" not in retired_now  # v0 dirs expired and deleted
        assert not os.path.exists(os.path.join(idx_dir, "blocks"))
        # new reader still green
        assert InvertedIndex(spark, idx_dir, SCFG).blocks.count() == old_n
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def test_stream_append_into_batch_built_dir_refused(spark):
    """ADVICE r3 (medium): a documents dir from the batch build path has
    no batch_seg segment column; the first micro-batch used to die on an
    AnalysisException crash loop. It must now refuse up front with an
    actionable error (proceeding would write a mixed-depth partition
    layout that breaks the next read), before any write happens."""
    import os

    from snowplow_elasticsearch_loader_spark.index_store import build_index
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        process_stream_batch,
    )

    idx_dir = tempfile.mkdtemp(prefix="batchdir-idx-")
    try:
        tr = synth_transcripts(spark, n_convs=8, seed=5, with_anomalies=False)
        build_index(spark, tr, idx_dir, SCFG)
        more = synth_transcripts(spark, n_convs=4, seed=6, with_anomalies=False)
        docs_before = sorted(os.listdir(os.path.join(idx_dir, "documents")))
        with pytest.raises(ValueError, match="stream-append refused"):
            process_stream_batch(spark, more, 0, idx_dir, SCFG)
        # refused BEFORE any write: doc store untouched
        assert sorted(os.listdir(os.path.join(idx_dir, "documents"))) == docs_before
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def test_stream_append_after_compaction_lands_in_live_dir(spark):
    """ADVICE r3 (medium): once compact_index has flipped the manifest
    to blocks_v<N>, streamed blocks must land in the LIVE dir (and the
    termdict refresh in its versioned dir) — writing to the retired base
    'blocks' dir would be invisible to readers and GC'd."""
    import glob
    import os

    from snowplow_elasticsearch_loader_spark.index_store import (
        InvertedIndex,
        compact_index,
    )
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
        incremental_index_build,
    )

    in_dir = tempfile.mkdtemp(prefix="compstream-in-")
    idx_dir = tempfile.mkdtemp(prefix="compstream-idx-")
    cp_dir = tempfile.mkdtemp(prefix="compstream-cp-")
    try:
        tr = synth_transcripts(spark, n_convs=12, seed=21, with_anomalies=False)
        first = tr.filter(F.col("conv_id") < "conv-00000008")
        second = tr.filter(F.col("conv_id") >= "conv-00000008")
        _flat_stream_files(in_dir, [first])
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        idx = InvertedIndex(spark, idx_dir, SCFG)
        idx = compact_index(idx, SCFG)  # manifest now points at blocks_v1
        # new files arrive in the SAME input dir; the SAME streaming
        # checkpoint continues batch numbering (a fresh checkpoint would
        # restart at batch 0 and replay-overwrite segment 0 by design)
        sub = in_dir + "/more"
        second.coalesce(1).write.mode("overwrite").parquet(sub)
        f = sorted(glob.glob(sub + "/part-*.parquet"))[0]
        os.rename(f, os.path.join(in_dir, "9999.parquet"))
        shutil.rmtree(sub)
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        idx2 = finalize_streamed_index(spark, idx_dir, SCFG)
        # every good turn queryable through the live (manifest) blocks
        n_docs = idx2.documents.count()
        assert n_docs == tr.count()
        decoded_docs = idx2.postings().select("doc_id").distinct().count()
        nonempty = idx2.docstats.filter(F.col("doclen") > 0).count()
        assert decoded_docs == nonempty
        # the streamed blocks physically live under the manifest dir,
        # and the retired base dir gained no new files
        live = idx2._resolve("blocks")
        assert os.path.basename(live) == "blocks_v1"
        assert glob.glob(os.path.join(live, "term_bucket=*"))
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_multimodal_malformed_payload_quarantined(spark):
    """ADVICE r3 (low): a payload shorter than the 19-byte container
    header (or with a bad magic) is quarantined per row — error column
    set, header fields null — instead of aborting the Spark job."""
    rows = [
        (0, "image", MM.fake_payload(0, "image"), {}),
        (1, "image", b"tiny", {}),  # shorter than the header
        (2, "video", b"NOTFAKE" + b"\x00" * 20, {}),  # bad magic
        (3, "video", MM.fake_payload(3, "video"), {}),
        (4, "video", b"\x01", {}),  # short video payload
    ]
    assets = spark.createDataFrame(rows, schema=MM.ASSET_SCHEMA)
    meta = {r["asset_id"]: r for r in MM.extract_metadata(assets).collect()}
    assert len(meta) == 5
    assert meta[0]["error"] is None and meta[0]["width"] >= 16
    assert "short_payload" in meta[1]["error"] and meta[1]["width"] is None
    assert "unknown_container" in meta[2]["error"] and meta[2]["n_frames"] is None
    assert meta[3]["error"] is None
    assert "short_payload" in meta[4]["error"]
    # frame sampling skips the malformed video rows, keeps the good one
    frames = MM.sample_frames(assets, every=2).collect()
    assert frames and {r["asset_id"] for r in frames} == {3}


def test_stream_state_matches_docstats_readback(spark):
    """r6 optimization internals: the per-batch (n, sum_dl) bookkeeping
    now comes from an Observation on the docstats write itself (one job,
    no read-back aggregate). The control state must still equal what a
    read-back of the committed docstats table reports — the invariant
    the old read-back code enforced by construction."""
    import json
    import os

    from snowplow_elasticsearch_loader_spark.index_store import resolve_table_dir

    in_dir = tempfile.mkdtemp(prefix="obs-in-")
    idx_dir = tempfile.mkdtemp(prefix="obs-idx-")
    cp_dir = tempfile.mkdtemp(prefix="obs-cp-")
    try:
        tr = synth_transcripts(spark, n_convs=8, seed=11, with_anomalies=False)
        a = tr.filter(F.col("conv_id") < "conv-00000004")
        b = tr.filter(F.col("conv_id") >= "conv-00000004")
        _flat_stream_files(in_dir, [a, b])
        incremental_index_build(spark, in_dir, idx_dir, cp_dir, SCFG, available_now=True)
        with open(os.path.join(idx_dir, "_stream_state.json")) as fh:
            state = json.load(fh)
        ds = spark.read.parquet(resolve_table_dir(idx_dir, "docstats"))
        row = ds.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
        ).collect()[0]
        assert int(state["after"]["n_docs"]) == int(row["n"])
        assert int(state["after"]["sum_dl"]) == int(row["s"])
    finally:
        for d in (in_dir, idx_dir, cp_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_state_scan_raises_on_unreadable_docstats(spark):
    """Without a control file the next batch's offset comes from a
    docstats scan. Only an absent docstats dir means an empty index: an
    unreadable one must fail the batch, not restart doc ids at 0 on top
    of the live documents."""
    import glob
    import os

    idx_dir = tempfile.mkdtemp(prefix="scan-state-idx-")
    try:
        tr = synth_transcripts(spark, n_convs=6, seed=5, with_anomalies=False)
        process_stream_batch(
            spark, tr.filter(F.col("conv_id") < "conv-00000003"), 0, idx_dir, SCFG
        )
        os.remove(os.path.join(idx_dir, "_stream_state.json"))
        part = sorted(
            glob.glob(os.path.join(idx_dir, "docstats", "**", "*.parquet"), recursive=True)
        )[0]
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file" * 64)
        # the parquet reader's own error; its class depends on the backend
        with pytest.raises(Exception):
            process_stream_batch(
                spark, tr.filter(F.col("conv_id") >= "conv-00000003"), 1, idx_dir, SCFG
            )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def _two_batch_stream(spark, idx_dir, cfg):
    """Two finalized micro-batches of synth_transcripts(12, seed=21)."""
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
    )

    tr = synth_transcripts(spark, n_convs=12, seed=21, with_anomalies=False)
    process_stream_batch(spark, tr.filter(F.col("conv_id") < "conv-00000006"), 0, idx_dir, cfg)
    process_stream_batch(spark, tr.filter(F.col("conv_id") >= "conv-00000006"), 1, idx_dir, cfg)
    finalize_streamed_index(spark, idx_dir, cfg)


def test_compacted_stream_equals_build_blocks_only(spark):
    """Compaction rebuilds through the build's own range builder:
    compacting a streamed index gives the blocks build_blocks_only
    writes over its live documents under the same config, equal row for
    row in every column, bytes included."""
    from snowplow_elasticsearch_loader_spark.index_store import (
        InvertedIndex,
        build_blocks_only,
        compact_index,
    )
    from snowplow_elasticsearch_loader_spark.operators.index_build import BLOCKS_SCHEMA

    small = EngineConfig(index=IndexConfig(block_size=8, docs_per_range=128, term_buckets=8))
    big = EngineConfig(index=IndexConfig(block_size=16, docs_per_range=1024, term_buckets=4))
    idx_dir = tempfile.mkdtemp(prefix="compact-eq-idx-")
    ref_dir = tempfile.mkdtemp(prefix="compact-eq-ref-")
    try:
        _two_batch_stream(spark, idx_dir, small)
        idx = compact_index(InvertedIndex(spark, idx_dir, small), big)
        ref = build_blocks_only(spark, idx.live_documents().select("doc_id", "text"), ref_dir, big)

        def rows(ix):
            pdf = ix.blocks.select(*BLOCKS_SCHEMA.fieldNames()).toPandas()
            return pdf.sort_values(["term", "block_id"]).reset_index(drop=True)

        got, want = rows(idx), rows(ref)
        assert len(got) > 0
        assert got.equals(want)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(ref_dir, ignore_errors=True)


def test_compaction_refuses_uncommitted_stream_batch(spark, monkeypatch):
    """A micro-batch that crashed after its documents write leaves a
    batch_seg doc partition with no stream_batch checkpoint. Compaction
    rebuilds from the doc store, so it must refuse until the batch is
    replayed; after the replay it compacts every document."""
    import os

    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex, compact_index
    from snowplow_elasticsearch_loader_spark.operators import index_build
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="compact-uncommitted-")
    try:
        tr = synth_transcripts(spark, n_convs=8, seed=31, with_anomalies=False)
        first = tr.filter(F.col("conv_id") < "conv-00000004")
        second = tr.filter(F.col("conv_id") >= "conv-00000004")
        process_stream_batch(spark, first, 0, idx_dir, SCFG)

        def crash(*a, **k):
            raise RuntimeError("injected crash before the blocks write")

        with monkeypatch.context() as m:
            m.setattr(index_build, "build_blocks_df", crash)
            with pytest.raises(RuntimeError, match="injected"):
                process_stream_batch(spark, second, 1, idx_dir, SCFG)
        finalize_streamed_index(spark, idx_dir, SCFG)
        with pytest.raises(ValueError, match=r"\[1\].*replay that batch"):
            compact_index(InvertedIndex(spark, idx_dir, SCFG), SCFG)
        assert not os.path.exists(os.path.join(idx_dir, "_manifest.json"))

        process_stream_batch(spark, second, 1, idx_dir, SCFG)  # the replay
        finalize_streamed_index(spark, idx_dir, SCFG)
        idx = compact_index(InvertedIndex(spark, idx_dir, SCFG), SCFG)
        indexed = {r[0] for r in idx.postings().select("doc_id").distinct().collect()}
        nonempty = idx.docstats.filter(F.col("doclen") > 0).select("doc_id")
        assert indexed == {r[0] for r in nonempty.collect()}
        replayed = idx.documents.filter(F.col("batch_seg") == 1).select("doc_id")
        assert {r[0] for r in replayed.collect()} & indexed
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def test_compaction_state_write_failure_keeps_manifest(spark, monkeypatch):
    """The streamed max-range-id guard is restated before the manifest
    flip, and a failed restatement fails the compaction: the manifest
    keeps pointing at the old blocks, so no later micro-batch can land
    on compacted ranges under a stale guard. A successful compaction
    never lowers the guard."""
    import json
    import os

    from snowplow_elasticsearch_loader_spark.index_store import InvertedIndex, compact_index
    from snowplow_elasticsearch_loader_spark.streaming import stream_build

    idx_dir = tempfile.mkdtemp(prefix="compact-state-")
    state_file = os.path.join(idx_dir, "_stream_state.json")
    try:
        _two_batch_stream(spark, idx_dir, SCFG)
        guard = json.load(open(state_file))["after"]["max_rid"]
        idx = compact_index(InvertedIndex(spark, idx_dir, SCFG), SCFG)
        man_path = os.path.join(idx_dir, "_manifest.json")
        version = json.load(open(man_path))["version"]
        assert json.load(open(state_file))["after"]["max_rid"] >= guard

        def fail(*a, **k):
            raise OSError("injected state write failure")

        monkeypatch.setattr(stream_build, "_write_state", fail)
        with pytest.raises(OSError, match="injected"):
            compact_index(idx, SCFG)
        assert json.load(open(man_path))["version"] == version
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
