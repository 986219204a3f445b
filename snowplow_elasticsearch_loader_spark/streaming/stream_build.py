"""Structured Streaming surface: incremental index maintenance.

The reference is a streaming sink (Kinesis -> ES,
core/Processing.scala:42-49) with NoWindowing and checkpoint-after-
durable-write acks. Our batch build already owns those semantics at the
partition level; this module is the streaming analog for incremental
refresh:

- ``incremental_index_build``: ``readStream`` over a transcripts
  directory, ``foreachBatch`` appends per-micro-batch posting blocks
  (doc ids continue from the persisted corpus state — the ack/token
  role is played by the streaming checkpoint + the _checkpoints rows),
  then a finalize pass rebuilds termdict/corpus. With
  ``Trigger.AvailableNow`` this is an incremental catch-up job; with a
  continuous trigger it is a live index maintainer.

Micro-batch appends reuse the SAME block builder as the batch path, so
streamed and batch-built indexes decode to identical postings when fed
identical doc-id assignments (asserted in tests). Compacting a streamed
index (``compact_index``) rebuilds its blocks from the committed doc
store through that builder too, so it gives the same blocks as
``build_blocks_only`` over the live documents under the same config.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..index_store import (
    CHECKPOINT_SCHEMA,
    METRICS_SCHEMA,
    InvertedIndex,
    _append,
    _done_partitions,
    _is_local,
    _write_corpus,
    resolve_table_dir,
)
from ..operators import bm25, index_build
from ..operators.docs import assign_doc_ids, footer_row_count, split_good_bad
from ..operators.postings import doc_stats
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def _state_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_stream_state.json")


def _read_state(index_dir: str) -> dict | None:
    """Running corpus control state: O(1) per-batch bookkeeping instead
    of re-aggregating all of docstats every micro-batch (which grows
    with total corpus size and inverts streaming's point at scale).

    Shape: {"last_batch": b, "before": {...}, "after": {...}} where each
    side holds (n_docs, sum_dl, next_doc_id). ``before`` is the state
    the batch STARTED from — kept so a crashed-mid-batch replay (same
    batch_id) recomputes the exact same doc-id offset instead of reading
    its own partially-committed writes back as committed corpus.
    """
    import json

    try:
        with open(_state_path(index_dir)) as fh:
            return json.load(fh)
    except Exception:
        return None


def _write_state(index_dir: str, state: dict) -> None:
    import json

    tmp = _state_path(index_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, _state_path(index_dir))


def _scan_state(spark: SparkSession, index_dir: str, exclude_batch: int) -> dict:
    """Fallback when no control state exists (legacy dir): aggregate
    docstats, EXCLUDING the current batch's own segment — a crashed
    attempt's partial writes must never shift the replay's offset
    (they'd assign different doc_ids and orphan the crashed blocks).

    Only an ABSENT docstats dir means an empty index. Any other read
    error raises: a zero state over live documents would restart doc
    ids at 0 and overwrite them."""
    empty = {"n_docs": 0, "sum_dl": 0, "next_doc_id": 0}
    path = resolve_table_dir(index_dir, "docstats")
    # a local check first: Spark logs a stack trace for a missing path
    if _is_local(path) and not os.path.isdir(path.removeprefix("file:")):
        return empty
    try:
        ds = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return empty
    if "batch_seg" in ds.columns:
        ds = ds.filter(F.col("batch_seg") != int(exclude_batch))
    row = ds.agg(
        F.max("doc_id").alias("m"),
        F.count(F.lit(1)).alias("n"),
        F.sum("doclen").alias("s"),
    ).collect()[0]
    nxt = int(row["m"]) + 1 if row["m"] is not None else 0
    # a control-less dir was only ever written by the STREAM path,
    # whose segments all use cfg's raw width — the committed max
    # range id is therefore doc-derived (compaction, the one
    # producer of narrower adaptive ranges, rewrites the control
    # file with the true value; the batch build path is refused
    # before this scan ever runs). Derived lazily by the caller,
    # which knows dpr: max_rid = (next_doc_id - 1) // dpr.
    return {
        "n_docs": int(row["n"] or 0),
        "sum_dl": int(row["s"] or 0),
        "next_doc_id": nxt,
    }


def process_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> None:
    """One micro-batch append: validate -> cross-batch upsert dedup ->
    assign ids -> documents/_badrows/docstats/blocks -> state -> ack.

    Guarantees (each replay-safe, in commit order):

    - **exactly-once effect for committed batches**: batch_ids recorded
      ``done`` in ``_checkpoints`` are skipped outright;
    - **cross-micro-batch upsert idempotency** (the ES doc-id upsert
      analog, core/ElasticsearchSink.scala:92): the batch's natural keys
      are anti-joined against the PERSISTED doc store before id
      assignment, so a turn re-delivered in a later micro-batch — the
      normal Kinesis replay case — converges to one document instead of
      being indexed twice under a fresh doc_id. The probe reads only
      (conv_id, turn_idx) (column-pruned scan) and excludes the current
      batch's own segment so a crashed attempt's partial writes don't
      eat the replay's rows;
    - **crash-mid-batch replay identity**: the doc-id offset comes from
      the ``_stream_state`` control file's BEFORE-side (or, without
      state, from docstats excluding this batch's own ``batch_seg``) —
      never from writes the crashed attempt itself made — so the replay
      assigns byte-identical ids and its dynamic partition overwrites
      land exactly on the crashed attempt's partitions;
    - **O(1) per-batch bookkeeping**: running (n_docs, sum_dl,
      next_doc_id) ride the control file, so per-batch driver work does
      not grow with total corpus size (no full docstats re-aggregation);
    - **checkpoint-after-durable-write**: the ``_checkpoints`` row is
      appended only after documents/docstats/blocks are committed
      (reference ack ordering, core/Processing.scala:80-84).
    """
    batch_id = int(batch_id)
    if batch_id in _done_partitions(spark, index_dir, "stream_batch"):
        return  # replayed fully-committed batch: exactly-once effect
    t0 = time.time()
    state = _read_state(index_dir)
    if state is not None and int(state.get("last_batch", -1)) == batch_id:
        base = state["before"]  # crashed-attempt replay: same offset
    elif state is not None and int(state.get("last_batch", -1)) < batch_id:
        base = state["after"]
    else:
        base = _scan_state(spark, index_dir, exclude_batch=batch_id)

    good, bad = split_good_bad(batch_df, cfg)
    docs_dir = resolve_table_dir(index_dir, "documents")
    if os.path.exists(docs_dir):
        prior = spark.read.parquet(docs_dir)
        # A doc store written by the BATCH build path has no batch_seg
        # partition (ADVICE r3: the unguarded filter crash-looped the
        # stream on its first micro-batch). Proceeding would be worse
        # than crashing: streamed segments partition by
        # (batch_seg, shard_date) while batch dirs partition by
        # shard_date only, and parquet partition discovery rejects
        # mixed-depth layouts on the NEXT read — so refuse up front
        # with an actionable error instead of corrupting the dir.
        if "batch_seg" not in prior.columns:
            raise ValueError(
                "stream-append refused: the documents table at "
                f"{docs_dir} was written by the batch build path (no "
                "batch_seg segment column); its shard_date-only "
                "partition layout is incompatible with streaming's "
                "per-segment overwrites. Stream into a fresh index dir, "
                "or rebuild this index via incremental_index_build."
            )
        prior_keys = prior.filter(F.col("batch_seg") != batch_id).select(
            "doc_id", "conv_id", "turn_idx"
        )
        # tombstoned docs must not block re-insertion of their natural
        # keys — update_by_query tombstones the old version and streams
        # the replacement; the upsert probe sees only LIVE versions
        dels = InvertedIndex(spark, index_dir, cfg).deleted_ids()
        if dels is not None:
            prior_keys = prior_keys.join(
                dels.select("doc_id"), "doc_id", "left_anti"
            )
        good = good.join(
            prior_keys.select("conv_id", "turn_idx"),
            ["conv_id", "turn_idx"],
            "left_anti",
        )

    # each micro-batch starts at a fresh doc-range boundary so its
    # blocks land in exclusive (term_bucket, range_id) partitions —
    # no block_id collisions across batches (the streaming analog of
    # one ES index segment per flush)
    nxt = int(base["next_doc_id"])
    dpr = cfg.index.docs_per_range
    offset = ((nxt + dpr - 1) // dpr) * dpr if nxt else 0
    # COMPACTION re-splits blocks under the adaptive width (narrower
    # than dpr on a small corpus), so compacted range ids can run past
    # offset//dpr — and this batch's dynamic overwrite would silently
    # REPLACE those live partitions. Start streamed ranges strictly
    # above the committed max range id. The guard rides the control
    # state (compaction raises it before its flip); a control-less dir
    # is stream-only-at-raw-width, where (nxt-1)//dpr is exact. Never
    # probed from the blocks dir itself: a crashed attempt's partial
    # block writes would shift the replay's offset and break replay
    # identity (the crash-mid-batch test pins this).
    max_rid = int(base.get("max_rid", (nxt - 1) // dpr if nxt else -1))
    offset = max(offset, (max_rid + 1) * dpr)
    seg = F.lit(batch_id).alias("batch_seg")
    dyn = {"partitionOverwriteMode": "dynamic"}

    # raw batch size from the micro-batch scan's parquet footers
    # (driver-side metadata, no Spark job): an upper bound on good's
    # rows — split/anti-join only shrink — which is all assign_doc_ids
    # uses n for (boundary-sample sizing + bucket cap, never ranks).
    # Skips one driver-synchronized count() job per micro-batch.
    with_ids = assign_doc_ids(good, dedup=True, n_rows=footer_row_count(batch_df))
    docs = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    docs_out = docs.select(
        "doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.to_date(F.date_format("ts", cfg.shard_date_format)).alias("shard_date"),
        seg,
    )
    docs_out.write.mode("overwrite").options(**dyn).partitionBy(
        "batch_seg", "shard_date"
    ).parquet(docs_dir)
    bad.select("*", seg).write.mode("overwrite").options(**dyn).partitionBy(
        "batch_seg"
    ).parquet(os.path.join(index_dir, "_badrows"))
    # this batch's rows only: partition-pruned read, O(batch) not O(corpus)
    docs_w = spark.read.parquet(docs_dir).filter(F.col("batch_seg") == batch_id)
    # batch (n, sum_dl) observed on the docstats write itself — one job
    # instead of write + read-back-aggregate. Equal to the read-back by
    # construction: docstats partitions by batch_seg alone, so this
    # dynamic overwrite replaces the batch's whole partition and the
    # committed rows ARE the observed rows (replay included — the probe
    # excludes the batch's own segment, so a replay recomputes the same
    # rows a crashed attempt wrote).
    from pyspark.sql import Observation

    obs = Observation(f"stream-docstats-{batch_id}")
    doc_stats(docs_w).select("*", seg).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
    ).write.mode("overwrite").options(**dyn).partitionBy(
        "batch_seg"
    ).parquet(resolve_table_dir(index_dir, "docstats"))
    row = obs.get
    n_batch, sum_batch = int(row["n"] or 0), int(row["s"] or 0)
    n_after = int(base["n_docs"]) + n_batch
    sum_after = int(base["sum_dl"]) + sum_batch
    avgdl = float(sum_after) / float(n_after) if n_after else 1.0
    if n_batch:
        # resolve through the manifest: after a compact_index the live
        # blocks dir is blocks_v<N>, and appending to the retired base
        # dir would be silent data loss (invisible to readers, GC'd by
        # the next compaction). New ranges start past the persisted max
        # doc id, so their (term_bucket, range_id) partitions are
        # collision-free with compacted ones under the same
        # docs_per_range (streaming and compaction must share cfg).
        index_build.build_blocks_df(
            docs_w, avgdl, cfg, num_ranges=(n_batch + dpr - 1) // dpr
        ).write.mode("overwrite").options(**dyn).partitionBy(
            "term_bucket", "range_id"
        ).parquet(resolve_table_dir(index_dir, "blocks"))
    _write_state(
        index_dir,
        {
            "last_batch": batch_id,
            "before": {**dict(base), "max_rid": max_rid},
            "after": {
                "n_docs": n_after,
                "sum_dl": sum_after,
                "next_doc_id": (offset + n_batch) if n_batch else nxt,
                "max_rid": (
                    max(max_rid, (offset + n_batch - 1) // dpr)
                    if n_batch
                    else max_rid
                ),
            },
        },
    )
    _append(
        spark,
        os.path.join(index_dir, "_checkpoints"),
        [("stream_batch", batch_id, "done", n_batch, 0, 0, 0, t0, time.time(), "stream")],
        CHECKPOINT_SCHEMA,
    )
    # telemetry heartbeat (S22): liveness + progress side-stream,
    # one row per micro-batch (the reference's periodic heartbeat
    # analog — core/Telemetry-style side channel)
    _append(
        spark,
        os.path.join(index_dir, "_metrics"),
        [("heartbeat", batch_id, "stream", time.time())],
        METRICS_SCHEMA,
    )


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    transform,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> int:
    """ES ``_update_by_query`` parity, implemented exactly the way ES
    does it internally: each matching doc's OLD version is tombstoned
    and a NEW version (same natural key (conv_id, turn_idx), fresh
    internal doc_id) is indexed into a new segment — here one streaming
    micro-batch through ``process_stream_batch``, whose upsert probe
    re-admits the natural keys because tombstoned versions are excluded
    from it. ``compact_index`` is the merge that expunges the old
    versions.

    ``transform`` is a Column -> Column text rewrite (the script
    analog), applied JVM-side — no per-row Python.

    Matching is term-pushed (only the queried terms' postings decode).
    Index-wide stats follow Lucene until-merge semantics: N/avgdl/df
    still count the old versions until compaction restates them.

    Non-atomicity, exactly like ES (``conflicts`` semantics): the
    tombstone commit and the replacement-segment commit are separate
    durable steps. A crash between them leaves the matched docs
    deleted but not yet re-indexed — re-run the update from the source
    of truth; every step is individually idempotent/replay-safe.

    Only streamed indexes (batch_seg layout) accept replacement
    segments; ``process_stream_batch`` refuses batch-built dirs with an
    actionable error. Returns the number of docs updated."""
    idx = InvertedIndex(spark, index_dir, cfg)
    ids = idx.postings(terms).select("doc_id").distinct()
    rows = idx.live_documents().join(ids, "doc_id")
    missing = {"conv_id", "turn_idx", "text"} - set(rows.columns)
    if missing:
        raise ValueError(
            "update_by_query needs the doc store's natural-key columns "
            f"(missing {sorted(missing)}); build_blocks_only stores are "
            "(doc_id, text)-keyed and cannot re-version documents"
        )
    state = _read_state(index_dir)
    if state is None:
        raise ValueError(
            "update_by_query requires a streamed index (_stream_state "
            "bookkeeping); batch-built indexes take updates as a "
            "rebuild or via a fresh streamed segment dir"
        )
    batch_id = int(state.get("last_batch", -1)) + 1
    # step 0 (durable): stage the replacement rows to disk BEFORE
    # tombstoning — their lineage reads the very postings the tombstone
    # hides, so a cache-evicted recompute after step 1 would silently
    # produce an EMPTY replacement batch (lost update). A durable
    # staging file also gives the crash window between steps a replay
    # source.
    import shutil

    from pyspark.sql import Observation

    staging = os.path.join(index_dir, f"_update_staging_{batch_id}")
    obs_n = Observation("upd-n")
    rows.select(
        "conv_id",
        "turn_idx",
        "role",
        transform(F.col("text")).alias("text"),
        "tool",
        "ts",
    ).observe(obs_n, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        staging
    )
    n = int(obs_n.get["n"])
    if n == 0:
        shutil.rmtree(staging, ignore_errors=True)
        return 0
    repl = spark.read.parquet(staging)
    # step 1 (durable): tombstone the old versions — postings stop
    # matching now, the upsert probe frees the natural keys
    ids.write.mode("append").parquet(resolve_table_dir(index_dir, "_deletes"))
    # step 2 (durable): replacement segment through the normal
    # micro-batch commit protocol (ids continue from the stream state)
    process_stream_batch(spark, repl, batch_id, index_dir, cfg)
    shutil.rmtree(staging, ignore_errors=True)
    _append(
        spark,
        os.path.join(index_dir, "_metrics"),
        [("docs_updated", n, "update_by_query", time.time())],
        METRICS_SCHEMA,
    )
    return n


def incremental_index_build(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """Stream transcripts parquet dir -> incremental posting blocks.

    Doc ids are assigned per micro-batch, offset by the persisted max.
    ``foreachBatch`` is at-least-once, so every write in a batch must be
    replay-idempotent:

    - batch_ids already recorded ``done`` in ``_checkpoints`` are skipped
      outright (exactly-once effect for fully-committed batches);
    - every table this sink appends to (documents, _badrows, docstats)
      carries a ``batch_seg`` partition column and is written with
      dynamic partition OVERWRITE — a replay of a crashed-mid-batch
      attempt rewrites exactly its own partitions, never duplicating
      rows or colliding doc_ids (assign_doc_ids is deterministic, so the
      replay assigns the same ids);
    - posting blocks land in (term_bucket, range_id) partitions that are
      exclusive to the batch by construction (each batch starts at a
      fresh doc-range boundary), so dynamic overwrite is idempotent
      there too;
    - the ``_checkpoints`` row is appended LAST (checkpoint-after-
      durable-write, the reference's ack ordering,
      core/Processing.scala:80-84).

    Block max-score stats (max_tf, min_dl) are avgdl-independent, so
    blocks built while the corpus was still growing stay exact pruning
    bounds under the final avgdl — finalize only refreshes corpus stats
    and the term dictionary.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_stream_batch(spark, batch_df, int(batch_id), index_dir, cfg)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        finalize_streamed_index(spark, index_dir, cfg)
        return q
    return writer.start()


def finalize_streamed_index(
    spark: SparkSession, index_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> InvertedIndex:
    """Exact corpus stats + termdict refresh.

    No block-metadata rebuild is needed: the pruning stats stored per
    block (max_tf, min_dl) are avgdl-INDEPENDENT, and the WAND evaluator
    derives its upper bound from them with the query-time avgdl — so
    blocks appended while the corpus (and its running avgdl) was growing
    remain exact-safe bounds under the final avgdl computed here.
    """
    ds = spark.read.parquet(resolve_table_dir(index_dir, "docstats"))
    _write_corpus(spark, resolve_table_dir(index_dir, "corpus"), *bm25.corpus_stats(ds))
    blocks = spark.read.parquet(resolve_table_dir(index_dir, "blocks"))
    index_build.termdict_from_blocks(blocks).write.mode("overwrite").parquet(
        resolve_table_dir(index_dir, "termdict")
    )
    return InvertedIndex(spark, index_dir, cfg)

