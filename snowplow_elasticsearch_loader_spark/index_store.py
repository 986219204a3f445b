"""Persisted index layout + resumable build orchestration.

Checkpoint-after-durable-write, the ordering guarantee the reference
enforces (ack tokens emitted only after the ES write + metrics + bad
rows succeed, core/Processing.scala:80-84, asserted
coretest/ProcessingSpec.scala:70-79): a ``_checkpoints`` row for a
range batch is appended only after that batch's posting blocks are
committed. Re-runs anti-join against ``_checkpoints`` and redo only
missing ranges; per-range output is idempotent (dynamic partition
overwrite), so at-least-once re-execution converges — the analog of
ES doc-id upsert idempotency (core/ElasticsearchSink.scala:92).

Layout under ``<path>/``:

    documents/        partitioned by shard_date   (doc store)
    blocks/           partitioned by term_bucket, range_id
    termdict/         (term, term_bucket, df, block_count, max_score_partial)
    docstats/         (doc_id, doclen)
    corpus/           singleton (n_docs, avgdl)
    _badrows/         dead-letter (payload_b64, error, stage, ts)
    _checkpoints/     (stage, partition_id, status, turns, postings_emitted,
                       bytes_merged, terms_finalized, started_ts, finished_ts,
                       snapshot_id); the ``layout`` row's snapshot_id is
                       the block layout the range rows were built under
    _metrics/         free-form counter rows (name, value, stage, ts)

The metric names (postings_emitted, bytes_merged, terms_finalized) are
the north_star lineage contract; events_good/events_bad mirror the
reference's counters (core/Metrics.scala:40-45).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT_CONFIG, EngineConfig
from .shipping import ensure_shipped
from .operators import bm25, index_build
from .operators.docs import assign_doc_ids, badrows_from, stage_validated

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("turns", T.LongType()),
        T.StructField("postings_emitted", T.LongType()),
        T.StructField("bytes_merged", T.LongType()),
        T.StructField("terms_finalized", T.LongType()),
        T.StructField("started_ts", T.DoubleType()),
        T.StructField("finished_ts", T.DoubleType()),
        # identity of the input the stage consumed: Iceberg snapshot id
        # when the source is an Iceberg table, else a fingerprint of the
        # scan's file listing. Resume refuses to continue a build whose
        # input changed underneath it (SURVEY §1.4 resume key).
        T.StructField("snapshot_id", T.StringType()),
    ]
)


def resolve_table_dir(index_dir: str, name: str) -> str:
    """Physical dir for a logical table. ``blocks``/``termdict`` go
    through the manifest pointer when one exists (compaction swaps both
    with ONE small-file write instead of directory renames — the
    object-store-safe commit primitive). Writers that append into a
    possibly-compacted index (streaming) MUST resolve through this too:
    writing to the base ``blocks/`` dir after a compaction has retired
    it would make the new blocks invisible to readers and eligible for
    the next compaction's grace-period GC (ADVICE r3).

    ``documents``/``docstats``/``corpus``/``_deletes`` joined the
    resolved set when compaction learned to expunge delete-by-query
    tombstones: the doc store and corpus stats are rewritten into
    versioned dirs on expunge, and the tombstone dir itself is
    versioned so deletes issued AFTER an expunge never land in a dir
    already parked on the grace-GC retired list."""
    if name in ("blocks", "termdict", "documents", "docstats", "corpus", "_deletes"):
        man = os.path.join(index_dir, "_manifest.json")
        if os.path.exists(man):
            with open(man) as fh:
                m = json.load(fh)
            return os.path.join(index_dir, m.get(name, name))
    return os.path.join(index_dir, name)


def input_snapshot(df) -> str:
    """Stable identity of a DataFrame's source snapshot.

    For file-based scans (parquet/Iceberg data files) this is a sha256
    over the sorted input-file listing — any added/removed/rewritten
    file changes it. In-memory frames have no file identity and return
    'inmemory' (resume validation skips those).
    """
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return "inmemory"
    if not files:
        return "inmemory"
    return "files:" + hashlib.sha256("\n".join(files).encode()).hexdigest()[:24]

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("stage", T.StringType()),
        T.StructField("ts", T.DoubleType()),
    ]
)


@dataclass
class InvertedIndex:
    """Handle over a persisted index directory."""

    spark: SparkSession
    path: str
    cfg: EngineConfig

    def __post_init__(self) -> None:
        ensure_shipped(self.spark)

    def _resolve(self, name: str) -> str:
        return resolve_table_dir(self.path, name)

    def _t(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._resolve(name))

    @property
    def documents(self) -> DataFrame:
        return self._t("documents")

    @property
    def blocks(self) -> DataFrame:
        return self._t("blocks")

    @property
    def termdict(self) -> DataFrame:
        return self._t("termdict")

    @property
    def docstats(self) -> DataFrame:
        """(doc_id, doclen): a pruned projection of the doc store when
        doclen is materialized there (parquet column pruning makes this
        as cheap as a dedicated table), else the legacy docstats dir."""
        docs = self.documents
        if "doclen" in docs.columns:
            return docs.select("doc_id", "doclen")
        return self._t("docstats")

    def corpus(self) -> tuple[int, float]:
        target = self._resolve("corpus")
        if _is_local(target):
            import glob

            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(target, "*.parquet")))
            if files:
                t = pq.read_table(files[0]).to_pydict()
                return int(t["n_docs"][0]), float(t["avgdl"][0])
        row = self._t("corpus").collect()[0]
        return int(row["n_docs"]), float(row["avgdl"])

    def lookup_terms(
        self,
        terms: list[str],
        cols: tuple[str, ...] = ("term", "df", "term_bucket"),
    ) -> list[dict]:
        """Driver-side termdict lookup for a SMALL term list (query
        terms). Local index dirs skip Spark entirely: the termdict is a
        few parquet files, so a pyarrow read with a term-isin filter
        (row-group statistics prune term-sorted files tightly) answers
        in milliseconds where the Spark filter+collect costs a whole
        job's scheduling. Non-local paths keep the partition-pruned
        Spark scan — at true corpus scale the dictionary lives with the
        index, not on the driver."""
        target = self._resolve("termdict")
        if _is_local(target):
            try:
                import glob

                import pyarrow.compute as pc
                import pyarrow.dataset as pads

                files = sorted(
                    glob.glob(os.path.join(target, "**", "*.parquet"), recursive=True)
                )
                if files:
                    tbl = pads.dataset(files).to_table(
                        columns=list(cols), filter=pc.field("term").isin(terms)
                    )
                    return tbl.to_pylist()
            except Exception:
                pass
        rows = (
            self.termdict.filter(F.col("term").isin(terms)).select(*cols).collect()
        )
        return [r.asDict() for r in rows]

    @property
    def badrows(self) -> DataFrame:
        return self._t("_badrows")

    @property
    def checkpoints(self) -> DataFrame:
        return self._t("_checkpoints")

    @property
    def metrics(self) -> DataFrame:
        return self._t("_metrics")

    def deleted_ids(self) -> DataFrame | None:
        """Tombstoned doc ids from delete_by_query (``_deletes``
        pointer, manifest-resolved), or None when the index has none —
        the None fast path keeps tombstone-free reads plan-identical
        to an index that never saw a delete."""
        d = self._resolve("_deletes")
        if _is_local(d):
            import glob

            if not glob.glob(os.path.join(d, "*.parquet")) and not glob.glob(
                os.path.join(d, "*", "*.parquet")
            ):
                return None
            return self.spark.read.parquet(d)
        try:
            return self.spark.read.parquet(d)
        except Exception:
            return None

    def has_tombstones(self) -> bool:
        return self.deleted_ids() is not None

    def live_documents(self) -> DataFrame:
        """Doc store minus tombstones — the fetch-phase surface. Like
        Lucene, the stored rows of deleted docs remain on disk until a
        merge (compact_index) expunges them."""
        docs = self.documents
        dels = self.deleted_ids()
        if dels is not None:
            docs = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
        return docs

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        """Decoded logical postings view (M2 invariant surface), with
        delete-by-query tombstones applied (ES semantics: deleted docs
        leave search results immediately, even though their postings
        stay physically present until the next merge).

        ``terms`` restricts the view to those terms' postings. The
        filter is on the blocks scan, before the decode UDF, which Spark
        cannot push a predicate through, so only those terms' blocks are
        read and decoded. It reads blocks, not the termdict: a streamed
        index's termdict lags its blocks until finalize."""
        blocks = self.blocks
        if terms is not None:
            blocks = blocks.filter(F.col("term").isin(list(terms)))
        decoded = index_build.decode_blocks(blocks)
        dels = self.deleted_ids()
        if dels is not None:
            decoded = decoded.join(dels.select("doc_id"), "doc_id", "left_anti")
        return decoded


def _is_local(path: str) -> bool:
    """True only when ``path`` resolves to the LOCAL filesystem.

    A scheme-less path is local only if the cluster's default Hadoop
    filesystem is file:// — on an HDFS-default cluster '/x' is remote,
    and taking the pyarrow fast path there would write checkpoints to
    the driver's local disk while Spark reads the default FS (resume
    and dedup guarantees would silently vanish)."""
    if path.startswith("file:"):
        return True
    if "://" in path:
        return False
    fs = os.environ.get("SPARK_GRAFT_DEFAULT_FS")
    if fs is None:
        try:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            fs = (
                spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
                if spark is not None
                else "file:///"
            )
        except Exception:
            fs = "file:///"
    return fs.startswith("file:")


def _pa_schema(schema: T.StructType):
    import pyarrow as pa

    m = {"string": pa.string(), "bigint": pa.int64(), "double": pa.float64(), "int": pa.int32()}
    return pa.schema([(f.name, m[f.dataType.simpleString()]) for f in schema.fields])


def _append(spark: SparkSession, path: str, rows: list, schema: T.StructType) -> None:
    """Append a handful of control rows (checkpoints/metrics).

    These are O(1)-row tables, but a Spark write is a full job — serial
    driver time that caps build-throughput scaling (Amdahl). Local paths
    take a direct pyarrow write (microseconds, no job); remote paths
    fall back to the Spark writer. Spark reads the resulting directory
    identically either way.
    """
    if _is_local(path):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
        table = pa.Table.from_pydict(cols, schema=_pa_schema(schema))
        pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))
    else:
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode("append").parquet(path)


def _write_corpus(spark: SparkSession, target: str, n_docs: int, avgdl: float) -> None:
    """Overwrite the singleton corpus-stats table at ``target`` (same
    fast path)."""
    schema = T.StructType(
        [T.StructField("n_docs", T.LongType()), T.StructField("avgdl", T.DoubleType())]
    )
    if _is_local(target):
        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(target, exist_ok=True)
        table = pa.Table.from_pydict(
            {"n_docs": [int(n_docs)], "avgdl": [float(avgdl)]}, schema=_pa_schema(schema)
        )
        pq.write_table(table, os.path.join(target, "part-00000.parquet"))
    else:
        spark.createDataFrame([(int(n_docs), float(avgdl))], schema=schema).coalesce(
            1
        ).write.mode("overwrite").parquet(target)


def _done_checkpoints(spark: SparkSession, path: str, stage: str) -> dict[int, str | None]:
    """partition_id -> snapshot_id of the ``done`` checkpoint rows of
    ``stage``."""
    cp = os.path.join(path, "_checkpoints")
    cols = ["stage", "partition_id", "status", "snapshot_id"]
    if _is_local(cp):
        import glob

        import pyarrow.parquet as pq

        out: dict[int, str | None] = {}
        for f in glob.glob(os.path.join(cp, "*.parquet")):
            t = pq.read_table(f, columns=cols).to_pydict()
            out.update(
                (int(p), snap)
                for s, p, st, snap in zip(*(t[c] for c in cols))
                if s == stage and st == "done"
            )
        return out
    try:
        df = spark.read.parquet(cp)
    except Exception:
        return {}
    rows = df.filter((F.col("stage") == stage) & (F.col("status") == "done")).select(
        "partition_id", "snapshot_id"
    ).collect()
    return {int(r["partition_id"]): r["snapshot_id"] for r in rows}


def _done_partitions(spark: SparkSession, path: str, stage: str) -> set[int]:
    return set(_done_checkpoints(spark, path, stage))


def _sized_cfg(cfg: EngineConfig, n_docs: int) -> EngineConfig:
    """``cfg`` with ``docs_per_range`` set to the width a build of
    ``n_docs`` docs uses (``IndexConfig.effective_docs_per_range``)."""
    dpr = cfg.index.effective_docs_per_range(n_docs)
    return replace(cfg, index=replace(cfg.index, docs_per_range=dpr))


def build_blocks_only(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> InvertedIndex:
    """Index a table that ALREADY has (doc_id, text) — no doc-prep stage
    (used when the doc store exists, e.g. the driver's `documents`)."""
    ensure_shipped(spark)
    cfg.validate()
    from .functions.analyze import tokens_col

    obs = Observation("docs")
    docs.select(
        "doc_id", "text", F.size(tokens_col("text")).alias("doclen")
    ).observe(
        obs, F.count(F.lit(1)).alias("n_docs"), F.sum("doclen").alias("sum_dl")
    ).write.mode("overwrite").parquet(os.path.join(path, "documents"))
    idx = InvertedIndex(spark, path, cfg)
    n_docs = int(obs.get["n_docs"])
    avgdl = float(obs.get["sum_dl"]) / float(n_docs) if n_docs else 0.0
    _write_corpus(spark, resolve_table_dir(path, "corpus"), n_docs, avgdl)
    cfg_b = _sized_cfg(cfg, n_docs)
    index_build.build_blocks_df(
        idx.documents, avgdl, cfg_b,
        num_ranges=(max(n_docs - 1, 0) // cfg_b.index.docs_per_range) + 1,
    ).write.mode("overwrite").partitionBy("term_bucket", "range_id").parquet(
        os.path.join(path, "blocks")
    )
    index_build.termdict_from_blocks(idx.blocks).write.mode("overwrite").parquet(
        os.path.join(path, "termdict")
    )
    return idx


def delete_by_query(idx: InvertedIndex, terms: list[str]) -> int:
    """ES ``_delete_by_query`` parity (term query) with Lucene
    tombstone semantics: docs containing ANY of ``terms`` stop
    matching searches immediately, but their postings, stored rows,
    and the index-wide statistics (df, N, avgdl) remain physically
    unchanged until the next merge — ``compact_index`` is the merge
    and expunges them.

    Matching is term-pushed: only the queried terms' postings are
    decoded (tombstones already present are filtered by ``postings()``
    first, so re-issuing the same delete appends nothing and the op is
    idempotent). Tombstones are appended under the manifest-resolved
    ``_deletes`` pointer — versioned on expunge so late deletes never
    land in a dir parked for grace-period GC.

    Serving-session note: ``QueryEngine`` refuses an index with live
    tombstones (it scans raw blocks for latency and would resurface
    deleted docs); run ``compact_index`` before re-opening a serving
    session, exactly like an ES force-merge after a bulk delete.

    Returns the number of NEWLY deleted docs."""
    spark = idx.spark
    matched = idx.postings(terms).select("doc_id").distinct()
    obs = Observation("deletes")
    target = resolve_table_dir(idx.path, "_deletes")
    matched.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
        target
    )
    n = int(obs.get["n"])
    _append(
        spark,
        os.path.join(idx.path, "_metrics"),
        [("docs_deleted", n, "delete_by_query", time.time())],
        METRICS_SCHEMA,
    )
    return n


def compact_index(
    idx: InvertedIndex,
    cfg: EngineConfig | None = None,
    gc_grace_sec: float = 300.0,
) -> InvertedIndex:
    """Segment compaction (Lucene merge analog): rebuild the blocks from
    the live doc store under the (possibly larger) ``docs_per_range`` of
    ``cfg``, through the same SPIMI range builder as the batch build,
    and swap the blocks + termdict tables.

    A streamed index must have every segment committed first: a
    ``batch_seg`` doc partition without its ``stream_batch`` checkpoint
    (a micro-batch that crashed after its documents write) raises
    ``ValueError``; replay that batch, then compact.

    The swap is rename-free (object-store/HDFS-safe): new blocks AND the
    termdict built FOR THEM are written to fresh versioned dirs
    (``blocks_v<N>``, ``termdict_v<N>``); one small manifest-file write
    then flips both pointers together — a crash at any point leaves a
    consistent (old, old) or (new, new) pair, never a termdict whose
    bucket layout disagrees with the live blocks.

    Superseded dirs are NOT deleted at flip time: a concurrent reader
    still scanning under the old manifest would hit FileNotFound
    mid-scan. They are parked on the manifest's ``retired`` list with a
    timestamp and physically removed only by a later compaction once
    they've been retired for ``gc_grace_sec`` (the Iceberg
    snapshot-expiry analog: flip now, expire later).

    When the index carries delete-by-query tombstones, compaction is
    also the merge that EXPUNGES them (Lucene semantics): the rebuilt
    blocks/termdict contain only live postings (they are built from
    ``idx.live_documents()``), the doc store (and streamed docstats)
    are rewritten live-only into versioned dirs, corpus stats are
    restated over the live docs, and the tombstone dir itself is
    retired — all behind the same single manifest flip, so a crash at
    any point still leaves a consistent index.
    """
    cfg = (cfg or idx.cfg).validate()
    spark = idx.spark
    ensure_shipped(spark)
    t0 = time.time()
    docs = idx.documents
    if "batch_seg" in docs.columns:
        segs = {int(r[0]) for r in docs.select("batch_seg").distinct().collect()}
        pending = sorted(segs - _done_partitions(spark, idx.path, "stream_batch"))
        if pending:
            raise ValueError(
                f"compaction refused: stream batch(es) {pending} wrote documents "
                "but have no stream_batch checkpoint; replay that batch, then compact"
            )
    n_docs_c, avgdl = idx.corpus()
    man_path = os.path.join(idx.path, "_manifest.json")
    cur = {"blocks": "blocks", "termdict": "termdict", "version": 0}
    if os.path.exists(man_path):
        with open(man_path) as fh:
            cur = json.load(fh)
    v = int(cur.get("version", 0)) + 1
    new_blocks, new_td = f"blocks_v{v}", f"termdict_v{v}"
    expunging = idx.has_tombstones()
    # same adaptive width as the batch build: a compacted small corpus
    # regains one-task-per-range parallelism instead of collapsing to
    # a handful of tasks under the fixed 10^12-scale width
    cfg_c = _sized_cfg(cfg, n_docs_c)
    # tombstone-filtered docs: the merge drops deletes. No num_ranges:
    # streamed doc ids are sparse (each batch starts at a range boundary)
    index_build.build_blocks_df(idx.live_documents(), avgdl, cfg_c).write.mode(
        "overwrite"
    ).partitionBy("term_bucket", "range_id").parquet(os.path.join(idx.path, new_blocks))
    staged = spark.read.parquet(os.path.join(idx.path, new_blocks))
    index_build.termdict_from_blocks(staged).write.mode("overwrite").parquet(
        os.path.join(idx.path, new_td)
    )
    new_ptrs = {"blocks": new_blocks, "termdict": new_td}
    extra_retired: list[str] = []
    if expunging:
        live = idx.live_documents()
        part_cols = [c for c in ("batch_seg", "shard_date") if c in live.columns]
        new_docs = f"documents_v{v}"
        wr = live.write.mode("overwrite")
        if part_cols:
            wr = wr.partitionBy(*part_cols)
        wr.parquet(os.path.join(idx.path, new_docs))
        new_ptrs["documents"] = new_docs
        extra_retired.append(cur.get("documents", "documents"))
        # streamed layout keeps a dedicated docstats dir; rewrite live
        ds_dir = resolve_table_dir(idx.path, "docstats")
        if (_is_local(ds_dir) and os.path.isdir(ds_dir)) or not _is_local(ds_dir):
            try:
                ds = spark.read.parquet(ds_dir)
            except Exception:
                ds = None
            if ds is not None:
                dels = idx.deleted_ids()
                live_ds = ds.join(dels.select("doc_id"), "doc_id", "left_anti")
                new_dstats = f"docstats_v{v}"
                wds = live_ds.write.mode("overwrite")
                if "batch_seg" in ds.columns:
                    wds = wds.partitionBy("batch_seg")
                wds.parquet(os.path.join(idx.path, new_dstats))
                new_ptrs["docstats"] = new_dstats
                extra_retired.append(cur.get("docstats", "docstats"))
        # corpus stats restated over live docs (ES: N/avgdl shrink at
        # merge); doclen comes from docstats — the streamed doc store
        # does not materialize it
        live_stats = idx.docstats.join(
            idx.deleted_ids().select("doc_id"), "doc_id", "left_anti"
        )
        new_corpus = f"corpus_v{v}"
        _write_corpus(
            spark, os.path.join(idx.path, new_corpus), *bm25.corpus_stats(live_stats)
        )
        new_ptrs["corpus"] = new_corpus
        extra_retired.append(cur.get("corpus", "corpus"))
        # version the tombstone pointer: the retired dir stays readable
        # through the grace window; NEW deletes go to the fresh pointer
        new_ptrs["_deletes"] = f"_deletes_v{v}"
        extra_retired.append(cur.get("_deletes", "_deletes"))
    # streamed indexes track the committed max range id in the control
    # file (the next micro-batch's collision guard: its segment's range
    # ids must start above every live one). The new blocks may be split
    # under a narrower adaptive width, so raise the guard to cover them
    # BEFORE the flip. A guard higher than needed only leaves a doc-id
    # gap; a stale lower one would let the next batch's dynamic
    # overwrite replace live compacted ranges, so errors propagate.
    state_file = os.path.join(idx.path, "_stream_state.json")
    if os.path.exists(state_file):
        from .streaming.stream_build import _write_state

        new_max = staged.agg(F.max("range_id")).collect()[0][0]
        with open(state_file) as fh:
            st = json.load(fh)
        for side in ("before", "after"):
            if side in st:
                st[side]["max_rid"] = max(
                    int(st[side].get("max_rid", -1)),
                    -1 if new_max is None else int(new_max),
                )
        _write_state(idx.path, st)
    # pointer flip: single-file replace — the local-FS analog of an
    # atomic object PUT; no directory rename anywhere in the commit path
    now = time.time()
    retired = list(cur.get("retired", []))
    retired.append(
        {
            "dirs": [cur.get("blocks", "blocks"), cur.get("termdict", "termdict")]
            + extra_retired,
            "ts": now,
        }
    )
    # expire only entries past the reader grace window; keep the rest
    expired = [e for e in retired if now - float(e.get("ts", now)) >= gc_grace_sec]
    retired = [e for e in retired if now - float(e.get("ts", now)) < gc_grace_sec]
    manifest = {k: cur.get(k, k) for k in ("documents", "docstats", "corpus", "_deletes") if k in cur}
    manifest.update(new_ptrs)
    manifest.update({"version": v, "retired": retired})
    tmp = man_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, man_path)
    for e in expired:
        for name in e.get("dirs", []):
            if name:
                shutil.rmtree(os.path.join(idx.path, name), ignore_errors=True)
    out = InvertedIndex(spark, idx.path, cfg)
    _append(
        spark,
        os.path.join(idx.path, "_checkpoints"),
        [("compact", v, "done", 0, 0, 0, 0, t0, time.time(), f"manifest:v{v}")],
        CHECKPOINT_SCHEMA,
    )
    return out


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    path: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    ranges_per_batch: int | None = None,
    fail_after_batches: int | None = None,
) -> InvertedIndex:
    """Build (or resume) the full index at ``path``.

    ``ranges_per_batch`` bounds how many doc ranges one committed batch
    covers (None = all remaining in one job). ``fail_after_batches`` is
    a test hook that aborts mid-build to exercise resume.
    """
    ensure_shipped(spark)
    cfg.validate()
    missing = {"conv_id", "turn_idx", "text"} - set(transcripts.columns)
    if missing:
        raise ValueError(
            f"build_index expects a transcripts table; missing columns {sorted(missing)}. "
            "For a table already keyed by (doc_id, text) use build_blocks_only."
        )
    docs_path = os.path.join(path, "documents")
    pending_metrics: list[tuple] = []
    # per-stage wall clocks (seconds, cumulative per label) — persisted
    # to _metrics as stage_ms:<label> and exposed on the returned index
    # as .build_stage_sec so the bench can attribute scaling loss to a
    # specific stage instead of guessing (VERDICT r02 task #1)
    stage_sec: dict[str, float] = {}
    _last = time.time()

    def mark(label: str) -> None:
        nonlocal _last
        now = time.time()
        stage_sec[label] = stage_sec.get(label, 0.0) + (now - _last)
        _last = now

    # ---- resume identity: refuse to resume against a changed input ----
    snap = input_snapshot(transcripts)
    docs_cp = _done_checkpoints(spark, path, "documents")
    docs_done = 0 in docs_cp
    if docs_done:
        prev_snap = docs_cp[0]
        if (
            prev_snap
            and "inmemory" not in (prev_snap, snap)
            and prev_snap != snap
        ):
            raise ValueError(
                "resume rejected: input snapshot changed since the checkpointed "
                f"build ({prev_snap} -> {snap}); resume requires the original "
                "input, or build into a fresh path"
            )

    # ---- stage 0: document prep (good/bad split, dedup, doc ids) ----
    if not docs_done:
        t0 = time.time()
        mark("resume_check")
        # ONE tokenize pass: stage validated rows (+doclen, +_error) to
        # parquet; badrow routing, id assignment, the doc store, and doc
        # stats all derive from cheap columns of the staged table.
        staging = os.path.join(path, "_staging")
        obs_st = Observation("staging")
        stage_validated(transcripts, cfg).observe(
            obs_st, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(staging)
        n_staged = int(obs_st.get["n"])
        mark("staging_write")
        st = spark.read.parquet(staging)
        obs_bad = Observation("badrows")
        badrows_from(st, cfg).observe(obs_bad, F.count(F.lit(1)).alias("n_bad")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "_badrows"))
        mark("badrows_write")
        good = st.filter(F.col("_error").isNull()).drop("_error")
        # n_rows from the staging observation: saves a full count() job
        # (only drives the boundary-sample fraction, so the slight
        # overcount from bad rows is immaterial)
        with_ids = assign_doc_ids(good, dedup=True, n_rows=n_staged)
        mark("id_offsets")
        docs = with_ids.select(
            "doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts", "doclen",
            F.to_date(F.date_format("ts", cfg.shard_date_format)).alias("shard_date"),
        )
        # corpus stats ride the doc-store write job; docstats is a
        # pruned projection of documents (doclen is materialized there)
        obs = Observation("docstats")
        docs.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doclen").alias("sum_dl"),
        ).write.mode("overwrite").partitionBy("shard_date").parquet(docs_path)
        n_good = int(obs.get["n_docs"])
        avgdl = float(obs.get["sum_dl"]) / float(n_good) if n_good else 0.0
        mark("docstore_write")
        _write_corpus(spark, resolve_table_dir(path, "corpus"), n_good, avgdl)
        n_bad = int(obs_bad.get["n_bad"])
        pending_metrics.extend(
            [("events_good", n_good, "documents", time.time()),
             ("events_bad", n_bad, "documents", time.time())]
        )
        _append(
            spark,
            os.path.join(path, "_checkpoints"),
            [("documents", 0, "done", n_good, 0, 0, 0, t0, time.time(), snap)],
            CHECKPOINT_SCHEMA,
        )
        shutil.rmtree(staging, ignore_errors=True)
        mark("docprep_commit")

    idx = InvertedIndex(spark, path, cfg)
    n_docs, avgdl = idx.corpus()
    mark("corpus_read")

    # ---- stage 1: posting blocks per doc-range batch (resumable) ----
    # effective width: pure f(cfg, n_docs) — inert at 10^12 turns, but
    # on a small corpus it keeps the one-task-per-range stage from
    # quantizing into whole waves (see IndexConfig.min_build_ranges).
    # Resume re-derives the identical width from the persisted corpus
    # row, so checkpointed range ids stay consistent across runs under
    # the same config (the layout check below refuses any other).
    cfg_b = _sized_cfg(cfg, n_docs)
    dpr = cfg_b.index.docs_per_range
    all_ranges = list(range((max(n_docs - 1, 0) // dpr) + 1))
    done = _done_partitions(spark, path, "range_batch")
    # ---- resume identity: refuse to resume under a changed layout ----
    # range r is docs [r*dpr, (r+1)*dpr), so a range checkpointed under
    # one width is not the same range under another: resuming would
    # skip docs the done range never covered. The layout row records
    # what the done ranges mean (a new width rule, a changed
    # min_build_ranges, block_size or term_buckets all change it).
    layout = (
        f"dpr={dpr};block_size={cfg.index.block_size};"
        f"term_buckets={cfg.index.term_buckets};positions={cfg.index.store_positions}"
    )
    prev_layout = _done_checkpoints(spark, path, "layout").get(0)
    if (done and prev_layout is None) or prev_layout not in (None, layout):
        raise ValueError(
            "resume rejected: block layout changed since the checkpointed build "
            f"({prev_layout or 'unrecorded'} -> {layout}); resume requires the "
            "original index config, or build into a fresh path"
        )
    if prev_layout is None:
        now = time.time()
        _append(
            spark,
            os.path.join(path, "_checkpoints"),
            [("layout", 0, "done", 0, 0, 0, 0, now, now, layout)],
            CHECKPOINT_SCHEMA,
        )
    todo = [r for r in all_ranges if r not in done]
    if ranges_per_batch is None:
        ranges_per_batch = len(todo) or 1
    batches = [
        todo[i : i + ranges_per_batch] for i in range(0, len(todo), ranges_per_batch)
    ]
    blocks_path = os.path.join(path, "blocks")
    for bi, batch in enumerate(batches):
        if fail_after_batches is not None and bi >= fail_after_batches:
            raise RuntimeError(f"injected failure before batch {bi} (test hook)")
        t0 = time.time()
        lo = min(batch) * dpr
        hi = (max(batch) + 1) * dpr
        docs_batch = idx.documents.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        obs = Observation(f"blocks_{bi}")
        blocks = index_build.build_blocks_df(
            docs_batch, avgdl, cfg_b, num_ranges=len(batch)
        ).observe(
            obs,
            F.coalesce(F.sum("doc_count"), F.lit(0)).alias("postings"),
            F.coalesce(
                F.sum(
                    F.octet_length("docs_varint")
                    + F.octet_length("tfs_varint")
                    + F.octet_length("dls_varint")
                ),
                F.lit(0),
            ).alias("bytes"),
            # exact term count lands at finalize; the per-batch lineage
            # metric is approximate (Observation forbids distinct aggs)
            F.approx_count_distinct("term").alias("terms"),
        )
        # idempotent per-partition commit: dynamic overwrite replaces only
        # the (term_bucket, range_id) partitions this batch produced.
        # Dynamic staging costs a serial driver move per partition dir,
        # so a fresh single-batch build (nothing to preserve) uses the
        # static committer (v2: task-side moves, fully parallel).
        dynamic = bool(done) or len(batches) > 1
        mark("blocks_plan")
        blocks.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        ).partitionBy("term_bucket", "range_id").parquet(blocks_path)
        stats = obs.get
        mark("blocks_write")
        rows = [
            (
                "range_batch",
                int(r),
                "done",
                0,
                int(stats["postings"]),
                int(stats["bytes"]),
                int(stats["terms"]),
                t0,
                time.time(),
                snap,
            )
            for r in batch
        ]
        _append(spark, os.path.join(path, "_checkpoints"), rows, CHECKPOINT_SCHEMA)
        # lineage metrics ride the checkpoint rows (authoritative:
        # postings_emitted / bytes_merged / terms_finalized columns);
        # the _metrics mirror is batched into one write at finalize
        pending_metrics.extend(
            [
                ("postings_emitted", int(stats["postings"]), f"range_batch[{bi}]", time.time()),
                ("bytes_merged", int(stats["bytes"]), f"range_batch[{bi}]", time.time()),
                ("terms_finalized", int(stats["terms"]), f"range_batch[{bi}]", time.time()),
            ]
        )

    # ---- stage 2: finalize termdict ----
    if 0 not in _done_partitions(spark, path, "finalize"):
        t0 = time.time()
        mark("cp_scan")
        obs = Observation("termdict")
        td = index_build.termdict_from_blocks(idx.blocks).observe(
            obs, F.count(F.lit(1)).alias("n_terms")
        )
        td.write.mode("overwrite").parquet(os.path.join(path, "termdict"))
        n_terms = int(obs.get["n_terms"])
        mark("termdict_write")
        pending_metrics.append(("terms_finalized", n_terms, "finalize", time.time()))
        _append(
            spark,
            os.path.join(path, "_checkpoints"),
            [("finalize", 0, "done", 0, 0, 0, n_terms, t0, time.time(), snap)],
            CHECKPOINT_SCHEMA,
        )
    pending_metrics.extend(
        (f"stage_ms:{k}", int(v * 1000), "build_profile", time.time())
        for k, v in stage_sec.items()
    )
    pending_metrics.extend(
        [("build_ranges", len(all_ranges), "build_profile", time.time()),
         ("docs_per_range_effective", dpr, "build_profile", time.time())]
    )
    _append(spark, os.path.join(path, "_metrics"), pending_metrics, METRICS_SCHEMA)
    idx.build_stage_sec = {k: round(v, 2) for k, v in stage_sec.items()}
    idx.build_ranges = len(all_ranges)
    idx.docs_per_range_effective = dpr
    return idx
