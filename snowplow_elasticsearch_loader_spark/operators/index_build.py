"""Physical inverted-index construction: SPIMI build into delta-gap +
varint posting blocks with per-block max-score metadata (SURVEY M2,
north_star).

Reference parity map:
- the ES bulk-index write path (core/ElasticsearchSink.scala:72-107)
  becomes ``applyInPandas`` groups emitting compressed block rows, then
  a partitioned parquet/Iceberg write;
- the 10MB/1s batch-up flush (core/Processing.scala:80,274-298) becomes
  the SPIMI run cap ``max_run_postings`` — a group's postings are
  sorted in memory-bounded runs, then k-way merged;
- date-sharded index routing (core/Processing.scala:162-171) becomes
  the on-disk partition columns ``(term_bucket, range_id)`` that the
  query side prunes on.

Skew strategy (north_rule: "partitioning / shuffle / skew handled
explicitly"): every posting gets ``range_id = doc_id // docs_per_range``
— a Lucene-segment-style doc-range split. The build group key is
``(term_bucket, range_id)``, so a hot term occurring in 50% of all
docs contributes at most ``docs_per_range`` postings to any one group:
group size is bounded by construction, independently of term skew, and
— because the key derives from doc_id, not from partition placement —
the produced blocks are byte-identical at any parallelism level
(local[8] vs local[32] index-equality test).

A term's global posting order is recovered without any further shuffle:
ranges are disjoint, ordered doc-id intervals, so
``block_id = range_id * max_blocks_per_range + local_block`` is
monotone in doc_id across the whole term.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
from ..functions.analyze import tokens_col
from .bm25 import contrib_np

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("term_bucket", T.IntegerType()),
        T.StructField("range_id", T.LongType()),
        T.StructField("block_id", T.LongType()),
        T.StructField("doc_count", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("max_score_partial", T.DoubleType()),
        # avgdl-independent block-max stats: the query-time upper bound
        # is computed from (max_tf, min_dl) with the CURRENT corpus
        # avgdl, so streamed/merged blocks never carry a stale bound
        # (partial score is increasing in tf, decreasing in dl, hence
        # partial(max_tf, min_dl) >= max over the block for any avgdl).
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        # the posting streams, in the byte format ``functions/codec.py``
        # owns; positions (token index in the doc's analyzed sequence)
        # power match_phrase without any corpus rescan
        T.StructField("docs_varint", T.BinaryType()),
        T.StructField("tfs_varint", T.BinaryType()),
        T.StructField("dls_varint", T.BinaryType()),
        T.StructField("pos_varint", T.BinaryType()),
    ]
)


def term_bucket_col(term, buckets: int):
    """Deterministic on-disk bucket for a term (query-side pruning)."""
    c = F.col(term) if isinstance(term, str) else term
    return F.pmod(F.crc32(c.cast("binary")), F.lit(buckets)).cast("int")


def postings_with_doclen(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, doclen) in ONE shuffle: doclen rides along the
    explode so no big-big join against docstats is needed. A stored
    doclen column (from the staged doc store) is reused instead of
    re-counting tokens."""
    if "doclen" in docs.columns:
        tok = docs.select("doc_id", "doclen", tokens_col("text").alias("tokens"))
    else:
        tok = docs.select(
            "doc_id", tokens_col("text").alias("tokens")
        ).withColumn("doclen", F.size("tokens"))
    return (
        tok.select("doc_id", "doclen", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"), F.first("doclen").alias("doclen"))
    )


def _term_codes(terms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes, sorted_unique_terms): integer term codes whose numeric
    order IS lexicographic term order.

    The SPIMI sort used to lexsort the full object-string term column —
    the single hottest Python cost in the build (string comparisons for
    millions of postings). Factorizing first (O(n) hash) and string-
    sorting only the UNIQUE terms (vocab-sized, thousands not millions)
    makes every subsequent sort a pure int lexsort, while keeping the
    output byte-identical to the string-sorted original at any
    parallelism level (codes are rank-remapped to sorted order)."""
    raw, uniques = pd.factorize(terms, sort=False)
    uniques = np.asarray(uniques, dtype=object)
    order_u = np.argsort(uniques)
    rank = np.empty(order_u.size, dtype=np.int64)
    rank[order_u] = np.arange(order_u.size)
    return rank[raw], uniques[order_u]


def _sort_runs(
    code: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    cap: int,
    extra: dict[str, np.ndarray] | None = None,
) -> list[dict[str, np.ndarray]]:
    """SPIMI phase 1: memory-capped sorted runs (flush analog of the
    reference's maxBytes batch-up, core/Processing.scala:274-298).
    ``extra`` columns (e.g. token position) ride along; when a ``pos``
    column is present it participates in the sort so positions stay
    ascending within each (term, doc) posting."""
    extra = extra or {}
    runs = []
    for start in range(0, len(code), cap):
        sl = slice(start, start + cap)
        keys = (doc[sl], code[sl]) if "pos" not in extra else (
            extra["pos"][sl], doc[sl], code[sl]
        )
        order = np.lexsort(keys)
        run = {
            "code": code[sl][order],
            "doc_id": doc[sl][order],
            "tf": tf[sl][order],
            "doclen": dl[sl][order],
        }
        for k, v in extra.items():
            run[k] = v[sl][order]
        runs.append(run)
    return runs


def _merge_runs(runs: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    """SPIMI phase 2: k-way merge of sorted runs (vectorized: the merge
    of k sorted runs is realized as one lexsort over their
    concatenation — same output order as a heap merge, no per-row
    Python)."""
    if len(runs) == 1:
        return runs[0]
    cat = {k: np.concatenate([r[k] for r in runs]) for k in runs[0]}
    keys = (cat["doc_id"], cat["code"]) if "pos" not in cat else (
        cat["pos"], cat["doc_id"], cat["code"]
    )
    order = np.lexsort(keys)
    return {k: v[order] for k, v in cat.items()}


def _emit_blocks(
    code: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    uniq_terms: np.ndarray,
    bucket_by_code: np.ndarray,
    range_id: int,
    cfg: EngineConfig,
    avgdl: float,
    pos_full: np.ndarray | None = None,
) -> pd.DataFrame:
    """Shared block-emission core: (code, doc)-sorted posting arrays ->
    compressed block rows. Fully vectorized: reduceat segmentation and
    block-max stats here, the byte streams from ``codec.pack_blocks``.

    ``pos_full``: optional flat position stream aligned with the input
    rows BEFORE duplicate collapse (each input row carries exactly its
    share of positions in ascending order, so after collapse the i-th
    posting's positions are pos_full[cum_tf[i] : cum_tf[i+1]])."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    block_size = cfg.index.block_size
    max_blocks_per_range = cfg.index.docs_per_range  # safe upper bound
    doc = doc.astype(np.uint64)
    tf = tf.astype(np.uint64)
    dl = dl.astype(np.uint64)
    n = len(code)
    # collapse duplicate (term, doc) runs -> summed tf
    if n > 1:
        same = (code[1:] == code[:-1]) & (doc[1:] == doc[:-1])
        if same.any():
            starts = np.flatnonzero(np.concatenate(([True], ~same)))
            tf = np.add.reduceat(tf, starts)
            code, doc, dl = code[starts], doc[starts], dl[starts]
            n = len(code)

    # per-term segmentation (sorted, so boundaries are != shifts)
    new_term = np.concatenate(([True], code[1:] != code[:-1]))
    term_start = np.flatnonzero(new_term)
    seg_len = np.diff(np.concatenate((term_start, [n])))
    rank_in_term = np.arange(n) - np.repeat(term_start, seg_len)
    local_block = rank_in_term // block_size
    is_block_start = new_term | (rank_in_term % block_size == 0)
    bstart = np.flatnonzero(is_block_start)
    bend = np.concatenate((bstart[1:], [n]))

    # per-block max partial score: the contribution at weight 1.0
    # (1.0 * x / y is bit-equal to x / y)
    partial = contrib_np(1.0, tf.astype(np.float64), dl.astype(np.float64), avgdl, k1, b)
    max_partial = np.maximum.reduceat(partial, bstart)
    max_tf_b = np.maximum.reduceat(tf, bstart).astype(np.int64)
    min_dl_b = np.minimum.reduceat(dl, bstart).astype(np.int64)

    docs_b, tfs_b, dls_b, pos_b = codec.pack_blocks(doc, tf, dl, bstart, pos_full)
    return pd.DataFrame(
        {
            "term": uniq_terms[code[bstart]],
            "term_bucket": bucket_by_code[code[bstart]].astype(np.int32),
            "range_id": np.full(bstart.size, range_id, dtype=np.int64),
            "block_id": range_id * max_blocks_per_range
            + local_block[bstart].astype(np.int64),
            "doc_count": (bend - bstart).astype(np.int32),
            "first_doc": doc[bstart].astype(np.int64),
            "last_doc": doc[bend - 1].astype(np.int64),
            "max_score_partial": max_partial,
            "max_tf": max_tf_b.astype(np.int32),
            "min_dl": min_dl_b.astype(np.int32),
            "docs_varint": docs_b,
            "tfs_varint": tfs_b,
            "dls_varint": dls_b,
            "pos_varint": pos_b,
        }
    )


def _crc_buckets(uniq_terms: np.ndarray, buckets: int) -> np.ndarray:
    """term_bucket per unique term — zlib.crc32 over UTF-8 bytes, the
    exact value Spark's crc32(cast(term AS binary)) computes, so blocks
    built python-side land in the same partitions the JVM query side
    prunes on (term_bucket_col)."""
    import zlib

    return np.array(
        [zlib.crc32(t.encode("utf-8")) % buckets for t in uniq_terms], dtype=np.int64
    )


def make_block_builder(cfg: EngineConfig, avgdl: float):
    """(term_bucket, range_id)-grouped posting rows -> block rows (the
    compaction/rebuild path, where input is already aggregated postings,
    optionally with a ``positions`` list column to preserve)."""

    def build_blocks(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..session import ensure_worker_arena

        ensure_worker_arena()  # once per worker: batch the heap faults
        term_bucket, range_id = int(key[0]), int(key[1])
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in BLOCKS_SCHEMA.fields])
        if "tf" in pdf.columns:
            tf_in = pdf["tf"].to_numpy(np.int64)
        else:
            tf_in = np.ones(len(pdf), dtype=np.int64)
        code_in, uniq_terms = _term_codes(pdf["term"].to_numpy())
        has_pos = cfg.index.store_positions and "positions" in pdf.columns
        extra = {"plist": pdf["positions"].to_numpy()} if has_pos else None
        merged = _merge_runs(
            _sort_runs(
                code_in,
                pdf["doc_id"].to_numpy(np.int64),
                tf_in,
                pdf["doclen"].to_numpy(np.int64),
                cfg.index.max_run_postings,
                extra=extra,
            )
        )
        pos_full = None
        if has_pos:
            lists = [np.asarray(x, dtype=np.int64) for x in merged["plist"]]
            pos_full = np.concatenate(lists) if lists else np.empty(0, dtype=np.int64)
            if pos_full.size and pos_full.size != int(merged["tf"].sum()):
                raise ValueError("positions/tf mismatch in rebuild input")
        bucket_by_code = np.full(len(uniq_terms), term_bucket, dtype=np.int64)
        return _emit_blocks(
            merged["code"], merged["doc_id"], merged["tf"], merged["doclen"],
            uniq_terms, bucket_by_code, range_id, cfg, avgdl, pos_full=pos_full,
        )

    return build_blocks


def make_range_builder(cfg: EngineConfig, avgdl: float):
    """range_id-grouped DOCUMENT rows -> all of the range's block rows.

    True SPIMI (north_star: "per-partition SPIMI-style in-memory
    posting-list construction"): the ONLY shuffle moves the doc store
    (doc_id, text — corpus-sized bytes), not exploded token instances
    (~8-10x more rows and bytes). Tokenization, posting sort, tf
    aggregation, and block encoding all happen inside one Arrow group:

    - tokenize_series: the pandas twin of the JVM tokenizer contract
      (property-tested equal — analyze.py);
    - postings flattened via np.repeat (no per-token Python);
    - term codes factorized, string-sorting only the range's vocab;
    - term_bucket from zlib.crc32 == JVM crc32 (query-side pruning).

    Group size is bounded by construction: docs_per_range docs, so a
    hot term never concentrates work, and memory is capped by the
    range width regardless of corpus size.
    """
    from ..functions.analyze import tokenize_arrow

    def build_range(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..session import ensure_worker_arena

        ensure_worker_arena()  # once per worker: batch the heap faults
        range_id = int(key[0])
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in BLOCKS_SCHEMA.fields])
        # Arrow C++ tokenize: flat token array + owning-row index, no
        # per-token Python objects (input_hint "no per-row Python")
        row_of, tokens = tokenize_arrow(pdf["text"])
        lens = np.bincount(row_of, minlength=len(pdf)).astype(np.int64)
        doc = pdf["doc_id"].to_numpy(np.int64)[row_of]
        dl = lens[row_of]
        # token position within its doc: flat order is (row, position)
        row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos = np.arange(row_of.size, dtype=np.int64) - row_starts[row_of]
        # term codes via Arrow dictionary_encode (C++ hash), rank-
        # remapped so numeric order == lexicographic term order; only
        # the range's VOCAB (not its postings) touches Python strings
        enc = tokens.dictionary_encode()
        codes_raw = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        vocab = np.asarray(enc.dictionary.to_pandas(), dtype=object)
        order_u = np.argsort(vocab)
        rank = np.empty(order_u.size, dtype=np.int64)
        rank[order_u] = np.arange(order_u.size)
        code_in = rank[codes_raw]
        uniq_terms = vocab[order_u]
        extra = {"pos": pos} if cfg.index.store_positions else None
        merged = _merge_runs(
            _sort_runs(
                code_in, doc, np.ones(doc.size, dtype=np.int64), dl,
                cfg.index.max_run_postings, extra=extra,
            )
        )
        bucket_by_code = _crc_buckets(uniq_terms, cfg.index.term_buckets)
        return _emit_blocks(
            merged["code"], merged["doc_id"], merged["tf"], merged["doclen"],
            uniq_terms, bucket_by_code, range_id, cfg, avgdl,
            pos_full=merged.get("pos"),
        )

    return build_range


def build_blocks_df(
    docs: DataFrame,
    avgdl: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
    num_ranges: int | None = None,
) -> DataFrame:
    """docs (with doc_id, text) -> compressed posting blocks DataFrame.

    ONE shuffle, and it moves the DOC STORE, not exploded postings:
    rows are grouped by range_id = doc_id // docs_per_range (a
    value-derived key, so the grouping is deterministic at any
    parallelism) and each range group runs the full SPIMI pass —
    tokenize, sort, tf-aggregate, delta+varint encode — inside one
    Arrow UDF (make_range_builder). Compared to shuffling token
    instances this cuts shuffle rows ~40x and shuffle bytes ~8x, which
    is what survives a 100 TB corpus; it also keeps tokenization in
    the fully-parallel group stage.

    ``num_ranges`` (callers that know it, e.g. build_index): the group
    shuffle becomes an EXPLICIT repartition to one-task-per-range
    granularity. Default shuffle partitioning packs ~n_ranges/partitions
    groups per task by hash, and the balls-in-bins maximum makes one
    straggler task span the stage (measured: the 8-core blocks stage at
    0.39-0.65 efficiency from a single ~2x straggler); one range per
    task bounds task size by docs_per_range alone, task COUNT grows
    with data (the property a 1000-executor cluster needs), and a
    user-specified repartition is exempt from AQE coalescing, so the
    granularity survives runtime replanning (r04 pair: blocks stage
    0.87 efficiency at one-per-range vs 0.39 packed)."""
    keyed = docs.select("doc_id", "text").withColumn(
        "range_id", (F.col("doc_id") / F.lit(cfg.index.docs_per_range)).cast("long")
    )
    if num_ranges and num_ranges > 1:
        keyed = keyed.repartition(int(num_ranges), "range_id")
    return keyed.groupBy("range_id").applyInPandas(
        make_range_builder(cfg, avgdl), schema=BLOCKS_SCHEMA
    )


def rebuild_blocks_from_postings(
    postings: DataFrame, avgdl: float, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(term, doc_id, tf, doclen) -> compressed blocks under cfg's
    layout. Used by segment compaction: decoded postings of many small
    doc ranges (streamed micro-batch segments) are re-grouped under a
    larger ``docs_per_range`` and k-way merged back into full blocks —
    the Lucene segment-merge analog."""
    keyed = postings.withColumn(
        "term_bucket", term_bucket_col("term", cfg.index.term_buckets)
    ).withColumn(
        "range_id", (F.col("doc_id") / F.lit(cfg.index.docs_per_range)).cast("long")
    )
    return keyed.groupBy("term_bucket", "range_id").applyInPandas(
        make_block_builder(cfg, avgdl), schema=BLOCKS_SCHEMA
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse mapping: blocks -> (term, doc_id, tf, doclen, positions)
    postings. The M2 invariant: (term, doc_id, tf, doclen) must equal
    the M1 relational postings; positions roundtrip is property-tested."""
    out_schema = T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("doclen", T.IntegerType()),
            T.StructField("positions", T.ArrayType(T.LongType())),
        ]
    )

    def decode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            cnt = pdf["doc_count"].to_numpy(np.int64)
            doc_id, tf, dl = codec.unpack_blocks(
                cnt, pdf["docs_varint"], pdf["tfs_varint"], pdf["dls_varint"]
            )
            pos_parts = [
                bytes(x) if x is not None else b""
                for x in pdf.get("pos_varint", [None] * len(pdf))
            ]
            # a block without positions (a non-positional index, or a
            # compaction reading segments built under different
            # configs) gives its postings zero positions each
            has_pos = np.repeat([bool(p) for p in pos_parts], cnt)
            plen = np.where(has_pos, tf, 0)
            poss = np.split(
                codec.unpack_positions(b"".join(pos_parts), plen), np.cumsum(plen)[:-1]
            )
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), cnt),
                    "doc_id": doc_id,
                    "tf": tf.astype(np.int32),
                    "doclen": dl.astype(np.int32),
                    "positions": poss,
                }
            )

    return blocks.mapInPandas(decode, schema=out_schema)


def termdict_from_blocks(blocks: DataFrame) -> DataFrame:
    """(term, term_bucket, df, block_count, max_block_score_partial)."""
    return blocks.groupBy("term").agg(
        F.first("term_bucket").alias("term_bucket"),
        F.sum("doc_count").alias("df"),
        F.count(F.lit(1)).alias("block_count"),
        F.max("max_score_partial").alias("max_score_partial"),
    )
