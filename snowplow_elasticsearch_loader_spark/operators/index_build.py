"""Physical inverted-index construction: SPIMI build into delta-gap +
varint posting blocks with per-block max-score metadata (SURVEY M2,
north_star).

Reference parity map:
- the ES bulk-index write path (core/ElasticsearchSink.scala:72-107)
  becomes ``applyInPandas`` groups emitting compressed block rows, then
  a partitioned parquet/Iceberg write;
- the 10MB/1s batch-up flush (core/Processing.scala:80,274-298) becomes
  the range width (``IndexConfig.effective_docs_per_range``): a group
  holds one doc range, tokenized and sorted in memory in one pass;
- date-sharded index routing (core/Processing.scala:162-171) becomes
  the on-disk partition columns ``(term_bucket, range_id)`` that the
  query side prunes on.

Skew strategy (north_rule: "partitioning / shuffle / skew handled
explicitly"): every posting gets ``range_id = doc_id // docs_per_range``
— a Lucene-segment-style doc-range split. The build group key is
``range_id``, so a hot term occurring in 50% of all
docs contributes at most ``docs_per_range`` postings to any one group:
group size is bounded by construction, independently of term skew, and
— because the key derives from doc_id, not from partition placement —
the produced blocks are byte-identical at any parallelism level
(local[8] vs local[32] index-equality test).

A term's global posting order is recovered without any further shuffle:
ranges are disjoint, ordered doc-id intervals, so
``block_id = range_id * max_blocks_per_range + local_block`` is
monotone in doc_id across the whole term.

There is one block builder (``make_range_builder``), and it reads the
doc store's text: the batch build, ``build_blocks_only``, every stream
micro-batch and segment compaction (``compact_index``, which rebuilds
from the live documents) all write blocks through it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import codec
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


def _emit_blocks(
    code: np.ndarray,
    doc: np.ndarray,
    dl: np.ndarray,
    pos: np.ndarray | None,
    uniq_terms: np.ndarray,
    range_id: int,
    cfg: EngineConfig,
    avgdl: float,
) -> pd.DataFrame:
    """Block-emission core: token occurrences sorted by (code, doc) ->
    compressed block rows. Fully vectorized: reduceat segmentation and
    block-max stats here, the byte streams from ``codec.pack_blocks``.

    ``pos``: optional position of each occurrence, ascending within
    each (term, doc) run, so after the collapse into postings the i-th
    posting's positions are pos[cum_tf[i] : cum_tf[i+1]]."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    block_size = cfg.index.block_size
    max_blocks_per_range = cfg.index.docs_per_range  # safe upper bound
    # each (term, doc) run of occurrences -> one posting, tf = run length
    starts = np.flatnonzero(
        (np.diff(code, prepend=-1) != 0) | (np.diff(doc, prepend=-1) != 0)
    )
    tf = np.diff(np.append(starts, code.size)).astype(np.uint64)
    code, doc, dl = code[starts], doc[starts].astype(np.uint64), dl[starts].astype(np.uint64)
    n = len(code)

    # per-term segmentation (sorted, so boundaries are != shifts)
    new_term = np.diff(code, prepend=-1) != 0
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

    docs_b, tfs_b, dls_b, pos_b = codec.pack_blocks(doc, tf, dl, bstart, pos)
    bucket_by_code = _crc_buckets(uniq_terms, cfg.index.term_buckets)
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
    prunes on."""
    import zlib

    return np.array(
        [zlib.crc32(t.encode("utf-8")) % buckets for t in uniq_terms], dtype=np.int64
    )


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

    Group size is bounded by construction: one range holds at most
    ``docs_per_range`` docs (the effective width the caller passes in
    ``cfg``), so a hot term never concentrates work, and memory is
    capped by the range width regardless of corpus size.
    """
    from ..functions.analyze import tokenize_arrow

    def build_range(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..session import ensure_worker_arena

        ensure_worker_arena()  # once per worker: batch the heap faults
        range_id = int(key[0])
        empty = pd.DataFrame(columns=[f.name for f in BLOCKS_SCHEMA.fields])
        if len(pdf) == 0:
            return empty
        # Arrow C++ tokenize: flat token array + owning-row index, no
        # per-token Python objects (input_hint "no per-row Python")
        row_of, tokens = tokenize_arrow(pdf["text"])
        if row_of.size == 0:  # every doc of the range is tokenless
            return empty
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
        # one sort of the whole group into (term, doc[, position])
        # order; lexsort's last key is the primary one
        positions = cfg.index.store_positions
        order = np.lexsort((pos, doc, code_in) if positions else (doc, code_in))
        return _emit_blocks(
            code_in[order], doc[order], dl[order], pos[order] if positions else None,
            uniq_terms, range_id, cfg, avgdl,
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
            # a block without positions (a non-positional index, or an
            # index whose segments were built under different configs)
            # gives its postings zero positions each
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
