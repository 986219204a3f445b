"""Document preparation: the reference's parse/transform/dead-letter
stage re-expressed relationally.

Reference dataflow being mirrored (SURVEY S3/S5/S11/S13, E3/E5/E6):

- good/bad split after transform — ``traverseSeparateUnordered`` at
  core/Processing.scala:103-105 becomes two complementary ``filter``s
  over one validated DataFrame (computed once, split lazily; Catalyst
  shares the scan).
- per-row rejection instead of batch failure — ES mapping errors
  (core/ElasticsearchSink.scala:35-39) become row-level invariant
  checks routed to ``_badrows`` with a payload echo (base64, like
  core/Processing.scala:206-207) and an error string.
- field-count limit (it/TestHelpers.scala:218; metric
  core/ElasticsearchSink.scala:162-164) becomes a token-count cap.
- doc-id idempotency — ES upsert by event_id
  (core/ElasticsearchSink.scala:92) becomes dedup on the natural key
  ``(conv_id, turn_idx)`` plus a **deterministic dense doc_id**.

Deterministic doc ids (SURVEY §7-hard #2): ``monotonically_increasing_id``
is partition-dependent, and a global ``row_number()`` window is a
single-partition bottleneck at 10^12 rows. We use a scalable two-pass
pattern with VALUE-derived buckets (see ``assign_doc_ids``): explicit
driver-collected range boundaries, per-bucket distinct-key counts ->
offsets, then a per-bucket windowed dense rank — identical output at
any parallelism level, no global shuffle to one task, all JVM-side.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..config import EngineConfig, DEFAULT_CONFIG
from ..functions.analyze import tokens_col

#: minimum rows per ranking bucket in ``assign_doc_ids``'s sampled
#: (non-footer) path — scale-adaptive parallelism (guide §2.2/§2.4):
#: inputs below ~20k rows/bucket never benefit from the 4x-cores bucket
#: fan-out and pay its per-task scheduling overhead instead. Ranks are
#: bucket-invariant, so this constant can never change output values.
_RANK_ROWS_PER_BUCKET = 20000

BADROW_SCHEMA = T.StructType(
    [
        T.StructField("payload_b64", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("doclen", T.IntegerType()),
        T.StructField("shard_date", T.DateType()),
    ]
)


class PreparedDocs(NamedTuple):
    docs: DataFrame
    badrows: DataFrame


def _error_col(cfg: EngineConfig, ntokens: Column | None = None) -> Column:
    """First failed invariant, or NULL when the row is indexable.

    Order mirrors the reference's taxonomy: parse error, then mapping
    (type) error, then limit error (core/ElasticsearchSink.scala:35-39,
    195-198).
    """
    if ntokens is None:
        ntokens = F.size(tokens_col("text"))
    return (
        F.when(F.col("text").isNull(), F.lit("null_text"))
        .when(F.col("conv_id").isNull() | F.col("turn_idx").isNull(), F.lit("null_key"))
        .when(
            F.octet_length("text") > cfg.limits.max_text_bytes,
            F.lit(f"size_violation: text bytes > {cfg.limits.max_text_bytes}"),
        )
        .when(
            ntokens > cfg.limits.max_tokens_per_turn,
            F.lit(f"limit_error: Limit of tokens [{cfg.limits.max_tokens_per_turn}] has been exceeded"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def stage_validated(transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """One-pass enrichment: original columns + doclen + _error.

    Tokenization is the expensive scan-time expression (regexp over
    text); staging it ONCE means validation, doc stats, and the doc
    store all reuse the same pass instead of re-tokenizing (the build
    profile showed 3 redundant tokenize scans without this)."""
    return transcripts.withColumn(
        "doclen", F.size(tokens_col("text"))
    ).withColumn("_error", _error_col(cfg, ntokens=F.col("doclen")))


def badrows_from(checked: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Dead-letter rows from a validated frame (has _error column)."""
    # payload echo trimmed to maxSize/10 like BadRowsSerializer.scala:32-40
    trim = cfg.limits.max_text_bytes // 10
    return checked.filter(F.col("_error").isNotNull()).select(
        F.base64(
            F.to_binary(
                F.concat_ws(
                    "\t",
                    F.coalesce(F.col("conv_id"), F.lit("")),
                    F.coalesce(F.col("turn_idx").cast("string"), F.lit("")),
                    F.substring(F.coalesce(F.col("text"), F.lit("")), 1, trim),
                ),
                F.lit("utf-8"),
            )
        ).alias("payload_b64"),
        F.col("_error").alias("error"),
        F.lit("prepare_documents").alias("stage"),
        F.col("ts").alias("ts"),
    )


def split_good_bad(transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> PreparedDocs:
    """Validate and split. Returns (good transcripts, badrows table)."""
    checked = transcripts.withColumn("_error", _error_col(cfg))
    good = checked.filter(F.col("_error").isNull()).drop("_error")
    return PreparedDocs(good, badrows_from(checked, cfg))


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """Idempotent indexing on the natural key (E3 analog).

    Keep the earliest-ts row per (conv_id, turn_idx); deterministic
    tiebreak on text so re-runs and re-deliveries converge.
    """
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("text")
    )
    return (
        transcripts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _rank_key_col() -> Column:
    """(conv_id, turn_idx) as one lexicographically-sortable string:
    conv_id + NUL + zero-padded turn_idx."""
    return F.concat_ws(
        "\x00", F.col("conv_id"), F.lpad(F.col("turn_idx").cast("string"), 10, "0")
    )


def _rowgroup_sample_cuts(files: list[str], num_ranges: int) -> list[str] | None:
    """Quantile cuts from a DRIVER-SIDE pyarrow read of a few row
    groups' conv_id column — the non-clustered-files replacement for
    the boundary-sampling Spark job (a full corpus pass that dominated
    the id_offsets stage). Reads O(sampled row groups) bytes in
    milliseconds, deterministically (fixed file/row-group choice).

    Cut QUALITY only affects load balance, never ranks: bucket identity
    is "count of cuts <= key", and duplicate keys land on the same side
    of every value cut, which is all the dedup-fused ranking needs. A
    shuffled writer scatters conv_ids uniformly across files, so even
    two files' row groups estimate global quantiles well; a clustered
    writer takes the exact per-file-max path instead of this one."""
    try:
        import pyarrow.parquet as pq

        step = max(1, len(files) // 16)
        vals: list = []
        for path in files[::step][:16]:
            pf = pq.ParquetFile(path)
            for rg in range(min(2, pf.metadata.num_row_groups)):
                col = pf.read_row_group(rg, columns=["conv_id"]).column(0)
                # STRIDE across the whole row group, never truncate to
                # its head: a shuffled writer scatters rows across
                # files but preserves each source partition's order
                # WITHIN a file, so the first N rows of a row group
                # cover only the lowest conv_ids (measured: head-
                # truncated quantiles put 78% of the 5.76M-turn bench
                # corpus in one bucket; strided cuts balance it).
                # ceiling stride: a floor stride + [:20000] truncation
                # would drop the strided list's TAIL — the file's
                # highest conv_ids — shifting every quantile low
                # (measured: the last bucket swallowed 14% of rows).
                # The stride is applied INSIDE Arrow (take on indices)
                # before any Python object exists: to_pylist() on the
                # full row group materialized ~1M Python strings per
                # read — seconds of parallelism-independent driver
                # time charged to the id_offsets stage at EVERY core
                # count (an Amdahl constant the N-vs-4N ratio pays
                # twice).
                import pyarrow as pa

                n_rg = len(col)
                stride = max(1, -(-n_rg // 20000))
                vals.extend(
                    col.take(pa.array(range(0, n_rg, stride), type=pa.int64())).to_pylist()
                )
            if len(vals) >= 100000:
                break
        if len(vals) < 4 * num_ranges:
            return None
        vals.sort()
        cuts = sorted(
            {vals[len(vals) * i // num_ranges] for i in range(1, num_ranges)}
        )
        return cuts or None
    except Exception:
        return None


def _footer_cuts(df: DataFrame, num_ranges: int) -> list[str] | None:
    """Range-boundary cuts from parquet FOOTER statistics — a driver-
    side metadata read (milliseconds), replacing the boundary-sampling
    Spark job entirely when the source is a local parquet scan with
    conv_id min/max stats. Boundary QUALITY only affects load balance,
    never the ranks themselves (bucket identity is value-derived), so
    file-granularity cuts are safe."""
    files = _bare_parquet_files(df)
    if not (files and 1 < len(files) <= 4096):
        return None
    try:
        import pyarrow.parquet as pq

        maxes = []
        mins = []
        for path in files:
            md = pq.ParquetFile(path).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if "conv_id" not in idx:
                return None
            col_max = None
            col_min = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["conv_id"]).statistics
                if st is None or not st.has_min_max:
                    return None
                m = st.max
                col_max = m if col_max is None or m > col_max else col_max
                mn = st.min
                col_min = mn if col_min is None or mn < col_min else col_min
            if col_max is None:
                return None
            maxes.append(col_max)
            mins.append(col_min)
    except Exception:
        return None
    # Shuffled writers give every file ~the full key range: all maxes
    # sort near the GLOBAL max, the cut set collapses to the top of the
    # key space, and one bucket swallows the corpus — measured on the
    # 5.76M-turn bench corpus as 5,762,077 of 5,762,400 rows in bucket
    # 0, i.e. a single-task rank window + doc-store write at any core
    # count (the r4 clean-window docstore regression). The cut-COUNT
    # guard below can't see this (8 shuffled files still yield 7
    # distinct maxes). Range-clustered files have mostly disjoint
    # [min, max] intervals; require that before trusting footer cuts.
    iv = sorted(zip(mins, maxes))
    overlapping = sum(1 for i in range(1, len(iv)) if iv[i][0] < iv[i - 1][1])
    if overlapping > len(iv) // 4:
        return _rowgroup_sample_cuts(files, num_ranges)
    maxes = sorted(set(maxes))[:-1]  # last max needs no cut after it
    step = max(1, len(maxes) // max(num_ranges - 1, 1))
    # cut strictly ABOVE the file's max conv_id: key = conv_id + NUL +
    # padded idx, and NUL sorts below \x01, so max+"\x01" splits between
    # conv ids without ever splitting one conversation's turns
    cuts = [m + "\x01" for m in maxes[::step]][: num_ranges - 1]
    if len(cuts) < max(1, (num_ranges - 1) // 4):
        # files are NOT range-clustered (a shuffled writer gives every
        # file ~the same max, collapsing the cut set): a near-empty cut
        # list would funnel the whole corpus through one rank-window
        # bucket — a single-task serial stage at any core count. Sample
        # conv_id quantiles driver-side from a few row groups instead of
        # paying a full boundary-sampling pass over the corpus (the
        # id_offsets stage's dominant cost); the Spark sampling path
        # remains the fallback when this returns None (e.g. tiny files,
        # single conv_id).
        return _rowgroup_sample_cuts(files, num_ranges)
    return cuts


def _bare_parquet_files(df: DataFrame) -> list[str] | None:
    """Local file paths of ``df``'s parquet input when its footers
    describe it: a bare scan, at most filtered or projected. Returns
    None for non-local or non-parquet sources and for plans whose rows
    are not the files' rows. Walks the analyzed tree for the offending
    NODES (nodeName, never the pretty-printed string — a column named
    e.g. joinDate would false-positive there and silently disable the
    footer reads):

    - Join: ``inputFiles()`` returns the other side's files too (e.g.
      the streaming cross-batch anti-join probe would hand back the
      DOCUMENTS table's footers for the batch);
    - Union and Generate: they can emit more rows than the files hold,
      so a footer total would no longer be an upper bound."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if any(n in node.nodeName() for n in ("Join", "Union", "Generate")):
                return None
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        files = df.inputFiles()
    except Exception:
        return None
    if not all(
        f.endswith(".parquet") and (f.startswith("file:") or f.startswith("/"))
        for f in files
    ):
        return None
    return [f[len("file:"):] if f.startswith("file:") else f for f in files]


def footer_row_count(df: DataFrame) -> int | None:
    """Total row count of a bare parquet scan from its file footers — a
    driver-side metadata read, no Spark job. Returns None where the
    footers do not bound the rows (``_bare_parquet_files``). Callers
    use it as an UPPER bound to size ``assign_doc_ids``'s boundary
    sample (downstream filters only shrink the input; bounds only
    affect sample sizing and bucket count, never ranks)."""
    files = _bare_parquet_files(df)
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(path).metadata.num_rows for path in files)
    except Exception:
        return None


def _steer_tokens(spark, nb: int) -> list[int] | None:
    """bucket -> integer steering token such that Spark's hash
    partitioner maps each token to a DISTINCT partition of nb.

    ``repartition(nb, _bucket)`` murmur3-hashes the bucket id, and
    balls-in-bins leaves ~1/e of the nb partitions empty while stacking
    2-3 buckets on others — the rank-window stage then runs as one wave
    with a 2-3x straggler at high core counts (measured: task_max 1.81
    vs mean 1.37 on the doc-store reduce). Steering through a token with
    a collision-free hash makes the exchange bucket-per-partition: the
    stage packs perfectly at any core count, which is exactly the
    executors-times-slots shape the N->4N scaling rule measures.

    Tokens come from ONE metadata-sized Spark job (range over a few
    hundred ints, collect of (id, pmod(hash(id), nb))) so the exact JVM
    murmur3 is used rather than a python reimplementation; memoized per
    (session, nb). Returns None if the candidate pool somehow misses a
    partition (caller falls back to hashing the bucket id directly)."""
    key = (id(spark._jsparkSession), nb)
    got = _STEER_CACHE.get(key)
    if got is not None:
        return got
    rows = (
        spark.range(0, max(256, nb * 16))
        .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(nb)).alias("p"))
        .collect()
    )
    by_p: dict[int, int] = {}
    for r in rows:
        by_p.setdefault(int(r["p"]), int(r["id"]))
    out = [by_p[p] for p in range(nb)] if len(by_p) == nb else None
    _STEER_CACHE[key] = out
    return out


_STEER_CACHE: dict[tuple[int, int], list[int] | None] = {}


def assign_doc_ids(
    transcripts: DataFrame,
    num_ranges: int | None = None,
    seed: int = 42,
    dedup: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Dense doc_id = global rank over (conv_id, turn_idx).

    Scalable two-pass pattern with *explicit* range boundaries:
    ``repartitionByRange`` is NOT used because its boundary sampling is
    re-drawn per execution — two jobs over the same plan (the
    offsets-count and the id-assign pass) can see different partition
    contents unless a cache happens to hold. Instead we:

    1. sample keys once, collect boundaries driver-side (deterministic
       for the life of this call; ranks are invariant to the boundary
       choice anyway);
    2. bucket rows by value (count of boundaries <= key) — bucket
       identity lives in the DATA, so any recomputation agrees;
    3. aggregate rows to a NARROW key table (one row per key, count
       only); per-bucket key counts -> cumulative offsets;
    4. rank KEYS per bucket (a window over ~40-byte rows, steered one
       bucket per shuffle partition): doc_id = offset + rank - 1;
    5. hash-join ids back to the full rows (SHUFFLE_HASH — the build
       side is the per-partition slice of the key table, so nothing
       wide is ever sorted), then re-cluster by bucket and sort each
       partition by the int64 doc_id for the range-pruned doc-store
       file layout downstream readers depend on.

    The r4 rewrite: the previous shape ranked the FULL rows under a
    per-bucket window, which planned a corpus-wide Tungsten sort of
    (key string, ts, text) plus window evaluation over the wide rows —
    measured as the dominant, worst-scaling phase of the doc-store
    stage (this guest's memory path delivers ~2x, not 4x, from 2->8
    cores on sort/window work; see BASELINE.md). Now the only
    corpus-wide sort left is an int64 radix sort for file clustering;
    everything wide moves through hash exchanges only. At 10^12 turns
    the key table is ~2% of corpus bytes, and the join build side per
    task is bounded by (#keys / shuffle partitions) — size partitions
    so it stays ~tens of MB.

    No global single-partition stage; every pass is fully parallel.
    Output is identical at any parallelism level.

    ``dedup=True`` keeps the earliest row per natural key (E3
    idempotency — the same contract as dedup_turns): rows whose key
    count is 1 stream through a filter; the rare duplicated keys
    resolve to exactly one row by a window over only their rows
    (already clustered by the join's hash partitioning — no extra
    exchange), ordered (ts asc nulls last, text asc nulls last) with
    the remaining orderable columns as a deterministic full-tie break.
    Bucket offsets count DISTINCT keys.

    Everything is JVM-side (no Python workers in this path): bucket
    assignment is a count of boundaries <= key over a literal array
    (O(#buckets) per row, vectorized in codegen; a range join replaces
    it when #buckets grows past a few thousand).
    """
    spark = transcripts.sparkSession
    ranges_defaulted = num_ranges is None
    if num_ranges is None:
        # well past the core count: the per-bucket rank window is the
        # build's only corpus-wide sort, and with num_ranges == cores it
        # ran as one wave of core-count tasks (at 2 cores: a 2-task,
        # near-serial 20 s stage). Ranks are invariant to the boundary
        # choice, so more/smaller buckets only add parallelism.
        num_ranges = max(4 * spark.sparkContext.defaultParallelism, 32)
    df = transcripts.withColumn("_key", _rank_key_col())
    cuts = _footer_cuts(transcripts, num_ranges)
    if cuts is None:
        # n only sizes the boundary sample (and the bucket cap below);
        # callers that already know the row count — or an UPPER bound
        # on it, e.g. a parquet-footer total before filters — pass it
        # to avoid a driver-synchronized count() job (Amdahl at build
        # time). Over-estimates only make the sample/fan-out richer,
        # never change ranks. A bound of 0 counts as unknown, like
        # None: a row that exists must never get a NULL doc_id.
        n = n_rows or df.count()
        if n == 0:
            return transcripts.withColumn("doc_id", F.lit(None).cast("long"))
        # Ranks are invariant to the boundary choice, so bucket count is
        # parallelism only — and a small input (a streaming micro-batch,
        # a single-file contract corpus) pays ~num_ranges near-empty
        # tasks per stage in pure scheduling overhead, then writes
        # num_ranges tiny files. When the caller left num_ranges to us,
        # cap buckets so each holds at least _RANK_ROWS_PER_BUCKET rows;
        # explicit callers keep exactly what they asked for. Large
        # inputs keep the full 4x-cores fan-out (5.76M turns / 20k >>
        # 128 locally), so the big-build path is numerically AND
        # structurally unchanged.
        if ranges_defaulted:
            num_ranges = max(1, min(num_ranges, n // _RANK_ROWS_PER_BUCKET or 1))
        if num_ranges > 1:
            frac = min(1.0, (40.0 * num_ranges) / float(n))
            sample = sorted(
                r["_key"] for r in df.select("_key").sample(frac, seed=seed).collect()
            )
            cuts = sorted(
                {sample[int(len(sample) * i / num_ranges)] for i in range(1, num_ranges)}
            ) if sample else []
        else:
            cuts = []

    if cuts:
        blit = F.array(*[F.lit(c) for c in cuts])
        bucket_col = F.size(F.filter(blit, lambda b: b <= F.col("_key")))
    else:
        bucket_col = F.lit(0)
    bucketed = df.withColumn("_bucket", bucket_col)

    base_cols = [f.name for f in transcripts.schema.fields]
    has_tie = {"ts", "text"} <= set(base_cols)

    # ---- narrow key table: one row per (_bucket, _key) ----
    # Count only — the dedup survivor is NOT aggregated here (a
    # min(struct(ts, text)) would carry full text bytes per key through
    # the aggregate's exchange, i.e. a second corpus-wide wide shuffle;
    # measured 2x+ absolute build regression). Survivors are picked by
    # the tiny duplicate-keys window after the id join instead.
    keys = bucketed.groupBy("_bucket", "_key").agg(
        F.count(F.lit(1)).alias("_n")
    )

    if cuts:
        # keys feeds two consumers (the counts job and the rank pass):
        # pin it for the duration of the call
        keys = keys.persist()
        counts = keys.groupBy("_bucket").agg(
            (F.count(F.lit(1)) if dedup else F.sum("_n")).alias("n")
        ).collect()
        if not counts:
            # zero rows (e.g. every row of a redelivered micro-batch was
            # anti-joined away): create_map() with no entries is untyped
            # and fails analysis, so short-circuit to an empty result
            return transcripts.filter(F.lit(False)).withColumn(
                "doc_id", F.lit(None).cast("long")
            )
        offsets: dict[int, int] = {}
        acc = 0
        for row in sorted(counts, key=lambda r: r["_bucket"]):
            offsets[int(row["_bucket"])] = acc
            acc += int(row["n"])
    else:
        # single bucket: the counts job's only consumer is the offset
        # table, and a lone bucket's offset is 0 by definition — skip
        # the driver-synchronized job AND the persist (keys now has
        # exactly one consumer). An empty input flows through to an
        # empty result with the same (base_cols + doc_id) schema the
        # zero-rows short-circuit above produces.
        offsets = {0: 0}
    off_map = F.create_map(
        *[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]
    )

    # ---- rank KEYS per bucket, one bucket per shuffle partition ----
    # The steering token is a bijection of _bucket whose murmur3 hash
    # lands each bucket in a distinct partition of nb — placement only
    # (ranks depend on bucket identity + key order, both unchanged),
    # but the exchange packs bucket-per-partition instead of stacking
    # 2-3 hash-colliding buckets on one straggler task.
    nb = len(cuts) + 1 if cuts else 1
    steer = _steer_tokens(spark, nb) if nb > 1 else None
    if steer is not None:
        smap = F.create_map(
            *[x for b, t in enumerate(steer) for x in (F.lit(b), F.lit(t))]
        )
        rk = keys.withColumn("_steer", smap[F.col("_bucket")]).repartition(
            nb, F.col("_steer")
        )
        part_col = "_steer"
    else:
        rk = keys
        part_col = "_bucket"
    wk = Window.partitionBy(part_col).orderBy(F.asc("_key"))
    ids = rk.withColumn("_dr", F.row_number().over(wk)).select(
        "_key",
        (off_map[F.col("_bucket")] + F.col("_dr") - 1).alias("doc_id"),
        "_n",
    )

    # ---- hash-join ids back to the rows; nothing wide is sorted ----
    joined = bucketed.join(ids.hint("SHUFFLE_HASH"), "_key")
    if dedup:
        # survivor = first row per duplicated key under (ts asc nulls
        # last, text asc nulls last) — dedup_turns' contract — with the
        # remaining orderable columns as a deterministic full-tie break.
        # The window runs over ONLY the duplicate keys' rows (already
        # clustered by the join's hash(_key) partitioning — no extra
        # exchange), and duplicates are the rare case, so its sort is
        # tiny; unique keys (the overwhelming majority) stream through
        # the filter untouched.
        order = (
            [F.asc_nulls_last("ts"), F.asc_nulls_last("text")] if has_tie else []
        ) + [
            F.col(f.name)
            for f in transcripts.schema.fields
            if f.name not in ("ts", "text")
            and f.dataType.typeName() not in ("array", "map", "struct", "binary")
        ]
        wd = Window.partitionBy("_key").orderBy(*(order or [F.lit(1)]))
        one = (
            joined.filter(F.col("_n") > 1)
            .withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        uniq = joined.filter(F.col("_n") == 1)
        out = uniq.unionByName(one.select(*uniq.columns))
    else:
        out = joined
    # ---- deterministic doc-id-clustered layout for the write ----
    # bucket == contiguous doc-id range, so steering buckets back to
    # partitions + an int64 in-partition sort re-creates the clustered
    # files downstream range readers prune on (SPIMI doc-range batches,
    # fetch-phase point reads) — without the old corpus-wide
    # (key string, ts, text) Tungsten sort, which was the doc-store
    # stage's dominant and worst-scaling phase.
    if steer is not None:
        out = out.withColumn("_steer", smap[F.col("_bucket")]).repartition(
            nb, F.col("_steer")
        )
    return out.sortWithinPartitions("doc_id").select(*base_cols, "doc_id")


def prepare_documents(
    transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> PreparedDocs:
    """Full doc-prep pipeline: split -> dedup -> doc ids -> shard date.

    The shard_date column is the analog of the reference's date-sharded
    index routing (core/Processing.scala:162-171, it/ShardingSpec.scala)
    — downstream tables partition on it, query side prunes on it.
    """
    staged = stage_validated(transcripts, cfg)
    bad = badrows_from(staged, cfg)
    good = staged.filter(F.col("_error").isNull()).drop("_error")
    # dedup (E3) fused into the doc-id grouped map: one shuffle total
    with_ids = assign_doc_ids(good, dedup=True)
    docs = with_ids.select(
        "doc_id",
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        "doclen",
        F.to_date(F.date_format("ts", cfg.shard_date_format)).alias("shard_date"),
    )
    return PreparedDocs(docs, bad)
