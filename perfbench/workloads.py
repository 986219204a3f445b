"""The `search` and `stream_load` workloads.

Each workload generates its inputs from the seed, then starts the set-up
clock, sets up, runs its unit op in a closed loop (one client, one op in
flight) for the requested seconds, and checks outputs after the timed
loop. The package is driven only through its public entry points with
the default ``EngineConfig``.

With tracing on, some ops are traced (every other one on `search`; see
``MIN_TRACED_STREAM_OPS`` for `stream_load`): spans are recorded around
the calls into each layer, and the remaining ops give the untraced
latency that ``trace.overhead_ratio`` compares against.
"""

from __future__ import annotations

import glob
import os
import resource
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from statistics import fmean

import numpy as np

from . import gen
from .spans import GROUP_PREFIX, Tracer, self_times, wrap_method

MASTER = "local[2]"
#: conversations in the `search` index (about 7k turns)
SEARCH_CONVS = 200
#: conversations per `stream_load` micro-batch (about 9.4k turns)
BATCH_CONVS = 260
#: conversations in the first warm-up batch: the cold first cycle pays
#: JVM and Python-worker start-up, which a small batch triggers as well
WARM_FIRST_CONVS = 40
#: single-query calls before the timed loop: the per-call part of an op
#: (``createDataFrame`` and ``collect``) gets faster over the first few
#: hundred calls of a session as the JVM compiles it
WARM_QUERIES = 200
#: `stream_load` runs at least this many ops, past the deadline if need be,
#: so its median and tail always rest on the same number of samples
MIN_STREAM_OPS = 2
#: a traced `stream_load` run traces op 0 and then ops 1-4 in the order
#: untraced, traced, traced, untraced: the index grows with every op, and
#: this order gives traced and untraced ops the same mean index size
MIN_TRACED_STREAM_OPS = 5
#: batch size of the vocabulary fill on `search`, well under the engine's
#: cap on blocks a coordinator-path call may gather
FILL_TERMS = 500
#: queries per `search` op, sent as one msearch call. A single-query
#: call is ~20 ms, most of it a per-call cost (Python-JVM round trips)
#: that swings by ~10 ms from run to run with the state of the host;
#: with 40 queries per call, scoring and ranking carry most of the op
QUERIES_PER_OP = 40
CHECKED_QUERIES = 40
K = 10
INDEX_TABLES = ("documents", "blocks", "termdict", "_badrows")


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    trace: bool
    event_log_dir: str | None = None
    #: the session once started; the caller stops it
    spark: object = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    #: ids of the traced ops, whose spans give the per-layer metrics
    trace_ops: list = field(default_factory=list)
    #: per-op latencies of the timed loop, in ms, written beside the spans
    samples: dict = field(default_factory=dict)
    #: `host_probe` just before and just after the timed loop
    host_probe_s: list = field(default_factory=list)


def start_session(ctx: Ctx):
    from snowplow_elasticsearch_loader_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData",
    }
    if ctx.event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = ctx.spark = get_spark(master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def read_table(path: str, columns: list[str]):
    """Parquet table under ``path`` read with pyarrow (hive partitions
    become columns)."""
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def write_input(pdf, path: str) -> None:
    """Write generated transcripts as the parquet a loader job reads,
    with microsecond UTC instants (the transcripts' TimestampType)."""
    pdf.assign(ts=pdf["ts"].astype("datetime64[us]").dt.tz_localize("UTC")).to_parquet(path, index=False)


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts if t is not None)


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def host_probe() -> float:
    """CPU seconds of a fixed pure-Python loop: a reading of how fast the
    host runs at the moment, recorded beside the result (not a metric)."""
    t = time.process_time()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.process_time() - t


def index_counts(path: str) -> dict:
    """Exact counts of a persisted index, read outside any timed region."""
    out = {f"index_store.bytes.{t}": dir_bytes(os.path.join(path, t)) for t in INDEX_TABLES}
    out["index_build.postings"] = int(
        np.asarray(read_table(os.path.join(path, "blocks"), ["doc_count"]).column(0)).sum()
    )
    out["index_build.termdict_rows"] = read_table(os.path.join(path, "termdict"), ["term"]).num_rows
    return out


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def _layer_sums(tracer: Tracer, op: str, names: tuple[str, ...]) -> dict[str, float]:
    spans = tracer.op_spans(op)
    st = self_times(spans)
    return {n: sum(st[s.sid] for s in spans if s.name == n) for n in names}


def _span_counts(tracer: Tracer, op: str, name: str, key: str) -> int:
    return sum(s.counts.get(key, 0) for s in tracer.op_spans(op) if s.name == name)


def _jobs_in_op(sc, tracer: Tracer, op: str) -> int:
    st = sc.statusTracker()
    return sum(len(st.getJobIdsForGroup(f"{GROUP_PREFIX}{s.sid}")) for s in tracer.op_spans(op))


def _oracle_check(engine_rows, oracle_ranked, tol: float = 2e-6) -> bool:
    """Engine top-k rows [(rank, doc_id, score)] against the oracle's
    ranked list (which runs past k so ties at the cut can be checked).
    Docs whose scores tie within ``tol`` may come in either order."""
    got = sorted(engine_rows)
    want = oracle_ranked[: len(got)]
    if len(got) != min(K, len(oracle_ranked)):
        return False
    oracle_score = {d: s for _, d, s in oracle_ranked}
    for (_, gd, gs), (_, wd, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
        if gd != wd and abs(oracle_score.get(gd, float("inf")) - gs) > tol:
            return False
    return len({d for _, d, _ in got}) == len(got)


def _oracle(index_dir: str):
    from oracle.bm25 import OracleIndex

    docs = read_table(os.path.join(index_dir, "documents"), ["doc_id", "text"]).to_pydict()
    return OracleIndex(list(zip(docs["doc_id"], docs["text"])))


# --------------------------------------------------------------------------
# search


def run_search(ctx: Ctx) -> Outcome:
    from snowplow_elasticsearch_loader_spark.config import EngineConfig
    from snowplow_elasticsearch_loader_spark.index_store import build_index
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine

    over = EngineConfig().limits.max_tokens_per_turn + 1
    corpus, expect = gen.bulk_corpus(ctx.seed, SEARCH_CONVS, over)
    corpus_path = os.path.join(ctx.work, "corpus.parquet")
    write_input(corpus, corpus_path)
    warm_qs = gen.queries(gen.rng_for(ctx.seed, 3), WARM_QUERIES)
    qs = gen.queries(gen.rng_for(ctx.seed, 4), (int(ctx.seconds * 50) + 10) * QUERIES_PER_OP)
    marker_q = " ".join(expect["marker"])
    index_dir = os.path.join(ctx.work, "search-index")
    tracer = Tracer()
    out = Outcome(tracer=tracer)

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(ctx)
    if ctx.trace:
        tracer._sc = spark.sparkContext
    df = spark.read.parquet(corpus_path)
    t_handoff = time.perf_counter()
    with tracer.span("index_store.build"):
        idx = build_index(spark, df, index_dir)
    with tracer.span("query_engine.open"):
        qe = QueryEngine(idx, warm=True, cache_blocks=True)
    marker_rows = qe.search([("marker", marker_q)], k=K).collect()
    fresh = time.perf_counter() - t_handoff

    def count_lookup(s, args, kwargs, res):
        s.counts["terms"] = len(res)

    def count_fetch(s, args, kwargs, res):
        s.counts["blocks"] = len(res)
        s.counts["terms"] = len(args[2])

    def count_score(s, args, kwargs, res):
        s.counts["postings"] = int(sum(d[0].size for d in args[2]))

    # (method, span, counter, whether the call can start Spark jobs)
    wraps = (
        ("_lookup", "query_engine.lookup", count_lookup, False),
        ("_gather_blocks", "query_engine.fetch", count_fetch, False),
        ("_decode_frame", "codec.decode", None, False),
        ("_exact_topk_decoded", "wand.score", count_score, False),
        ("search", "query_engine.search", None, True),
    )

    # The decoded postings of the whole vocabulary take a few MB against
    # the 256 MB default cache, so a long-running server holds every term.
    # Set-up gets there with msearch calls that touch each term once: every
    # first-touch fetch and decode happens (and is timed) here, and the
    # timed loop runs on cache hits.
    tracer.op = "fill"
    restore = [wrap_method(QueryEngine, a, tracer, n, c, g) for a, n, c, g in wraps] if ctx.trace else []
    vocab = [*gen.HOT_TERMS, *gen.VOCAB, *expect["marker"]]
    for j in range(0, len(vocab), FILL_TERMS):
        qe.search([(f"t{n}", t) for n, t in enumerate(vocab[j : j + FILL_TERMS], j)], k=K).collect()
    for r in restore:
        r()
    for i, q in enumerate(warm_qs):
        qe.search([(f"w{i}", q)], k=K).collect()
    setup_s = time.perf_counter() - t_setup
    storage_mb = sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20

    lat, traced_lat, plain_lat, results = [], [], [], []
    out.host_probe_s.append(host_probe())
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    i = 0
    while time.perf_counter() < deadline and (i + 1) * QUERIES_PER_OP <= len(qs):
        traced = ctx.trace and i % 2 == 0
        batch = [(f"q{n}", qs[n]) for n in range(i * QUERIES_PER_OP, (i + 1) * QUERIES_PER_OP)]
        restore = []
        if traced:
            tracer.op = f"q{i}"
            restore = [wrap_method(QueryEngine, a, tracer, n, c, g) for a, n, c, g in wraps]
        ts = time.perf_counter()
        if traced:
            with tracer.span("op"):
                res = qe.search(batch, k=K)
                with tracer.span("query_engine.collect"):
                    rows = res.collect()
        else:
            rows = qe.search(batch, k=K).collect()
        dt = time.perf_counter() - ts
        for r in restore:
            r()
        lat.append(dt)
        (traced_lat if traced else plain_lat).append(dt)
        results.append(rows)
        i += 1
    window = time.perf_counter() - t0
    out.host_probe_s.append(host_probe())
    # before the checks, whose oracle holds every document in this process
    rss_mb = peak_rss_mb()

    # ---- output checks, outside every timed region ----
    docs = read_table(os.path.join(index_dir, "documents"), ["doc_id"]).num_rows
    bad = read_table(os.path.join(index_dir, "_badrows"), ["error"]).num_rows
    out.checks["doc_count"] = {"ok": docs == expect["docs"], "got": docs, "want": expect["docs"]}
    out.checks["badrow_count"] = {"ok": bad == expect["badrows"], "got": bad, "want": expect["badrows"]}
    out.checks["marker_rank1"] = {
        "ok": any(r["rank"] == 1 and r["query_id"] == "marker" for r in marker_rows)
        and len(marker_rows) == 1
    }
    oracle = _oracle(index_dir)
    by_q: dict[str, list] = {}
    for rows in results:
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    n_q = len(results) * QUERIES_PER_OP
    sample = sorted(gen.rng_for(ctx.seed, 5).choice(n_q, size=min(CHECKED_QUERIES, n_q), replace=False))
    bad_q = [j for j in sample if not _oracle_check(by_q.get(f"q{j}", []), oracle.search(qs[j], k=K + 20))]
    out.checks["oracle_top10"] = {"ok": not bad_q, "checked": len(sample), "mismatched": [qs[j] for j in bad_q]}
    # an op fails when any of its queries does
    out.attempted, out.failed = len(results), len({j // QUERIES_PER_OP for j in bad_q})

    counts = index_counts(index_dir)
    ms = [_ms(x) for x in lat]
    out.samples = {"op_ms": ms}
    out.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": float(np.median(ms)),
        "op_p90_ms": float(np.percentile(ms, 90)),
        "items_per_s": n_q / window,
        "fresh_p50_ms": _ms(fresh),
        "index_bytes_per_input_byte": dir_bytes(index_dir) / text_bytes(corpus["text"]),
        "peak_rss_mb": rss_mb,
    }
    if ctx.trace:
        stage = idx.build_stage_sec
        names = ("query_engine.lookup", "query_engine.fetch", "codec.decode", "wand.score",
                 "query_engine.search", "query_engine.collect", "op")
        ops = [f"q{j}" for j in range(0, len(results), 2)]
        per_op = {op: _layer_sums(tracer, op, names) for op in ops}
        fill = _layer_sums(tracer, "fill", names)

        def per_op_mean(fn):
            return fmean(fn(op) for op in ops)

        look = sum(_span_counts(tracer, op, "query_engine.lookup", "terms") for op in ops)
        miss = sum(_span_counts(tracer, op, "query_engine.fetch", "terms") for op in ops)
        out.layers = {
            "query_engine.lookup_ms": per_op_mean(lambda op: _ms(per_op[op]["query_engine.lookup"])),
            # first touches, all in the set-up cache fill: totals over the fill
            "query_engine.fetch_ms": _ms(fill["query_engine.fetch"]),
            "query_engine.blocks_fetched": _span_counts(tracer, "fill", "query_engine.fetch", "blocks"),
            "codec.decode_ms": _ms(fill["codec.decode"]),
            "wand.score_ms": per_op_mean(lambda op: _ms(per_op[op]["wand.score"])),
            "wand.postings_scored": per_op_mean(lambda op: _span_counts(tracer, op, "wand.score", "postings")),
            "query_engine.materialize_ms": per_op_mean(lambda op: _ms(per_op[op]["query_engine.search"] + per_op[op]["query_engine.collect"])),
            "query_engine.cache_hit_ratio": 1.0 - miss / look if look else 0.0,
            "query_engine.open_s": _setup_span(tracer, "query_engine.open"),
            "session.start_s": _setup_span(tracer, "session.start"),
            "spark.storage_mb": storage_mb,
            "spark.jobs_per_op": per_op_mean(lambda op: _jobs_in_op(spark.sparkContext, tracer, op)),
            "docs.staging_s": stage.get("staging_write", 0.0),
            "docs.badrows_s": stage.get("badrows_write", 0.0),
            "docs.doc_ids_s": stage.get("id_offsets", 0.0),
            "index_store.docstore_s": stage.get("docstore_write", 0.0),
            "index_build.blocks_s": stage.get("blocks_write", 0.0),
            "index_build.termdict_s": stage.get("termdict_write", 0.0),
            **counts,
            "unattributed_ms": per_op_mean(lambda op: _ms(per_op[op]["op"])),
            "trace.overhead_ratio": float(np.median(traced_lat) / np.median(plain_lat)) if plain_lat else 0.0,
        }
        out.trace_ops = ops
    return out


def _setup_span(tracer: Tracer, name: str) -> float:
    return next(s.dur for s in tracer.spans if s.name == name and s.op == "setup")


# --------------------------------------------------------------------------
# stream_load


def run_stream_load(ctx: Ctx) -> Outcome:
    from snowplow_elasticsearch_loader_spark.config import EngineConfig
    from snowplow_elasticsearch_loader_spark.operators.query_engine import QueryEngine
    from snowplow_elasticsearch_loader_spark.streaming.stream_build import (
        finalize_streamed_index,
        process_stream_batch,
    )

    over = EngineConfig().limits.max_tokens_per_turn + 1
    # the first op cycle of a session is cold (~3x slower) and the next
    # ones keep speeding up by a few percent each
    n_warm = 2
    # inputs for ops down to 2.5 s each; a loop that runs out of them
    # stops early and reports its rates over the time it ran
    min_ops = MIN_TRACED_STREAM_OPS if ctx.trace else MIN_STREAM_OPS
    n_max = n_warm + max(min_ops, int(ctx.seconds / 2.5) + 1)
    files, expects, prev = [], [], None
    for b in range(n_max):
        # warm-up batches use their own batch numbers, so their inputs and
        # markers never coincide with the measured stream's
        bno = 1000 + b if b < n_warm else b - n_warm
        convs = WARM_FIRST_CONVS if b == 0 else BATCH_CONVS
        pdf, exp = gen.stream_batch(ctx.seed, bno, convs, over, None if b == n_warm else prev)
        path = os.path.join(ctx.work, f"batch-{b}.parquet")
        write_input(pdf, path)
        files.append(path)
        exp["turns"] = len(pdf)
        exp["text_bytes"] = text_bytes(pdf["text"])
        expects.append(exp)
        prev = pdf
    probe_qs = gen.queries(gen.rng_for(ctx.seed, 6), 3)
    tracer = Tracer()
    out = Outcome(tracer=tracer)

    def cycle(spark, b: int, batch_id: int, index_dir: str, op: str, traced: bool) -> dict:
        """Hand one micro-batch to the loader, then wait until it is
        searchable: refresh, open an engine, and probe with one msearch
        call and one match_phrase call."""
        tracer.op = op
        marker = " ".join(expects[b]["marker"])
        df = spark.read.parquet(files[b])
        span = tracer.span if traced else (lambda name: nullcontext())
        t0 = time.perf_counter()
        with span("op"):
            with span("stream_build.commit"):
                process_stream_batch(spark, df, batch_id, index_dir)
            t_ack = time.perf_counter()
            with span("stream_build.refresh"):
                idx = finalize_streamed_index(spark, index_dir)
            with span("query_engine.open"):
                t_open = time.perf_counter()
                qe = QueryEngine(idx, warm=True)
                open_s = time.perf_counter() - t_open
            with span("wand.msearch"):
                hits = qe.search(
                    [("marker", marker)] + [(f"z{j}", q) for j, q in enumerate(probe_qs)], k=K
                ).collect()
            with span("phrase.phrase"):
                phr = qe.search_phrase([("marker", marker)], k=K).collect()
        t_end = time.perf_counter()
        ok = all(
            any(r["query_id"] == "marker" and r["rank"] == 1 for r in rows)
            and sum(r["query_id"] == "marker" for r in rows) == 1
            for rows in (hits, phr)
        )
        return {"ack": t_ack - t0, "fresh": t_end - t0, "open": open_s, "ok": ok}

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(ctx)
    warm_dir = os.path.join(ctx.work, "stream-warm")
    warm = [cycle(spark, b, b, warm_dir, "warm", False) for b in range(n_warm)]
    setup_s = time.perf_counter() - t_setup
    if ctx.trace:
        tracer._sc = spark.sparkContext

    index_dir = os.path.join(ctx.work, "stream-index")
    runs, first_counts = [], None
    out.host_probe_s.append(host_probe())
    deadline = time.perf_counter() + ctx.seconds
    b = n_warm
    while (time.perf_counter() < deadline or b < n_warm + min_ops) and b < n_max:
        op = b - n_warm
        traced = ctx.trace and (op == 0 or op % 4 in (2, 3))
        res = cycle(spark, b, op, index_dir, f"b{op}", traced)
        res["traced"] = traced
        runs.append(res)
        if first_counts is None:
            # exact index sizes after the first op: the same for every run
            # of a seed, however many ops fit in the window
            first_counts = index_counts(index_dir)
            first_counts["_bytes"] = dir_bytes(index_dir)
        b += 1
    n_ops = len(runs)
    # the time the ops ran, without the index counts taken between them
    window = sum(r["fresh"] for r in runs)
    out.host_probe_s.append(host_probe())
    # before the checks read the index into this process
    rss_mb = peak_rss_mb()

    # ---- output checks, outside every timed region ----
    keys = read_table(os.path.join(index_dir, "documents"), ["conv_id", "turn_idx"]).to_pandas()
    want_docs = sum(expects[n_warm + j]["new_docs"] for j in range(n_ops))
    want_bad = sum(expects[n_warm + j]["badrows"] for j in range(n_ops))
    bad = read_table(os.path.join(index_dir, "_badrows"), ["error"]).num_rows
    out.checks["doc_count"] = {"ok": len(keys) == want_docs, "got": len(keys), "want": want_docs}
    dup = int(keys.duplicated().sum())
    out.checks["no_redelivered_twice"] = {"ok": dup == 0, "duplicates": dup}
    out.checks["badrow_count"] = {"ok": bad == want_bad, "got": bad, "want": want_bad}
    failed_markers = [j for j, r in enumerate(runs) if not r["ok"]]
    out.checks["marker_rank1"] = {"ok": not failed_markers and all(w["ok"] for w in warm), "failed_ops": failed_markers}
    out.attempted, out.failed = n_ops, len(failed_markers)

    acks = [_ms(r["ack"]) for r in runs]
    out.samples = {"op_ms": acks, "fresh_ms": [_ms(r["fresh"]) for r in runs]}
    first_input = expects[n_warm]["text_bytes"]
    out.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": float(np.median(acks)),
        "op_p90_ms": float(np.percentile(acks, 90)),
        "items_per_s": sum(expects[n_warm + j]["turns"] for j in range(n_ops)) / window,
        "fresh_p50_ms": float(np.median([_ms(r["fresh"]) for r in runs])),
        "index_bytes_per_input_byte": first_counts["_bytes"] / first_input,
        "peak_rss_mb": rss_mb,
    }
    if ctx.trace:
        names = ("op", "stream_build.commit", "stream_build.refresh", "query_engine.open",
                 "wand.msearch", "phrase.phrase")
        ops = [f"b{j}" for j, r in enumerate(runs) if r["traced"]]
        per_op = {op: _layer_sums(tracer, op, names) for op in ops}

        def per_op_mean(key):
            return fmean(_ms(per_op[op][key]) for op in ops)

        # whole untraced-traced-traced-untraced groups from op 1 on
        paired = runs[1 : 1 + (n_ops - 1) // 4 * 4]
        traced = [r["fresh"] for r in paired if r["traced"]]
        plain = [r["fresh"] for r in paired if not r["traced"]]
        first_counts.pop("_bytes")
        out.layers = {
            "query_engine.open_s": float(np.median([w["open"] for w in warm])),
            "session.start_s": _setup_span(tracer, "session.start"),
            "spark.storage_mb": sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20,
            "spark.jobs_per_op": fmean(_jobs_in_op(spark.sparkContext, tracer, op) for op in ops),
            **first_counts,
            "stream_build.commit_ms": per_op_mean("stream_build.commit"),
            "stream_build.refresh_ms": per_op_mean("stream_build.refresh"),
            "query_engine.open_ms": per_op_mean("query_engine.open"),
            "wand.msearch_ms": per_op_mean("wand.msearch"),
            "phrase.phrase_ms": per_op_mean("phrase.phrase"),
            "unattributed_ms": per_op_mean("op"),
            "trace.overhead_ratio": fmean(traced) / fmean(plain) if plain else 0.0,
        }
        out.trace_ops = ops
    return out


WORKLOADS = {"search": run_search, "stream_load": run_stream_load}
