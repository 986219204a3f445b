"""SparkSession construction for the engine.

Tuned for the design target (1000-executor cluster over ~100 TB) while
testable on local[N]: AQE on (runtime coalescing + skew-join handling),
Arrow enabled for every pandas UDF exchange, UTC session time so date
sharding (reference core/Processing.scala:162-171 analog) is
deterministic across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Allocator environment for Python processes.
#
# pyarrow's DEFAULT memory pool (jemalloc) cost 10-40 s of pure KERNEL
# time per fresh worker process on the first pandas-UDF group and
# degraded further with worker concurrency (madvise/THP-compaction
# churn): the r02 build ran SLOWER on 8 cores than 2 purely from this.
# Measured on the SPIMI range builder (32k-doc group, 8 workers pinned
# to 8 CPUs): jemalloc cold 38 s -> system pool cold 1-5 s, warm calls
# ~1 s either way; mimalloc collapses identically to jemalloc at 8-way.
#
# The matching glibc knobs (mmap threshold pinned to 64 MB, trim
# disabled, so the big posting arrays stay in the arena between groups)
# must reach ONLY Python processes: exporting MALLOC_*_ env vars here
# poisons the JVM, which inherits the driver's environment — the two
# vars combined made JVM-side queries 20-30x slower (measured: the
# naive-BM25 job 7.5 s -> 150-210 s). They are therefore applied via
# mallopt(3) inside daemon.py (pre-fork, inherited by workers through
# fork) and in _apply_alloc_env for the driver process itself — never
# through the environment.
_WORKER_ALLOC_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": "system",  # read by pyarrow only; JVM-safe
}


def apply_malloc_tuning() -> None:
    """Tune THIS process's glibc via mallopt(3): never trim freed space
    back to the OS, and never allocate through mmap at all
    (M_MMAP_MAX=0) — freed space then stays faulted-in on the brk heap
    and is reused by the next pandas-UDF group with ZERO page faults.

    Why the threshold alone was not enough (r04 root-cause): with only
    M_MMAP_THRESHOLD raised, one early mmap landing above the program
    break makes every later brk extension fail, silently flipping ALL
    large allocations to mmap/munmap cycles; each munmap returns pages
    to this guest's free-page-reporting kernel and the next group
    re-faults them at ~0.4 ms/fault under 8-way concurrency — measured
    298 s of pure kernel time in the block-emit phase per 44-group run
    of the per-range block builder in 8 plain worker processes (outside
    Spark, per-phase user/kernel time splits), 0.0 s with mmap disabled
    (BASELINE.md, "Round-4 root cause"). Worker RSS then
    plateaus at its peak working set, which the SPIMI range cap bounds
    by construction.

    Process-local: children created with exec (the JVM) are unaffected.
    Set SPARK_GRAFT_MALLOC_MMAP_MAX to restore a nonzero mmap budget
    (e.g. on memory-constrained executors where RSS give-back matters
    more than fault latency)."""
    import ctypes

    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD, M_MMAP_MAX = -1, -3, -4
        libc.mallopt(M_MMAP_THRESHOLD, 67108864)
        libc.mallopt(M_TRIM_THRESHOLD, 2147483647)
        libc.mallopt(M_MMAP_MAX, int(os.environ.get("SPARK_GRAFT_MALLOC_MMAP_MAX", "0")))
    except Exception:
        pass


_ARENA_READY = False


def ensure_worker_arena() -> None:
    """Fault this worker process's glibc heap in ONE sequential pass,
    once, at its first REAL pandas-UDF group (called from the group
    builders). Without it the first group grows the heap incrementally
    (thousands of brk/fault cycles — measured 28 s cold vs 0.9 s warm
    per worker at 8-way on this free-page-reporting kernel); running it
    at fork time instead (the r02/r03 placement) paid the memset in
    every EPHEMERAL helper fork Spark makes per task/connection — 52
    forks per bench child for 8 working pids. One big
    malloc+memset+free warms the pages at sequential-zeroing speed;
    M_MMAP_MAX=0 + trim-off (apply_malloc_tuning, inherited from the
    daemon through fork) keep them in the arena for every later group."""
    global _ARENA_READY
    if _ARENA_READY:
        return
    _ARENA_READY = True
    mb = int(os.environ.get("SPARK_GRAFT_WORKER_PREFAULT_MB", "512"))
    if mb <= 0:
        return
    import ctypes
    import time as _t

    _t0 = _t.time()
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.malloc.restype = ctypes.c_void_p
        libc.malloc.argtypes = [ctypes.c_size_t]
        libc.free.argtypes = [ctypes.c_void_p]
        chunk = 32 * 1024 * 1024
        ptrs = []
        for _ in range(max(1, (mb * 1024 * 1024) // chunk)):
            p = libc.malloc(chunk)
            if not p:
                break
            ctypes.memset(p, 0, chunk)
            ptrs.append(p)
        for p in ptrs:
            libc.free(p)
    except Exception:
        pass
    if os.environ.get("SPARK_GRAFT_PREFAULT_LOG"):
        try:
            with open(os.environ["SPARK_GRAFT_PREFAULT_LOG"], "a") as fh:
                fh.write(f"{os.getpid()} prefault {_t.time() - _t0:.2f}\n")
        except Exception:
            pass


def _apply_alloc_env() -> None:
    """Arrow pool env for the driver + (via inheritance) every python
    worker; malloc tuning for the driver process in-memory only."""
    for k, v in _WORKER_ALLOC_ENV.items():
        os.environ.setdefault(k, v)
    apply_malloc_tuning()


def get_spark(
    master: str | None = None,
    app_name: str = "snowplow-elasticsearch-loader-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    _apply_alloc_env()
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(g)>0 AND
        # isnotnull(g)` below every explode, INLINING the generator
        # expression into the filter. For this engine's generators the
        # exploded array is always a DERIVED expression (tokenizer
        # regex, shingle windows, band structs, varint decode) that can
        # never reach parquet pushdown, and higher-order-function
        # lambdas are interpreted (no codegen subexpression
        # elimination), so the inferred filter re-evaluates the regex/
        # window work 2-3x per row — measured 1.76s -> 0.20s on the
        # 500-doc shingle explode and ~2x on postings builds (r6).
        # Excluding the rule never changes results: explode itself
        # drops empty/null arrays.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory, the analog of the
        # reference's 10MB batch flush (reference.conf:28).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # dynamic-partition writes (doc store partitioned by shard_date)
        # otherwise plan a full extra SORT of the written rows by
        # partition key per task; shard_date cardinality is tiny (days),
        # so concurrent open writers skip that sort entirely. Spark
        # falls back to the sort automatically if a task exceeds this.
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # v2 committer: tasks move their output files into place
        # themselves instead of the driver renaming every file serially
        # at job commit — the commit path scales with executors, which
        # is what the N->4N throughput-scaling target measures.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # cluster mode: ship the allocator env to executor-side python
    # workers too (local mode inherits it from _apply_alloc_env above)
    for k, v in _WORKER_ALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    # Preload-daemon: fork python workers from a daemon that has already
    # imported numpy/pandas/pyarrow + engine hot modules (COW page
    # sharing). Kills the measured ~20 s per-worker first-group cold
    # start that anti-scaled the r02 build (see daemon.py docstring).
    if os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD") != "1":
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if repo_root not in pp.split(os.pathsep):
            pp = repo_root + (os.pathsep + pp if pp else "")
        b = (
            b.config("spark.python.daemon.module", f"{__package__}.daemon")
            .config("spark.executorEnv.PYTHONPATH", pp)
        )
        # local mode: the worker factory resolves PYTHONPATH from the
        # JVM process env, which inherits the driver's — extend it here
        os.environ["PYTHONPATH"] = pp
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    from .shipping import ensure_shipped

    ensure_shipped(spark)
    return spark
